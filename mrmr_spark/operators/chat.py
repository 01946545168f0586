"""Chat-template rendering for SFT/RLHF training data: stable-ordered
multi-turn transcripts → one training string per conversation, plus the
per-turn character spans a trainer needs for loss masking.

This is the bridge from the engine's A-layer (transcripts with stable
(conv_id, turn_idx) ordering — the per-row invariant the north rule
mandates) to the curation/pack/shard layer: rendered conversations are
ordinary documents, so decontamination, dedup, quality filters, BPE
tokenization and chunk packing all compose downstream unchanged.

Template model: every turn renders as

    header_pre + role + header_post + text + footer

and a conversation is ``bos`` followed by its turns in stable order.
The default (``header="<|{role}|>\\n"``, ``footer="\\n<|end|>\\n"``) is the
generic special-token shape; any literal template with at most one
``{role}`` placeholder works, and both operators derive all offsets from
the SAME template constants, so spans are correct by construction for
any choice.

Scale: :func:`render_conversations` is ONE map-side-combined aggregation
keyed on the conversation (collect + array_sort + a higher-order render —
shuffle carries each conversation's turns exactly once, the same single
exchange the FE pipeline shares). :func:`turn_spans` never renders at
all — per-turn lengths are pure column arithmetic and the running offset
is one window over the conversation key (cost and partitioning identical
to the lag/rolling operators). Both are zero-Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_HEADER = "<|{role}|>\n"
DEFAULT_FOOTER = "\n<|end|>\n"
ASSISTANT_ROLE = "assistant"


def _split_template(header: str) -> tuple[str, str, bool]:
    """(prefix, suffix, has_role): a header without the placeholder renders
    the role NOWHERE (role-agnostic templates are legal; the span math
    makes the matching choice)."""
    if header.count("{role}") > 1:
        raise ValueError("header template may contain at most one {role} placeholder")
    if "{role}" in header:
        pre, post = header.split("{role}")
        return pre, post, True
    return header, "", False


def _turn_text(text_col: str) -> Column:
    return F.coalesce(F.col(text_col), F.lit(""))


def _turn_role(role_col: str) -> Column:
    return F.coalesce(F.col(role_col), F.lit(""))


def render_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] | list[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    header: str = DEFAULT_HEADER,
    footer: str = DEFAULT_FOOTER,
    bos: str = "",
    out_col: str = "text",
) -> DataFrame:
    """One row per conversation: ``(conv_col, out_col, n_turns)`` with the
    turns rendered in stable ``order_cols`` order (ties impossible when the
    order key is unique per conversation — the engine's stable-ordering
    contract; ``array_sort`` on the full struct breaks any residual tie by
    the remaining fields deterministically).

    NULL text/role render as empty strings (the span math in
    :func:`turn_spans` makes the same choice, so the two stay aligned).
    """
    pre, post, has_role = _split_template(header)
    turn = F.struct(
        *[F.col(c) for c in order_cols],
        _turn_role(role_col).alias("__role"),
        _turn_text(text_col).alias("__text"),
    )
    turns = F.array_sort(F.collect_list(turn))

    def _render(t):
        parts = [F.lit(pre)]
        if has_role:
            parts += [t["__role"], F.lit(post)]
        parts += [t["__text"], F.lit(footer)]
        return F.concat(*parts)

    rendered = F.concat(F.lit(bos), F.array_join(F.transform(turns, _render), ""))
    return df.groupBy(conv_col).agg(
        rendered.alias(out_col),
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
    )


def turn_spans(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] | list[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    header: str = DEFAULT_HEADER,
    footer: str = DEFAULT_FOOTER,
    bos: str = "",
    assistant_role: str = ASSISTANT_ROLE,
) -> DataFrame:
    """Per-turn character spans inside the :func:`render_conversations`
    output, WITHOUT rendering anything: appends

    - ``text_start`` / ``text_end`` — 0-based [start, end) span of the
      turn's text payload in the conversation string,
    - ``loss_mask`` — true iff ``role_col == assistant_role`` (the tokens a
      supervised-finetuning loss keeps),

    derived purely from template-constant lengths + one running-offset
    window over the conversation key. The invariant
    ``substring(rendered, text_start, len) == text`` holds for every turn
    (tested row-by-row and enforced by the gate oracle)."""
    pre, post, has_role = _split_template(header)
    role_len = (
        F.length(_turn_role(role_col)) + F.lit(len(post)) if has_role else F.lit(0)
    )
    text_len = F.length(_turn_text(text_col))
    turn_len = F.lit(len(pre)) + role_len + text_len + F.lit(len(footer))
    w = (
        Window.partitionBy(conv_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    turn_start = F.lit(len(bos)) + F.coalesce(F.sum(turn_len).over(w), F.lit(0))
    text_start = turn_start + F.lit(len(pre)) + role_len
    return (
        df.withColumn("text_start", text_start.cast("bigint"))
        .withColumn("text_end", (text_start + text_len).cast("bigint"))
        .withColumn("loss_mask", F.coalesce(F.col(role_col) == assistant_role, F.lit(False)))
    )


def token_loss_mask(
    df: DataFrame,
    merges: list[tuple[str, str]],
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] | list[str] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    header: str = DEFAULT_HEADER,
    footer: str = DEFAULT_FOOTER,
    bos: str = "",
    assistant_role: str = ASSISTANT_ROLE,
    split: str = " ",
    end_of_word: str | None = None,
) -> DataFrame:
    """The end of the SFT pipeline: per-TOKEN loss masks over the rendered
    conversation — ``(conv_col, tok_idx, token, tok_start, tok_end,
    loss_mask)``, one row per BPE token of each conversation's training
    string, ``tok_idx`` the 0-based position in the sequence a trainer
    consumes (so the mask vector is ``collect_list(loss_mask) over tok_idx``
    and packs through ``pack_documents``/``explode_chunks`` like any other
    per-token column).

    Masking rule (deterministic; the SQL oracle shares it):

    - a SURFACE token (``tok_start < tok_end``) is loss iff its character
      span lies ENTIRELY inside one assistant turn's text span — the
      conservative standard: a subword straddling the text/template
      boundary (the template glues headers/footers to text without a
      separator, so boundary words merge) is never trained on;
    - a ZERO-WIDTH token (a bare end-of-word marker) is loss iff the
      position it sits at is inside an assistant span (``s <= p < e``) —
      it ends a word strictly inside assistant text.

    Cost shape: the render is one conversation-keyed exchange, the spans
    window shares that key, tokenization is per-rendered-row (one
    mapInPandas stage, ``tokenizer.token_offsets``), and the
    spans↔tokens join is conv-keyed on two frames already hashed on the
    conversation. Nothing shuffles per token except the final explode's
    consumers.
    """
    from mrmr_spark.operators.tokenizer import END_OF_WORD, token_offsets

    eow = END_OF_WORD if end_of_word is None else end_of_word
    rendered = render_conversations(
        df, conv_col, order_cols, role_col, text_col, header, footer, bos,
        out_col="__rendered",
    )
    toks = token_offsets(
        rendered, merges, text_col="__rendered", out_col="__toks",
        split=split, end_of_word=eow,
    )
    spans = (
        turn_spans(
            df, conv_col, order_cols, role_col, text_col, header, footer, bos,
            assistant_role=assistant_role,
        )
        .where(F.col("loss_mask"))
        .groupBy(conv_col)
        .agg(
            F.collect_list(
                F.struct(F.col("text_start").alias("s"), F.col("text_end").alias("e"))
            ).alias("__spans")
        )
    )
    j = toks.join(spans, conv_col, "left").select(
        conv_col,
        F.coalesce(
            F.col("__spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
        ).alias("__spans"),
        F.posexplode("__toks").alias("tok_idx", "t"),
    )
    t = F.col("t")
    surface = t["tok_start"] < t["tok_end"]
    contained = F.exists(
        F.col("__spans"),
        lambda sp: F.when(
            surface, (t["tok_start"] >= sp["s"]) & (t["tok_end"] <= sp["e"])
        ).otherwise((t["tok_start"] >= sp["s"]) & (t["tok_start"] < sp["e"])),
    )
    return j.select(
        conv_col,
        F.col("tok_idx").cast("bigint").alias("tok_idx"),
        t["token"].alias("token"),
        t["tok_start"].alias("tok_start"),
        t["tok_end"].alias("tok_end"),
        contained.alias("loss_mask"),
    )


def preference_pairs(
    df: DataFrame,
    group_col: str | list[str],
    score_col: str,
    id_col: str = "doc_id",
    strategy: str = "best_worst",
    min_margin: float = 0.0,
) -> DataFrame:
    """Preference-pair construction for DPO/RLHF reward-model training
    data (Rafailov et al. 2023; Ouyang et al. 2022): within each prompt
    group (same prompt sampled several times, or any grouping key), emit
    (chosen, rejected) pairs ordered by a score column.

    - ``strategy="best_worst"``: ONE pair per group — the canonical DPO
      reduction (highest vs lowest score). Cost: ONE map-side-combined
      aggregation (min_by/max_by over the group key) — no window sort,
      no self-join, one exchange carrying one row per group.
    - ``strategy="all_pairs"``: every ordered pair with
      ``margin >= min_margin`` — an equi-join on the group key, so the
      fan-out is per-group quadratic but NEVER a corpus self-join;
      group sizes are the sampling fan-out (typically 4-16 generations
      per prompt), which bounds the blow-up by construction.

    Deterministic tie-breaks: chosen ranks by (score desc, id asc),
    rejected by (score asc, id asc); a pair is emitted only if
    ``chosen_id != rejected_id`` and ``margin >= min_margin`` (groups of
    one, or all-tied groups at min_margin > 0, emit nothing). Rows with
    NULL or NaN score are dropped first — an unordered reward cannot
    rank (NaN would silently win every max under Spark's NaN-greatest
    ordering).

    Output: group key column(s) + ``(chosen_id, rejected_id,
    chosen_score, rejected_score, margin)``. Gate row
    ``preference_pairs`` re-derives both windows in DuckDB.
    """
    if strategy not in ("best_worst", "all_pairs"):
        raise ValueError(
            f"strategy must be 'best_worst' or 'all_pairs', got {strategy!r}"
        )
    if min_margin < 0:
        raise ValueError(f"min_margin must be >= 0, got {min_margin}")
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    base = df.where(
        F.col(score_col).isNotNull() & ~F.isnan(F.col(score_col).cast("double"))
    ).select(
        *gcols,
        F.col(id_col).alias("_id"),
        F.col(score_col).cast("double").alias("_s"),
    )
    if strategy == "all_pairs":
        a = base.select(
            *gcols, F.col("_id").alias("chosen_id"), F.col("_s").alias("chosen_score")
        )
        b = base.select(
            *gcols,
            F.col("_id").alias("rejected_id"),
            F.col("_s").alias("rejected_score"),
        )
        out = (
            a.join(b, gcols)
            .where(F.col("chosen_id") != F.col("rejected_id"))
            .withColumn("margin", F.col("chosen_score") - F.col("rejected_score"))
            .where(F.col("margin") >= F.lit(float(min_margin)))
            .where(
                # strict order: ties emit neither direction
                F.col("margin") > 0
            )
        )
        return out.select(
            *gcols, "chosen_id", "rejected_id", "chosen_score", "rejected_score",
            "margin",
        )
    # one aggregation: min_by over (±score, id) structs realizes both
    # tie-break orders (scores are NaN-free, so negation is order-exact)
    row = F.struct(F.col("_id"), F.col("_s"))
    agg = base.groupBy(*gcols).agg(
        F.min_by(row, F.struct(-F.col("_s"), F.col("_id"))).alias("_best"),
        F.min_by(row, F.struct(F.col("_s"), F.col("_id"))).alias("_worst"),
    )
    return (
        agg.select(
            *gcols,
            F.col("_best._id").alias("chosen_id"),
            F.col("_worst._id").alias("rejected_id"),
            F.col("_best._s").alias("chosen_score"),
            F.col("_worst._s").alias("rejected_score"),
        )
        .where(F.col("chosen_id") != F.col("rejected_id"))
        .withColumn("margin", F.col("chosen_score") - F.col("rejected_score"))
        .where(F.col("margin") >= F.lit(float(min_margin)))
        .select(
            *gcols, "chosen_id", "rejected_id", "chosen_score", "rejected_score",
            "margin",
        )
    )


# ---------------------------------------------------------------------------
# Few-shot eval-prompt assembly
# ---------------------------------------------------------------------------

def fewshot_prompts(
    eval_df: DataFrame,
    pool_df: DataFrame,
    k: int,
    task_col: str = "source",
    input_col: str = "text",
    target_col: str = "lang",
    id_col: str = "doc_id",
    exemplar_template: tuple[str, str, str] = ("Q: ", "\nA: ", "\n\n"),
    query_template: tuple[str, str] = ("Q: ", "\nA:"),
    seed: int = 0,
    hash_fn: str = "xxhash64",
    out_col: str = "prompt",
) -> DataFrame:
    """Assemble k-shot evaluation prompts: for every ``eval_df`` row, the
    prompt is a task-shared block of ``k`` exemplars drawn from
    ``pool_df`` (the lm-eval-harness convention — one deterministic
    exemplar block per task, so scores are comparable across rows and the
    pool scan is paid once) followed by the row's own rendered query.

    Exemplar selection is a seed-free hash order within each task
    (:func:`mrmr_spark.operators.dedup.hash64` over ``id_col``, ties by
    id — deterministic under any partitioning, and a different ``seed``
    re-deals the block). Each exemplar renders as
    ``pre + input + mid + target + sep``; the query as ``pre + input +
    suf``. The pool must be disjoint from the eval set (the standard
    train/validation split contract) — nothing excludes an eval row from
    its own block.

    Scale: the pool reduces to k rows per task (one window inside the
    task partition), the block frame is #tasks rows and broadcast; the
    eval side is one projection + that broadcast join. Output: eval
    columns + ``n_shots`` + ``out_col``.
    """
    from pyspark.sql import Window

    from mrmr_spark.operators.dedup import hash64

    if k < 1:
        raise ValueError(f"fewshot_prompts: k must be >= 1, got {k}")
    pre, mid, sep = exemplar_template
    qpre, qsuf = query_template
    w = Window.partitionBy(task_col).orderBy(
        hash64(F.col(id_col).cast("string"), seed=seed, hash_fn=hash_fn),
        F.col(id_col),
    )
    ex = (
        pool_df.select(
            task_col,
            id_col,
            F.coalesce(F.col(input_col).cast("string"), F.lit("")).alias("_in"),
            F.coalesce(F.col(target_col).cast("string"), F.lit("")).alias("_tg"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
    )
    shot = F.struct(F.col("_rn").alias("_rn"), F.col("_in").alias("_in"), F.col("_tg").alias("_tg"))
    block = ex.groupBy(task_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(shot)),
                lambda s: F.concat(
                    F.lit(pre), s["_in"], F.lit(mid), s["_tg"], F.lit(sep)
                ),
            ),
            "",
        ).alias("_block"),
        F.count(F.lit(1)).cast("int").alias("n_shots"),
    )
    q = F.concat(
        F.col("_block"),
        F.lit(qpre),
        F.coalesce(F.col(input_col).cast("string"), F.lit("")),
        F.lit(qsuf),
    )
    return (
        eval_df.join(F.broadcast(block), task_col, "left")
        .withColumn("_block", F.coalesce(F.col("_block"), F.lit("")))
        .withColumn("n_shots", F.coalesce(F.col("n_shots"), F.lit(0)))
        .withColumn(out_col, q)
        .drop("_block")
    )
