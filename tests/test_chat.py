"""Chat-template rendering + loss-mask spans: Python string oracle, the
substring-extraction invariant row-by-row, custom templates, NULL turns,
stable ordering, and composition with the curation layer (rendered
conversations are documents: exact dedup + BPE token counting run
downstream unchanged)."""

import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.chat import (
    DEFAULT_FOOTER,
    DEFAULT_HEADER,
    render_conversations,
    turn_spans,
)

ROWS = [
    ("c1", 0, "user", "hi there"),
    ("c1", 1, "assistant", "hello!"),
    ("c1", 2, "user", None),
    ("c1", 3, "assistant", "bye"),
    ("c2", 0, "system", "be nice"),
    ("c2", 1, "assistant", "ok"),
    ("c3", 0, None, "orphan"),
]


@pytest.fixture(scope="module")
def convs(spark):
    return spark.createDataFrame(ROWS, "conv_id string, turn_idx int, role string, text string")


def py_render(rows, header=DEFAULT_HEADER, footer=DEFAULT_FOOTER, bos=""):
    out = {}
    for conv, _, role, text in sorted(rows, key=lambda r: (r[0], r[1])):
        pre, post = header.split("{role}")
        out.setdefault(conv, bos)
        out[conv] += pre + (role or "") + post + (text or "") + footer
    return out


def test_render_matches_python_oracle(spark, convs):
    got = {r.conv_id: (r.text, r.n_turns) for r in render_conversations(convs).collect()}
    want = py_render(ROWS)
    counts = {}
    for r in ROWS:
        counts[r[0]] = counts.get(r[0], 0) + 1
    assert got == {c: (want[c], counts[c]) for c in want}


def test_render_custom_template_and_bos(spark, convs):
    got = {
        r.conv_id: r.text
        for r in render_conversations(
            convs, header="[{role}] ", footer="\n", bos="<s>"
        ).collect()
    }
    assert got == py_render(ROWS, header="[{role}] ", footer="\n", bos="<s>")


def test_render_roleless_header(spark, convs):
    got = {
        r.conv_id: r.text
        for r in render_conversations(convs, header="### ", footer="\n").collect()
    }
    want = {}
    for conv, _, role, text in sorted(ROWS, key=lambda r: (r[0], r[1])):
        want.setdefault(conv, "")
        want[conv] += "### " + (text or "") + "\n"
    assert got == want


def test_render_template_validation(spark, convs):
    with pytest.raises(ValueError, match="at most one"):
        render_conversations(convs, header="{role}{role}")


def test_spans_extract_exact_text(spark, convs):
    """The core invariant: substring(rendered, start, end) == turn text,
    for every turn, checked against the actual rendered string."""
    rendered = {r.conv_id: r.text for r in render_conversations(convs).collect()}
    for r in turn_spans(convs).collect():
        assert rendered[r.conv_id][r.text_start : r.text_end] == (r.text or "")
        assert r.loss_mask == (r.role == "assistant")


def test_spans_extract_exact_text_custom_template(spark, convs):
    rendered = {
        r.conv_id: r.text
        for r in render_conversations(
            convs, header="[{role}]: ", footer="</s>", bos="<s>"
        ).collect()
    }
    sp = turn_spans(convs, header="[{role}]: ", footer="</s>", bos="<s>")
    for r in sp.collect():
        assert rendered[r.conv_id][r.text_start : r.text_end] == (r.text or "")
    # roleless template: role appears nowhere, spans still exact
    rendered = {
        r.conv_id: r.text
        for r in render_conversations(convs, header="### ", footer="\n").collect()
    }
    for r in turn_spans(convs, header="### ", footer="\n").collect():
        assert rendered[r.conv_id][r.text_start : r.text_end] == (r.text or "")


def test_spans_distributed_invariant(spark):
    """Bigger generated corpus; the invariant counted on the cluster via a
    join of spans onto the rendered strings — zero violations."""
    from mrmr_spark.sources.transcripts import generate_transcripts_pandas

    tr = spark.createDataFrame(
        generate_transcripts_pandas(n_convs=40, mean_turns=12, seed=5)
    ).select("conv_id", "turn_idx", "role", "text")
    rendered = render_conversations(tr, out_col="chat_text")
    sp = turn_spans(tr)
    joined = sp.join(rendered.select("conv_id", "chat_text"), "conv_id")
    bad = joined.where(
        F.substring(
            F.col("chat_text"),
            (F.col("text_start") + 1).cast("int"),
            (F.col("text_end") - F.col("text_start")).cast("int"),
        )
        != F.coalesce(F.col("text"), F.lit(""))
    ).count()
    assert bad == 0


def test_render_order_is_stable(spark):
    """Turn order comes from order_cols, not input row order."""
    shuffled = spark.createDataFrame(
        list(reversed(ROWS)), "conv_id string, turn_idx int, role string, text string"
    ).repartition(4)
    a = {r.conv_id: r.text for r in render_conversations(shuffled).collect()}
    assert a == py_render(ROWS)


def test_rendered_conversations_feed_curation(spark, convs):
    """Rendered conversations are documents: exact dedup and BPE token
    counting compose downstream without adapters."""
    from mrmr_spark.operators.dedup import exact_dedup
    from mrmr_spark.operators.tokenizer import bpe_token_count

    docs = render_conversations(convs).withColumnRenamed("conv_id", "doc_id")
    deduped = exact_dedup(docs)
    assert deduped.count() == 3
    counted = bpe_token_count(docs, [("h", "i")], text_col="text")
    got = {r.doc_id: r.n_bpe_tokens for r in counted.collect()}
    assert all(v > 0 for v in got.values())


def test_render_is_single_exchange(spark, convs):
    plan = render_conversations(convs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# token-level loss masks (chat.token_loss_mask)
# ---------------------------------------------------------------------------

MASK_MERGES = [("t", "h"), ("th", "e"), ("the", "</w>"), ("h", "i"), ("e", "r")]


def py_token_mask(rows, merges, header=DEFAULT_HEADER, footer=DEFAULT_FOOTER,
                  bos="", assistant_role="assistant", split=" ", eow="</w>"):
    """Independent Python re-derivation of token_loss_mask: render via the
    string oracle, naive sequential BPE per word, running char offsets,
    span containment — no engine code on the path except merge_word."""
    from mrmr_spark.operators.tokenizer import merge_word

    rend = py_render(rows, header=header, footer=footer, bos=bos)
    pre, post = header.split("{role}")
    spans, offs = {}, {}
    for conv, _, role, text in sorted(rows, key=lambda r: (r[0], r[1])):
        off = offs.setdefault(conv, len(bos))
        ts = off + len(pre) + len(role or "") + len(post)
        te = ts + len(text or "")
        if role == assistant_role:
            spans.setdefault(conv, []).append((ts, te))
        offs[conv] = te + len(footer)
    out = []
    for conv, text in rend.items():
        off, idx = 0, 0
        for w in text.split(split):
            if w:
                syms = list(w) + [eow]
                for m in merges:
                    syms = merge_word(syms, m)
                pos = off
                for s in syms:
                    n = len(s) - (len(eow) if s.endswith(eow) else 0)
                    a, b = pos, pos + n
                    if n > 0:
                        m = any(a >= s0 and b <= e0 for s0, e0 in spans.get(conv, []))
                    else:
                        m = any(s0 <= a < e0 for s0, e0 in spans.get(conv, []))
                    out.append((conv, idx, s, a, b, m))
                    pos, idx = b, idx + 1
            off += len(w) + len(split)
    return sorted(out)


@pytest.mark.parametrize("source", ["arrow", "column"])
def test_token_loss_mask_matches_python_oracle(spark, frame_from, source):
    from mrmr_spark.operators.chat import token_loss_mask

    df = frame_from(ROWS, "conv_id string, turn_idx int, role string, text string", source)
    got = sorted(tuple(r) for r in token_loss_mask(df, MASK_MERGES).collect())
    assert got == py_token_mask(ROWS, MASK_MERGES)
    assert any(m for *_, m in got) and not all(m for *_, m in got)
    with pytest.raises(TypeError, match="backend"):
        token_loss_mask(df, MASK_MERGES, backend="column")


def test_token_loss_mask_zero_width_marker_rule(spark):
    """A bare end-of-word marker strictly inside assistant text (ending a
    mid-text word) is loss; the marker ending the turn's LAST word sits
    past the glued footer and is not."""
    from mrmr_spark.operators.chat import token_loss_mask

    df = spark.createDataFrame(
        [("c", 0, "assistant", "hi there")],
        "conv_id string, turn_idx int, role string, text string",
    )
    rows = token_loss_mask(df, []).collect()
    rendered = "<|assistant|>\nhi there\n<|end|>\n"  # text span = [14, 22)
    # "hi" ends mid-text: its marker sits at the space inside the span
    hi_end = next(r for r in rows if r.token == "</w>" and r.tok_start == 16)
    assert hi_end.loss_mask
    # every surface token inside the text span is loss; the word
    # "there\n<|end|>\n" glues to the footer, so footer-side chars are not
    surf = [r for r in rows if r.tok_start < r.tok_end]
    inside = [r for r in surf if 14 <= r.tok_start and r.tok_end <= 22]
    assert inside and all(r.loss_mask for r in inside)
    assert {rendered[r.tok_start:r.tok_end] for r in inside} >= set("hithere")
    outside = [r for r in surf if r.tok_end > 22]
    assert outside and not any(r.loss_mask for r in outside)


def test_token_loss_mask_no_assistant_turns(spark):
    from mrmr_spark.operators.chat import token_loss_mask

    df = spark.createDataFrame(
        [("c", 0, "user", "the cat")],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = token_loss_mask(df, MASK_MERGES).collect()
    assert out and not any(r.loss_mask for r in out)


def test_token_masks_pack_into_training_chunks(spark, convs):
    """The trainer-facing flow: per-conversation mask vectors from
    token_loss_mask pack through pack_documents/explode_chunks — the
    reassembled per-chunk mask stream equals the global concatenation of
    conversation masks in pack order, cut at the chunk budget."""
    from mrmr_spark.operators.chat import token_loss_mask
    from mrmr_spark.operators.curation import explode_chunks, pack_documents

    budget = 16
    tlm = token_loss_mask(convs, MASK_MERGES)
    per_conv = (
        tlm.groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(F.struct("tok_idx", "loss_mask"))).alias("z"))
        .select(
            "conv_id",
            F.transform("z", lambda x: x["loss_mask"]).alias("mask"),
            F.size("z").cast("long").alias("n_tok"),
        )
    )
    packed = pack_documents(per_conv, budget, id_col="conv_id", token_col="n_tok")
    chunks = explode_chunks(packed, budget, id_col="conv_id")
    sliced = chunks.join(per_conv.select("conv_id", "mask"), "conv_id").select(
        "chunk_id",
        "chunk_pos",
        F.slice(F.col("mask"), (F.col("doc_start") + 1).cast("int"), F.col("span").cast("int")).alias("m"),
    )
    got = {}
    for r in sliced.collect():
        got.setdefault(r.chunk_id, []).append((r.chunk_pos, r.m))
    stream_got = []
    for cid in sorted(got):
        parts = sorted(got[cid])
        assert [p for p, _ in parts] == sorted(
            {p for p, _ in parts}
        )  # spans tile without overlap
        stream_got.extend(b for _, m in parts for b in m)
    # oracle: concatenate per-conv masks in pack order (order_col = id)
    per = {r.conv_id: r.mask for r in per_conv.collect()}
    stream_want = [b for c in sorted(per) for b in per[c]]
    assert stream_got == stream_want
    # every full chunk carries exactly `budget` tokens
    sizes = {cid: sum(len(m) for _, m in parts) for cid, parts in got.items()}
    full = {cid: n for cid, n in sizes.items() if cid < max(sizes)}
    assert all(n == budget for n in full.values())


# --- preference pairs (DPO/RLHF) --------------------------------------------


@pytest.fixture(scope="module")
def scored(spark):
    """5 prompt groups x 6 generations with controlled score patterns:
    one all-tied group, one with a NULL score, one singleton."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(5)
    for g in range(4):
        for i in range(6):
            score = 10.0 if g == 2 else float(rng.integers(0, 100))
            rows.append((f"p{g}", g * 10 + i, score))
    rows.append(("p1", 999, None))           # NULL score: dropped
    rows.append(("p1", 998, float("nan")))   # NaN score: dropped too
    rows.append(("p4", 400, 55.0))           # singleton group: no pair
    return spark.createDataFrame(
        rows, "prompt string, gen_id long, reward double"
    ).cache()


def _py_best_worst(rows, min_margin=0.0):
    import collections

    by_g = collections.defaultdict(list)
    for g, i, s in rows:
        if s is not None and s == s:
            by_g[g].append((i, s))
    out = []
    for g, items in by_g.items():
        best = min(items, key=lambda t: (-t[1], t[0]))
        worst = min(items, key=lambda t: (t[1], t[0]))
        if best[0] != worst[0] and best[1] - worst[1] >= min_margin:
            out.append((g, best[0], worst[0], best[1], worst[1], best[1] - worst[1]))
    return sorted(out)


def test_preference_pairs_matches_python_oracle(scored):
    from mrmr_spark.operators.chat import preference_pairs

    raw = [(r["prompt"], r["gen_id"], r["reward"]) for r in scored.collect()]
    got = sorted(
        tuple(r)
        for r in preference_pairs(
            scored, "prompt", "reward", id_col="gen_id"
        ).collect()
    )
    assert got == _py_best_worst(raw)
    # the all-tied group (p2) emits nothing only at min_margin > 0
    got2 = preference_pairs(
        scored, "prompt", "reward", id_col="gen_id", min_margin=1.0
    ).toPandas()
    assert "p2" not in set(got2["prompt"])
    # ...but at margin 0 a tied group still emits nothing (chosen == rejected
    # under the id tie-break is excluded)
    assert "p2" not in set(r[0] for r in got)
    # singleton group emits nothing
    assert "p4" not in set(r[0] for r in got)


def test_preference_all_pairs_semantics(scored):
    from mrmr_spark.operators.chat import preference_pairs

    got = preference_pairs(
        scored, "prompt", "reward", id_col="gen_id", strategy="all_pairs",
        min_margin=5.0,
    ).toPandas()
    raw = [(r["prompt"], r["gen_id"], r["reward"]) for r in scored.collect()]
    exp = set()
    for g1, i1, s1 in raw:
        for g2, i2, s2 in raw:
            if (
                g1 == g2 and i1 != i2
                and s1 is not None and s1 == s1
                and s2 is not None and s2 == s2
                and s1 - s2 >= 5.0
            ):
                exp.add((g1, i1, i2))
    assert set(zip(got["prompt"], got["chosen_id"], got["rejected_id"])) == exp
    assert (got["margin"] >= 5.0).all()
    # every pair is strictly ordered: no (a, b) AND (b, a)
    fwd = set(zip(got["chosen_id"], got["rejected_id"]))
    assert not any((b, a) in fwd for a, b in fwd)


def test_preference_pairs_validation(scored):
    from mrmr_spark.operators.chat import preference_pairs

    with pytest.raises(ValueError, match="strategy"):
        preference_pairs(scored, "prompt", "reward", strategy="tournament")
    with pytest.raises(ValueError, match="min_margin"):
        preference_pairs(scored, "prompt", "reward", min_margin=-1.0)


def test_preference_pairs_compose_with_rendered_conversations(spark, convs):
    """The realistic flow: render conversations, score them (length as the
    stand-in reward), group by a prompt key, emit DPO pairs."""
    from mrmr_spark.operators.chat import preference_pairs, render_conversations

    rendered = render_conversations(convs)
    scored = rendered.withColumn("reward", F.length("text").cast("double"))
    scored = scored.withColumn(
        "prompt_group", F.pmod(F.xxhash64("conv_id"), F.lit(3))
    )
    out = preference_pairs(
        scored, "prompt_group", "reward", id_col="conv_id", min_margin=1.0
    ).toPandas()
    assert len(out) >= 1
    assert (out["margin"] > 0).all()
    assert (out["chosen_id"] != out["rejected_id"]).all()


# ---------------------------------------------------------------------------
# fewshot_prompts
# ---------------------------------------------------------------------------

def _md5_60(s: str, seed: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def fewshot_frames(spark):
    pool = [(i, f"t{i % 3}", f"q{i}", f"a{i}") for i in range(30)]
    ev = [(100 + i, f"t{i % 4}", f"e{i}", None) for i in range(8)]  # t3 not in pool
    schema = "doc_id long, source string, text string, lang string"
    return (
        spark.createDataFrame(ev, schema).cache(),
        spark.createDataFrame(pool, schema).cache(),
        ev,
        pool,
    )


def test_fewshot_matches_python_oracle(fewshot_frames):
    from mrmr_spark.operators.chat import fewshot_prompts

    ev_df, pool_df, ev, pool = fewshot_frames
    k, seed = 3, 5
    blocks = {}
    for task in {p[1] for p in pool}:
        rows = sorted(
            (p for p in pool if p[1] == task),
            key=lambda p: (_md5_60(str(p[0]), seed), p[0]),
        )[:k]
        blocks[task] = "".join(f"Q: {r[2]}\nA: {r[3]}\n\n" for r in rows)
    out = fewshot_prompts(
        ev_df, pool_df, k, seed=seed, hash_fn="md5_60"
    ).toPandas().set_index("doc_id")
    for doc_id, task, text, _ in ev:
        r = out.loc[doc_id]
        assert r["prompt"] == blocks.get(task, "") + f"Q: {text}\nA:"
        assert r["n_shots"] == (k if task in blocks else 0)


def test_fewshot_determinism_and_seed(fewshot_frames):
    from mrmr_spark.operators.chat import fewshot_prompts

    ev_df, pool_df, *_ = fewshot_frames
    a = fewshot_prompts(ev_df, pool_df, 4, seed=1).toPandas().sort_values("doc_id")
    b = (
        fewshot_prompts(ev_df.repartition(5), pool_df.repartition(3), 4, seed=1)
        .toPandas()
        .sort_values("doc_id")
    )
    assert a["prompt"].tolist() == b["prompt"].tolist()
    c = fewshot_prompts(ev_df, pool_df, 4, seed=2).toPandas().sort_values("doc_id")
    assert a["prompt"].tolist() != c["prompt"].tolist()


def test_fewshot_small_pool_and_validation(fewshot_frames, spark):
    from mrmr_spark.operators.chat import fewshot_prompts

    ev_df, pool_df, *_ = fewshot_frames
    out = fewshot_prompts(ev_df, pool_df, 50).toPandas()
    assert set(out[out["source"] != "t3"]["n_shots"]) == {10}  # pool has 10/task
    assert set(out[out["source"] == "t3"]["n_shots"]) == {0}
    with pytest.raises(ValueError, match="k must be"):
        fewshot_prompts(ev_df, pool_df, 0)
