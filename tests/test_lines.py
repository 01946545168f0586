"""Line-level corpus cleaning (mrmr_spark.operators.lines) plus the
TF-IDF and token-budget-mixing curation operators. Oracles are plain
Python on synthetic lined fixtures; the DuckDB SQL twins run in the gate
(`common_lines`, `c4_lines`, `tfidf_terms`, `mix_budget` rows)."""

import math
import random
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.curation import mix_to_token_budget, tfidf_top_terms
from mrmr_spark.operators.lines import c4_line_filter, remove_common_lines


@pytest.fixture(scope="module")
def lined_docs(spark):
    """Docs with newline structure: per-doc unique prose lines, shared
    boilerplate lines planted across many docs, blank lines, and short
    fragments — the shapes the line passes must discriminate."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(20)]
    boiler = ["cookie notice accept all", "© example site", "nav home about"]
    rows = []
    for i in range(120):
        lines = [f"unique prose line {i} " + " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8)))]
        if i % 2 == 0:
            lines.append(boiler[0])
        if i % 3 == 0:
            lines.append(boiler[1].upper())  # normalization must still catch it
        if i % 5 == 0:
            lines.append("  " + boiler[2] + "  ")  # trim must still catch it
        if i % 4 == 0:
            lines.append("")  # blank line: exempt under min_chars=1
        if i % 7 == 0:
            lines.append("ok")  # short fragment
        rng.shuffle(lines)
        rows.append((i, "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.cache(), {i: t for i, t in rows}


def _py_remove_common(texts, max_df, min_chars=1):
    df_count = Counter()
    for t in texts.values():
        norms = {ln.strip().lower() for ln in t.split("\n")}
        for n in norms:
            if len(n) >= min_chars:
                df_count[n] += 1
    frequent = {n for n, c in df_count.items() if c >= max_df}
    out = {}
    for i, t in texts.items():
        kept, removed = [], 0
        for ln in t.split("\n"):
            n = ln.strip().lower()
            if len(n) >= min_chars and n in frequent:
                removed += 1
            else:
                kept.append(ln)
        out[i] = ("\n".join(kept), removed)
    return out


def test_remove_common_lines_matches_python_oracle(lined_docs):
    df, texts = lined_docs
    exp = _py_remove_common(texts, max_df=10)
    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_common_lines(df, max_df=10).collect()
    }
    assert got == exp
    assert any(v[1] > 0 for v in exp.values()), "fixture must drop boilerplate"
    assert any(v[1] == 0 for v in exp.values()), "fixture must keep clean docs"


def test_remove_common_lines_blank_lines_exempt(spark):
    # Blank lines appear in every doc but min_chars=1 exempts them —
    # paragraph structure survives even at max_df=2.
    rows = [(0, "a b c\n\nshared line"), (1, "x y z\n\nshared line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in remove_common_lines(df, max_df=2).collect()}
    assert got == {0: "a b c\n", 1: "x y z\n"}


def test_remove_common_lines_all_boilerplate_doc(spark):
    rows = [(0, "spam"), (1, "spam"), (2, "spam\nreal content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in remove_common_lines(df, max_df=3).collect()
    }
    assert got == {0: ("", 1), 1: ("", 1), 2: ("real content here", 1)}


def test_remove_common_lines_rejects_bad_backend(lined_docs):
    from mrmr_spark.operators.lines import common_line_keys, remove_lines_by_keys

    df, _ = lined_docs
    with pytest.raises(TypeError, match="key_backend"):
        remove_common_lines(df, key_backend="string")
    with pytest.raises(TypeError, match="key_backend"):
        common_line_keys(df, key_backend="string")
    keys = common_line_keys(df)
    for kw in ({"key_backend": "string"}, {"apply_backend": "broadcast_set"}):
        with pytest.raises(TypeError, match=next(iter(kw))):
            remove_lines_by_keys(df, keys, **kw)


def test_remove_common_lines_never_shuffles_text(lined_docs):
    """The corpus text column must not appear in any exchange: the hash128
    plan shuffles only (doc_id, pos, fingerprints)."""
    df, _ = lined_docs
    plan = remove_common_lines(df, max_df=10)._jdf.queryExecution().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "xxhash" not in line.lower() or "text" not in line


# ---------------------------------------------------------------------------
# c4_line_filter
# ---------------------------------------------------------------------------

C4_DOCS = [
    (0, "This is a proper sentence.\nshort one\nAnother good long sentence here!"),
    (1, "Enable javascript to continue.\nA fine line that ends well.\nno punct here at all"),
    (2, 'He said "stop".\nLorem Ipsum dolor sit amet.\nTrailing quote line he wrote!"'),
    (3, ""),
    (4, "word\n{ bad json line here }\nAll of these words survive fine?"),
]


def _py_c4(text, min_words=3, punct=True, blocklist=("lorem ipsum", "javascript", "{")):
    kept, dropped = [], 0
    for ln in text.split("\n"):
        t = ln.strip()
        ok = len(t.split(" ")) >= min_words
        if punct:
            ok = ok and (len(t) > 0 and t[-1] in ".!?\"'")
        low = ln.lower()
        ok = ok and not any(p in low for p in blocklist)
        if ok:
            kept.append(ln)
        else:
            dropped += 1
    return "\n".join(kept), len(kept), dropped


def test_c4_line_filter_matches_python_oracle(spark):
    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_kept_lines"], r["n_dropped_lines"])
        for r in c4_line_filter(df).collect()
    }
    exp = {i: _py_c4(t) for i, t in C4_DOCS}
    assert got == exp
    # fixture exercises every clause: min_words, punct, each blocklist entry
    assert got[0] == ("This is a proper sentence.\nAnother good long sentence here!", 2, 1)
    assert got[1][0] == "A fine line that ends well."
    assert got[2][1] == 2 and got[4][1] == 1


def test_c4_line_filter_no_punct_requirement(spark):
    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_kept_lines"]
        for r in c4_line_filter(df, require_terminal_punct=False).collect()
    }
    exp = {i: _py_c4(t, punct=False)[1] for i, t in C4_DOCS}
    assert got == exp
    assert got[1] == 2  # "no punct here at all" now kept


def test_c4_line_filter_is_pure_projection(spark):
    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    plan = c4_line_filter(df)._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys and "BatchEvalPython" not in phys


def test_c4_line_filter_runs_on_streams(spark, tmp_path):
    import os

    df = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    d = str(tmp_path / "c4in")
    df.coalesce(1).write.parquet(d)
    src = spark.readStream.schema(df.schema).parquet(d)
    q = (
        c4_line_filter(src)
        .writeStream.format("memory")
        .queryName("c4s")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("c4s").toPandas().sort_values("doc_id").reset_index(drop=True)
    batch = c4_line_filter(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(out, batch)
    assert os.path.isdir(d)


# ---------------------------------------------------------------------------
# tfidf_top_terms
# ---------------------------------------------------------------------------

def test_tfidf_matches_python_oracle(lined_docs):
    df, texts = lined_docs
    flat = {i: t.replace("\n", " ").lower() for i, t in texts.items()}
    # build with sep=" " semantics: empty tokens excluded
    tf = {
        i: Counter(w for w in t.split(" ") if w) for i, t in flat.items()
    }
    dfc = Counter()
    for c in tf.values():
        dfc.update(c.keys())
    n = len(flat)
    exp = {}
    for i, c in tf.items():
        scored = sorted(
            (
                (-cnt * (math.log((n + 1) / (dfc[w] + 1)) + 1), w, cnt, dfc[w])
                for w, cnt in c.items()
            )
        )[:4]
        exp[i] = [
            (w, cnt, d, -s, r + 1) for r, (s, w, cnt, d) in enumerate(scored)
        ]
    got = {}
    rows = tfidf_top_terms(
        df.select("doc_id", F.regexp_replace("text", "\n", " ").alias("text")), k=4
    ).collect()
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["term"], r["tf"], r["df"], r["score"], r["rank"])
        )
    for i in exp:
        gi = sorted(got[i], key=lambda x: x[4])
        assert [(g[0], g[1], g[2], g[4]) for g in gi] == [
            (e[0], e[1], e[2], e[4]) for e in exp[i]
        ]
        for g, e in zip(gi, exp[i]):
            assert g[3] == pytest.approx(e[3], rel=1e-12)


def test_tfidf_rank_ties_lexical(spark):
    # two terms with identical (tf, df) -> identical score -> lexical order
    df = spark.createDataFrame([(0, "b a"), (1, "c c")], "doc_id long, text string")
    rows = tfidf_top_terms(df, k=2).collect()
    d0 = sorted([(r["rank"], r["term"]) for r in rows if r["doc_id"] == 0])
    assert d0 == [(1, "a"), (2, "b")]


def test_tfidf_rejects_bad_k(lined_docs):
    with pytest.raises(ValueError, match="k must be"):
        tfidf_top_terms(lined_docs[0], k=0)


# ---------------------------------------------------------------------------
# mix_to_token_budget
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def mix_docs(spark):
    rng = random.Random(5)
    rows = [
        (i, f"s{i % 4}", " ".join(f"t{rng.randint(0, 9)}" for _ in range(rng.randint(1, 30))))
        for i in range(160)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string").cache(), rows


def _affine(i):
    return (i * 2654435761) % (2**32)


def _py_mix(rows, budgets, default=0):
    out = {}
    by_src = {}
    for i, s, t in rows:
        by_src.setdefault(s, []).append((_affine(i), i, len(t.split(" "))))
    for s, docs in by_src.items():
        b = budgets.get(s, default)
        cum = 0
        for _, i, n in sorted(docs):
            if cum < b:
                out[i] = (n, cum + n)
            cum += n
    return out


def test_mix_budget_matches_python_oracle(mix_docs):
    df, rows = mix_docs
    budgets = {"s0": 120, "s1": 0, "s2": 55}
    exp = _py_mix(rows, budgets, default=40)
    got = {
        r["doc_id"]: (r["n_tokens"], r["cum_tokens"])
        for r in mix_to_token_budget(df, budgets, hash_fn="affine", default_budget=40).collect()
    }
    assert got == exp
    srcs = {s for i, s, t in rows if i in got}
    assert "s1" not in srcs and {"s0", "s2", "s3"} <= srcs


def test_mix_budget_overshoot_at_most_one_doc(mix_docs):
    df, rows = mix_docs
    budgets = {"s0": 100, "s1": 100, "s2": 100, "s3": 100}
    out = mix_to_token_budget(df, budgets, hash_fn="affine").toPandas()
    agg = out.groupby(out["doc_id"].map({i: s for i, s, _ in rows}))
    for s, g in agg:
        total = g["n_tokens"].sum()
        # full budget used...
        assert total >= 100
        # ...but removing the last-admitted doc goes back under budget
        assert total - g.sort_values("cum_tokens")["n_tokens"].iloc[-1] < 100


def test_mix_budget_deterministic_and_admission_order_stable(mix_docs):
    df, rows = mix_docs
    budgets = {"s0": 80, "s1": 80, "s2": 80, "s3": 80}
    a = mix_to_token_budget(df, budgets, hash_fn="affine").toPandas()
    b = mix_to_token_budget(df, budgets, hash_fn="affine").toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )
    # doubling every budget only ever ADDS documents (admission order is
    # a pure function of the ids, independent of the budget)
    big = mix_to_token_budget(
        df, {k: 2 * v for k, v in budgets.items()}, hash_fn="affine"
    ).toPandas()
    assert set(a["doc_id"]) <= set(big["doc_id"])


def test_mix_budget_default_hash_runs_and_validates(mix_docs):
    df, _ = mix_docs
    out = mix_to_token_budget(df, {"s0": 50})  # xxhash64 production family
    assert out.count() > 0
    assert set(out.toPandas()["source"]) == {"s0"}
    with pytest.raises(ValueError, match="non-negative"):
        mix_to_token_budget(df, {"s0": -1})


# ---------------------------------------------------------------------------
# epoch_shuffle
# ---------------------------------------------------------------------------

def test_epoch_shuffle_is_deterministic_permutation(mix_docs):
    from mrmr_spark.operators.curation import epoch_shuffle

    df, rows = mix_docs
    e0 = epoch_shuffle(df, 0, num_partitions=4)
    order0 = [r["doc_id"] for r in e0.select("doc_id", "epoch_key").collect()]
    # permutation: same multiset of ids
    assert sorted(order0) == [i for i, _, _ in rows]
    # collect order follows the range partitioning + in-partition sort
    keys = [r["epoch_key"] for r in e0.select("epoch_key").collect()]
    assert keys == sorted(keys)
    # re-run bit-identical; a different epoch is a different permutation
    assert order0 == [r["doc_id"] for r in epoch_shuffle(df, 0, num_partitions=4).select("doc_id").collect()]
    order1 = [r["doc_id"] for r in epoch_shuffle(df, 1, num_partitions=4).select("doc_id").collect()]
    assert order0 != order1 and sorted(order1) == sorted(order0)


def test_epoch_shuffle_affine_matches_python(mix_docs):
    from mrmr_spark.operators.curation import epoch_shuffle

    df, rows = mix_docs
    got = {
        r["doc_id"]: r["epoch_key"]
        for r in epoch_shuffle(df, 3, hash_fn="affine").select("doc_id", "epoch_key").collect()
    }
    for i, _, _ in rows:
        assert got[i] == (i * 2654435761 + 3 * 2246822519) % (2**32)


def test_epoch_shuffle_rejects_bad_hash(mix_docs):
    from mrmr_spark.operators.curation import epoch_shuffle

    with pytest.raises(ValueError, match="hash_fn"):
        epoch_shuffle(mix_docs[0], 0, hash_fn="nope")


# ---------------------------------------------------------------------------
# sliding_chunks
# ---------------------------------------------------------------------------

def _py_sliding(text, size, stride, min_tokens=1):
    toks = text.split(" ")
    n = len(toks)
    last = max(-(-(n - size) // stride) * stride, 0)
    out = []
    for idx, start in enumerate(range(0, last + 1, stride)):
        if start >= n:
            continue
        span = min(size, n - start)
        if span >= min_tokens:
            out.append((idx, start, span, " ".join(toks[start : start + span])))
    return out


def test_sliding_chunks_matches_python_oracle(mix_docs):
    from mrmr_spark.operators.curation import sliding_chunks

    df, rows = mix_docs
    got = {}
    for r in sliding_chunks(df, size=12, stride=7).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["tok_start"], r["n_tokens"], r["chunk_text"])
        )
    for i, _, t in rows:
        assert sorted(got[i]) == _py_sliding(t, 12, 7), (i, t)
    # reconstruction: stride == size tiles the document exactly
    tiled = sliding_chunks(df, size=12).collect()
    rebuilt = {}
    for r in sorted(tiled, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        rebuilt.setdefault(r["doc_id"], []).append(r["chunk_text"])
    for i, _, t in rows:
        assert " ".join(rebuilt[i]) == t


def test_sliding_chunks_overlap_and_tail_rules(spark):
    from mrmr_spark.operators.curation import sliding_chunks

    df = spark.createDataFrame([(0, "a b c d e f g h i j")], "doc_id long, text string")
    got = [
        (r["chunk_idx"], r["tok_start"], r["n_tokens"], r["chunk_text"])
        for r in sliding_chunks(df, size=8, stride=4).collect()
    ]
    # n=10: windows [0,8) and [4,10) — generation stops at the first
    # end-reaching window, no redundant third tail
    assert sorted(got) == [(0, 0, 8, "a b c d e f g h"), (1, 4, 6, "e f g h i j")]
    # min_tokens drops the short tail
    got2 = sliding_chunks(df, size=8, stride=4, min_tokens=7).collect()
    assert len(got2) == 1 and got2[0]["chunk_idx"] == 0
    # doc shorter than size -> one full-doc chunk
    got3 = sliding_chunks(df, size=100, stride=100).collect()
    assert len(got3) == 1 and got3[0]["n_tokens"] == 10


def test_sliding_chunks_validation_and_plan(spark):
    from mrmr_spark.operators.curation import sliding_chunks

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    for kwargs in ({"size": 0}, {"size": 4, "stride": 0}, {"size": 4, "stride": 5},
                   {"size": 4, "min_tokens": 0}, {"size": 4, "min_tokens": 5}):
        with pytest.raises(ValueError):
            sliding_chunks(df, **kwargs)
    plan = sliding_chunks(df, size=4)._jdf.queryExecution().toString()
    phys = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in phys and "BatchEvalPython" not in phys


# ---------------------------------------------------------------------------
# two-phase boilerplate removal (common_line_keys + remove_lines_by_keys)
# ---------------------------------------------------------------------------

def test_two_phase_equals_one_shot(lined_docs):
    from mrmr_spark.operators.lines import common_line_keys, remove_lines_by_keys

    df, _ = lined_docs
    keys = common_line_keys(df, max_df=10)
    two = remove_lines_by_keys(df, keys).toPandas().sort_values("doc_id").reset_index(drop=True)
    one = remove_common_lines(df, max_df=10).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(two, one)


def _file_stream(spark, df, path):
    df.coalesce(2).write.parquet(path)
    return spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(path)


def _run_to_table(sdf, name):
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sdf.sparkSession.table(name).toPandas().sort_values("doc_id").reset_index(drop=True)


def test_broadcast_set_backend_equals_join(spark, tmp_path, lined_docs):
    """A streaming frame takes the broadcast-set path, a batch frame the
    join; both drop the same lines, here under non-default normalize and
    min_chars (case-sensitive keys, short lines exempt)."""
    from mrmr_spark.operators.lines import common_line_keys, remove_lines_by_keys

    df, _ = lined_docs
    opts = {"normalize": False, "min_chars": 3}
    keys = common_line_keys(df, max_df=10, **opts)
    src = _file_stream(spark, df, str(tmp_path / "eqstream"))
    got = _run_to_table(remove_lines_by_keys(src, keys, **opts), "eqstream")
    batch = remove_lines_by_keys(df, keys, **opts).toPandas()
    pd.testing.assert_frame_equal(
        got, batch.sort_values("doc_id").reset_index(drop=True)
    )
    assert (got["n_removed_lines"] > 0).any()


def test_sample_trained_keys_apply_to_full_corpus(lined_docs):
    """The production flow: train the boilerplate set on a corpus slice,
    apply to everything — boilerplate frequent in the slice is removed
    corpus-wide."""
    from mrmr_spark.operators.lines import common_line_keys, remove_lines_by_keys

    df, texts = lined_docs
    sample = df.where(F.col("doc_id") % 2 == 0)  # boiler[0] is in every even doc
    keys = common_line_keys(sample, max_df=30)
    out = remove_lines_by_keys(df, keys)
    got = {r["doc_id"]: r["n_removed_lines"] for r in out.collect()}
    # "cookie notice accept all" occurs in all 60 even docs of the sample
    # -> removed from every even doc corpus-wide; odd docs untouched by it
    for i in texts:
        assert got[i] == (1 if i % 2 == 0 else 0)


def test_broadcast_set_size_guard(spark, tmp_path, lined_docs, monkeypatch):
    """The key-set cap fires while the streaming plan is built, before any
    query starts."""
    import mrmr_spark.operators.lines as L

    df, _ = lined_docs
    keys = L.common_line_keys(df, max_df=10)
    src = _file_stream(spark, df, str(tmp_path / "guardstream"))
    monkeypatch.setattr(L, "_MAX_BROADCAST_KEYS", 1)
    with pytest.raises(ValueError, match="broadcast_set holds"):
        L.remove_lines_by_keys(src, keys)
    L.remove_lines_by_keys(df, keys)  # the batch join has no cap


def test_remove_lines_by_keys_runs_on_streams(spark, tmp_path, lined_docs):
    """The streaming boilerplate pass: keys trained in batch, applied to a
    file stream via the stateless broadcast_set path. A NULL text passes
    through with zero removed lines, as in the batch join."""
    from mrmr_spark.operators.lines import common_line_keys, remove_lines_by_keys

    df, _ = lined_docs
    df = df.unionByName(spark.createDataFrame([(1000, None)], df.schema))
    keys = common_line_keys(df, max_df=10)
    src = _file_stream(spark, df, str(tmp_path / "linestream"))
    out = _run_to_table(remove_lines_by_keys(src, keys), "boilstream")
    batch = remove_common_lines(df, max_df=10).toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(out, batch)
    null_row = out.loc[out["doc_id"] == 1000].iloc[0]
    assert null_row["text"] is None and null_row["n_removed_lines"] == 0
