"""Corpus-curation operators: decontamination, repetition stats,
stratified sampling (mrmr_spark.operators.curation). Oracles are plain
Python (collections.Counter / sorted quotas) on synthetic frames; the
DuckDB SQL twins run in the gate (`decontaminate`, `repetition_stats`,
`stratified_sample` rows)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.curation import (
    decontaminate,
    sample_key,
    stratified_sample_exact,
    with_repetition_stats,
    word_ngrams,
)


@pytest.fixture(scope="module")
def docs(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(200):
        n = rng.randint(0, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        # plant heavy repetition in a slice of docs
        if i % 9 == 0 and n >= 6:
            words[: n // 2] = ["rep", "rep2"] * (n // 4)
        rows.append((i, " ".join(words), f"s{i % 7}"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return df.cache()


def _py_ngrams(text, n):
    toks = text.split(" ")
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_word_ngrams_matches_python(docs):
    got = docs.select("doc_id", "text", word_ngrams("text", 3).alias("g")).collect()
    for r in got:
        assert r.g == _py_ngrams(r.text, 3), r.doc_id


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",), ("",), ("solo",)], "text string")
    got = [r.g for r in df.select(word_ngrams("text", 3).alias("g")).collect()]
    assert got == [[], [], []]


def test_repetition_stats_matches_counter_oracle(docs):
    out = with_repetition_stats(docs, ns=(2, 3)).collect()
    assert len(out) == docs.count()
    saw_dup = False
    for r in out:
        for n in (2, 3):
            grams = _py_ngrams(r.text, n)
            c = Counter(grams)
            total = len(grams)
            dup = sum(v for v in c.values() if v > 1)
            top = max(c.values()) if c else 0
            assert r[f"rep{n}_total"] == total
            assert r[f"rep{n}_dup_frac"] == pytest.approx(dup / total if total else 0.0, abs=1e-12)
            assert r[f"rep{n}_top_frac"] == pytest.approx(top / total if total else 0.0, abs=1e-12)
            saw_dup = saw_dup or dup > 0
    assert saw_dup, "fixture must exercise the duplicate path"


def test_repetition_stats_plan_is_pure_project(docs):
    plan = (
        with_repetition_stats(docs, ns=(2, 3))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # every order from one fused kernel
    assert plan.count("ArrowEvalPython") == 1, plan


def test_repetition_stats_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b a b")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in with_repetition_stats(df, ns=(1, 2)).collect()}
    for n in (1, 2):
        # NULL reads as zero grams
        assert (got[0][f"rep{n}_total"], got[0][f"rep{n}_dup_frac"],
                got[0][f"rep{n}_top_frac"]) == (0, 0.0, 0.0)
    # "" is one empty token (the F.split reading): one 1-gram, no 2-gram
    assert (got[1].rep1_total, got[1].rep1_dup_frac, got[1].rep1_top_frac) == (1, 0.0, 1.0)
    assert (got[1].rep2_total, got[1].rep2_dup_frac, got[1].rep2_top_frac) == (0, 0.0, 0.0)
    assert (got[2].rep2_total, got[2].rep2_dup_frac) == (3, 2 / 3)


def test_decontaminate_flag_and_drop(docs):
    bench = docs.where(F.col("doc_id") % 11 == 0)
    corpus = docs.where(F.col("doc_id") % 11 != 0)
    flagged = decontaminate(corpus, bench, n=3, mode="flag")
    assert flagged.columns == corpus.columns + ["contaminated", "n_hit_grams"]

    bench_grams = set()
    for r in bench.collect():
        bench_grams |= set(_py_ngrams(r.text, 3))
    exp = {}
    for r in corpus.collect():
        hits = len(set(_py_ngrams(r.text, 3)) & bench_grams)
        exp[r.doc_id] = hits
    got = {r.doc_id: (r.contaminated, r.n_hit_grams) for r in flagged.collect()}
    assert set(got) == set(exp)
    for did, (flag, nh) in got.items():
        assert nh == exp[did], did
        assert flag == (exp[did] > 0), did

    dropped = decontaminate(corpus, bench, n=3, mode="drop")
    assert dropped.count() == sum(1 for v in exp.values() if v == 0)
    assert dropped.columns == corpus.columns


def test_decontaminate_rejects_bad_mode(docs):
    with pytest.raises(ValueError, match="mode"):
        decontaminate(docs, docs, mode="oops")


def test_decontaminate_never_shuffles_corpus_text(docs):
    bench = docs.limit(5)
    plan = (
        decontaminate(docs, bench, n=3, mode="flag")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the gram-matching join must be a broadcast (bench side), never a
    # shuffled corpus-gram exchange carrying text
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_stratified_sample_exact_quota_and_determinism(docs):
    out = stratified_sample_exact(docs, "source", 4, keep_rank=True)
    rows = [(r.doc_id, r.source, r.sample_rank) for r in out.collect()]
    per = Counter(s for _, s, _ in rows)
    sizes = {r.source: r["cnt"] for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    for s, c in per.items():
        assert c == min(4, sizes[s])
    # deterministic: second run identical
    rows2 = [
        (r.doc_id, r.source, r.sample_rank)
        for r in stratified_sample_exact(docs, "source", 4, keep_rank=True).collect()
    ]
    assert sorted(rows) == sorted(rows2)


def test_stratified_sample_matches_python_quota_oracle(docs):
    out = stratified_sample_exact(docs, "source", 4, hash_fn="affine", keep_rank=True)
    got = sorted((r.source, r.sample_rank, r.doc_id) for r in out.collect())
    by_src = {}
    for r in docs.select("doc_id", "source").collect():
        key = (r.doc_id * 2654435761) % 4294967296
        by_src.setdefault(r.source, []).append((key, r.doc_id))
    exp = []
    for s, ks in by_src.items():
        for rank, (_, did) in enumerate(sorted(ks)[:4], start=1):
            exp.append((s, rank, did))
    assert got == sorted(exp)


@pytest.mark.parametrize("hash_fn", ["xxhash64", "affine"])
def test_presample_path_identical_to_window_path(docs, hash_fn):
    full = stratified_sample_exact(docs, "source", 4, hash_fn=hash_fn, keep_rank=True)
    pre = stratified_sample_exact(
        docs, "source", 4, hash_fn=hash_fn, presample_margin=3.0, keep_rank=True
    )
    a = sorted((r.doc_id, r.source, r.sample_rank) for r in full.collect())
    b = sorted((r.doc_id, r.source, r.sample_rank) for r in pre.collect())
    assert a == b


def test_presample_quota_above_stratum_size(docs):
    # cutoff clamps to the full hash space -> every row survives; quotas
    # larger than a stratum return the whole stratum
    out = stratified_sample_exact(docs, "source", 10_000, presample_margin=2.0)
    assert out.count() == docs.count()


def test_presample_tiny_margin_retries_then_raises(docs):
    with pytest.raises(ValueError, match="presample"):
        stratified_sample_exact(
            docs, "source", 4, presample_margin=1.01, presample_retries=0
        )


def test_sample_key_families(spark):
    df = spark.range(10)
    aff = [r.k for r in df.select(sample_key("id", "affine").alias("k")).collect()]
    assert aff == [(i * 2654435761) % 4294967296 for i in range(10)]
    with pytest.raises(ValueError, match="hash_fn"):
        sample_key("id", "nope")


def test_pack_documents_matches_sequential_oracle(docs):
    from mrmr_spark.operators.curation import pack_documents

    pin = []
    out = pack_documents(docs, budget=64, pin=pin)
    got = sorted(
        (r.doc_id, r.n_tokens, r.token_offset, r.chunk_first, r.chunk_last, r.n_chunks, r.chunk_pos)
        for r in out.collect()
    )
    rows = sorted((r.doc_id, len(r.text.split(" "))) for r in docs.select("doc_id", "text").collect())
    off, exp = 0, []
    for did, nt in rows:
        last = off + max(nt, 1) - 1
        exp.append((did, nt, off, off // 64, last // 64, last // 64 - off // 64 + 1, off % 64))
        off += nt
    assert got == exp
    assert any(g[5] > 1 for g in got), "fixture must contain boundary-spanning docs"
    for h in pin:
        h.unpersist()


def test_pack_documents_token_col_and_order_col(spark):
    from mrmr_spark.operators.curation import pack_documents

    df = spark.createDataFrame(
        [(3, "irrelevant", 10), (1, "x", 5), (2, "y", 7)],
        "doc_id long, text string, toks long",
    )
    pin = []
    out = pack_documents(df, budget=8, token_col="toks", order_col="doc_id", pin=pin)
    got = {r.doc_id: (r.token_offset, r.chunk_first, r.chunk_last) for r in out.collect()}
    # order 1(5), 2(7), 3(10): offsets 0, 5, 12
    assert got == {1: (0, 0, 0), 2: (5, 0, 1), 3: (12, 1, 2)}
    for h in pin:
        h.unpersist()


def test_pack_documents_rejects_bad_budget(docs):
    from mrmr_spark.operators.curation import pack_documents

    with pytest.raises(ValueError, match="budget"):
        pack_documents(docs, budget=0)


def test_ngram_lm_score_matches_python_oracle(docs):
    import math

    from mrmr_spark.operators.curation import bigram_lm_counts, ngram_lm_score

    ref = docs.where(F.col("doc_id") % 5 == 0)
    model = bigram_lm_counts(ref)
    uni, big = Counter(), Counter()
    for r in ref.collect():
        ws = r.text.split(" ")
        uni.update(ws)
        big.update(" ".join(ws[i : i + 2]) for i in range(len(ws) - 1))
    assert model["vocab_size"] == len(uni)

    k = 0.5
    got = {r.doc_id: r for r in ngram_lm_score(docs, model, add_k=k).collect()}
    n_scored = 0
    for r in docs.collect():
        ws = r.text.split(" ")
        if len(ws) < 2:
            assert r.doc_id not in got  # no transitions -> no row
            continue
        lps = [
            math.log((big[" ".join(ws[i : i + 2])] + k) / (uni[ws[i]] + k * len(uni)))
            for i in range(len(ws) - 1)
        ]
        g = got[r.doc_id]
        assert g.n_terms == len(lps)
        assert g.avg_logprob == pytest.approx(sum(lps) / len(lps), abs=1e-9)
        assert g.ppl == pytest.approx(math.exp(-sum(lps) / len(lps)), rel=1e-9)
        n_scored += 1
    assert n_scored == len(got)


def test_ngram_lm_score_decimal_mode_close_and_deterministic(docs):
    from mrmr_spark.operators.curation import bigram_lm_counts, ngram_lm_score

    model = bigram_lm_counts(docs.where(F.col("doc_id") % 5 == 0))
    f = {r.doc_id: r.avg_logprob for r in ngram_lm_score(docs, model).collect()}
    d1 = {r.doc_id: r.avg_logprob for r in ngram_lm_score(docs, model, decimal_terms=True).collect()}
    d2 = {
        r.doc_id: r.avg_logprob
        for r in ngram_lm_score(
            docs.repartition(7), model, decimal_terms=True
        ).collect()
    }
    for did in f:
        assert d1[did] == pytest.approx(f[did], abs=1e-9)
        assert d1[did] == d2[did]  # bit-equal under any partitioning


def test_gopher_filter_matches_python_oracle(docs):
    from mrmr_spark.operators.curation import gopher_quality_filter

    kw = dict(min_words=8, min_mean_word_len=1.0, max_mean_word_len=3.0,
              min_stopword_hits=0, max_top2gram_frac=0.5, max_dup3gram_frac=0.5)
    out = {r.doc_id: r for r in gopher_quality_filter(docs, **kw).collect()}
    n_keep = 0
    for r in docs.collect():
        ws = r.text.split(" ")
        grams2 = [" ".join(ws[i:i+2]) for i in range(len(ws)-1)] if len(ws) >= 2 else []
        grams3 = [" ".join(ws[i:i+3]) for i in range(len(ws)-2)] if len(ws) >= 3 else []
        c2, c3 = Counter(grams2), Counter(grams3)
        top2 = max(c2.values()) / len(grams2) if grams2 else 0.0
        dup3 = (sum(v for v in c3.values() if v > 1) / len(grams3)) if grams3 else 0.0
        exp = {
            "q_words": 8 <= len(ws) <= 100_000,
            "q_word_len": 1.0 <= sum(map(len, ws)) / max(len(ws), 1) <= 3.0,
            "q_symbols": True,  # fixture is alnum-only
            "q_stopwords": True,  # min 0
            "q_rep2": top2 <= 0.5,
            "q_rep3": dup3 <= 0.5,
        }
        g = out[r.doc_id]
        for k, v in exp.items():
            assert g[k] == v, (r.doc_id, k)
        assert g.keep == all(exp.values())
        n_keep += g.keep
    assert 0 < n_keep < len(out), "thresholds must split the fixture"


def test_gopher_filter_drop_mode_and_validation(docs):
    from mrmr_spark.operators.curation import gopher_quality_filter

    kw = dict(min_words=8, min_mean_word_len=1.0, max_mean_word_len=3.0,
              min_stopword_hits=0)
    flagged = gopher_quality_filter(docs, **kw)
    dropped = gopher_quality_filter(docs, mode="drop", **kw)
    assert dropped.columns == docs.columns
    assert dropped.count() == flagged.where("keep").count()
    with pytest.raises(ValueError, match="mode"):
        gopher_quality_filter(docs, mode="oops")


def test_gopher_filter_plan_is_pure_project(docs):
    from mrmr_spark.operators.curation import gopher_quality_filter

    plan = (
        gopher_quality_filter(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # the repetition caps: one fused kernel for both orders
    assert plan.count("ArrowEvalPython") == 1, plan


def _ekey(did, w):
    import math

    u = ((did * 2654435761) % 4294967296) / 4294967296
    u = max(u, 0.5 / 4294967296)
    return -math.log(u) / w


def test_weighted_sample_matches_python_oracle(docs):
    from mrmr_spark.operators.curation import weighted_sample_exact

    d = docs.withColumn("w", (F.length("text") + 1).cast("double"))
    rows = [(r.doc_id, r.w, r.source) for r in d.select("doc_id", "w", "source").collect()]

    got = sorted(r.doc_id for r in weighted_sample_exact(d, "w", 15, hash_fn="affine").collect())
    exp = sorted(r[0] for r in sorted(rows, key=lambda r: (_ekey(r[0], r[1]), r[0]))[:15])
    assert got == exp

    got_s = sorted(
        (r.source, r.doc_id)
        for r in weighted_sample_exact(d, "w", 2, strata_col="source", hash_fn="affine").collect()
    )
    by = {}
    for r in rows:
        by.setdefault(r[2], []).append(r)
    exp_s = sorted(
        (s, r[0])
        for s, rs in by.items()
        for r in sorted(rs, key=lambda r: (_ekey(r[0], r[1]), r[0]))[:2]
    )
    assert got_s == exp_s


def test_weighted_sample_prefers_heavy_rows(spark):
    from mrmr_spark.operators.curation import weighted_sample_exact

    # 500 rows, 50 with weight 100x the rest: the heavy rows must
    # dominate a k=50 sample (expected ~46; deterministic given xxhash64)
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, 100.0).otherwise(1.0).alias("w"),
    )
    got = weighted_sample_exact(df, "w", 50)
    n_heavy = got.where("doc_id % 10 = 0").count()
    assert n_heavy >= 35, n_heavy


def test_weighted_sample_rejects_bad_weights(docs):
    from mrmr_spark.operators.curation import weighted_sample_exact

    for bad in (F.lit(0.0), F.lit(-1.0), F.lit(float("inf")), F.lit(None).cast("double")):
        with pytest.raises(ValueError, match="positive finite"):
            weighted_sample_exact(docs.withColumn("w", bad), "w", 3)


def test_weighted_sample_deterministic(docs):
    from mrmr_spark.operators.curation import weighted_sample_exact

    d = docs.withColumn("w", (F.length("text") + 1).cast("double"))
    a = sorted(r.doc_id for r in weighted_sample_exact(d, "w", 20).collect())
    b = sorted(r.doc_id for r in weighted_sample_exact(d.repartition(13), "w", 20).collect())
    assert a == b


@pytest.mark.parametrize("mode", ["flag", "drop"])
def test_decontaminate_gram_key_backends_identical(docs, mode):
    """Token-hash-slice keys (xxhash64) and gram-string keys (md5_60)
    agree."""
    bench = docs.where(F.col("doc_id") % 11 == 0)
    corpus = docs.where(F.col("doc_id") % 11 != 0)
    a = decontaminate(corpus, bench, n=3, mode=mode, hash_fn="xxhash64")
    b = decontaminate(corpus, bench, n=3, mode=mode, hash_fn="md5_60")
    ka = sorted(tuple(r) for r in a.collect())
    kb = sorted(tuple(r) for r in b.collect())
    assert ka == kb


def test_hash_split_matches_python_oracle_and_is_stable(docs):
    from mrmr_spark.operators.curation import hash_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r.doc_id: r.split for r in hash_split(docs, fr, hash_fn="affine").collect()}
    for did in got:
        u = ((did * 2654435761) % 4294967296) / 4294967296
        exp = "train" if u < 0.8 else ("val" if u < 0.9 else "test")
        assert got[did] == exp, did
    # growth stability: adding rows never reassigns existing rows
    half = docs.where("doc_id < 100")
    sub = {r.doc_id: r.split for r in hash_split(half, fr, hash_fn="affine").collect()}
    assert all(got[d] == s for d, s in sub.items())
    # default family covers all splits at reasonable proportions
    full = hash_split(docs, fr)
    per = {r["split"]: r["cnt"] for r in full.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    n = sum(per.values())
    assert set(per) == {"train", "val", "test"}
    assert per["train"] / n > 0.6


def test_hash_split_validation(docs):
    from mrmr_spark.operators.curation import hash_split

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="positive"):
        hash_split(docs, {"a": 1.5, "b": -0.5})
    with pytest.raises(ValueError, match="non-empty"):
        hash_split(docs, {})


def test_lm_score_gram_key_backends_identical(docs):
    from mrmr_spark.operators.curation import bigram_lm_counts, ngram_lm_score

    ref = docs.where(F.col("doc_id") % 5 == 0)
    m_tok = bigram_lm_counts(ref, hash_fn="xxhash64")
    m_str = bigram_lm_counts(ref, hash_fn="md5_60")
    assert m_tok["vocab_size"] == m_str["vocab_size"]
    a = {r.doc_id: (r.n_terms, r.avg_logprob) for r in ngram_lm_score(docs, m_tok).collect()}
    b = {r.doc_id: (r.n_terms, r.avg_logprob) for r in ngram_lm_score(docs, m_str).collect()}
    assert set(a) == set(b)
    for did in a:
        assert a[did][0] == b[did][0]
        assert a[did][1] == pytest.approx(b[did][1], abs=1e-12)


def test_explode_chunks_tiles_every_chunk(docs):
    from collections import defaultdict

    from mrmr_spark.operators.curation import explode_chunks, pack_documents

    pin = []
    packed = pack_documents(docs, budget=64, pin=pin)
    rows = explode_chunks(packed, 64).collect()
    tot = packed.agg(F.sum("n_tokens")).first()[0]

    per_chunk, per_doc, tiles = {}, {}, defaultdict(list)
    for r in rows:
        per_chunk[r.chunk_id] = per_chunk.get(r.chunk_id, 0) + r.span
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.span
        tiles[r.chunk_id].append((r.chunk_pos, r.span))
    last = max(per_chunk)
    for cid, s in per_chunk.items():
        assert s == (64 if cid != last else tot - 64 * last), cid
    nt = {r.doc_id: r.n_tokens for r in packed.collect()}
    assert per_doc == {d: n for d, n in nt.items() if n > 0}
    for cid, sp in tiles.items():
        sp.sort()
        pos = 0
        for p, s in sp:
            assert p == pos, cid
            pos += s
    for h in pin:
        h.unpersist()

    with pytest.raises(ValueError, match="budget"):
        explode_chunks(packed, 0)


@pytest.mark.parametrize("order", [2, 3])
@pytest.mark.parametrize(
    "hash_fn",
    # ids name the key construction each family uses
    [pytest.param("xxhash64", id="tokens"), pytest.param("md5_60", id="string")],
)
def test_ngram_lm_any_order_matches_python(docs, order, hash_fn):
    import math

    from mrmr_spark.operators.curation import bigram_lm_counts, ngram_lm_score

    ref = docs.where(F.col("doc_id") % 5 == 0)
    model = bigram_lm_counts(ref, hash_fn=hash_fn, order=order)
    grams, prefixes, vocab = Counter(), Counter(), set()
    for r in ref.collect():
        ws = r.text.split(" ")
        vocab.update(ws)
        grams.update(" ".join(ws[i : i + order]) for i in range(len(ws) - order + 1))
        prefixes.update(
            " ".join(ws[i : i + order - 1]) for i in range(len(ws) - order + 2)
        )
    assert model["vocab_size"] == len(vocab)

    k = 0.5
    got = {r.doc_id: r for r in ngram_lm_score(docs, model, add_k=k).collect()}
    for r in docs.collect():
        ws = r.text.split(" ")
        if len(ws) < order:
            assert r.doc_id not in got
            continue
        lps = [
            math.log(
                (grams[" ".join(ws[i : i + order])] + k)
                / (prefixes[" ".join(ws[i : i + order - 1])] + k * len(vocab))
            )
            for i in range(len(ws) - order + 1)
        ]
        g = got[r.doc_id]
        assert g.n_terms == len(lps)
        assert g.avg_logprob == pytest.approx(sum(lps) / len(lps), abs=1e-9)


# ---------------------------------------------------------------------------
# Exact substring (span) deduplication — Lee et al. 2021 scheme
# ---------------------------------------------------------------------------

def _py_dup_spans(rows, n, min_df=2, keep_first=True):
    """Independent oracle: gram occurrences -> df counts -> canonical
    exemption -> merge positions closer than n into maximal spans."""
    occ = []
    for did, text in rows:
        ts = text.split(" ")
        for p in range(len(ts) - n + 1):
            occ.append((did, p, tuple(ts[p : p + n])))
    df_ = Counter(g for _, _, g in occ)
    canon = {}
    for did, p, g in sorted(occ):
        canon.setdefault(g, (did, p))
    from collections import defaultdict

    dup = defaultdict(list)
    for did, p, g in occ:
        if df_[g] >= min_df and (not keep_first or canon[g] != (did, p)):
            dup[did].append(p)
    spans = []
    for did, ps in dup.items():
        ps.sort()
        s = last = None
        cnt = 0
        for p in ps:
            if s is None:
                s, last, cnt = p, p, 1
            elif p <= last + n:
                last, cnt = p, cnt + 1
            else:
                spans.append((did, s, last + n, cnt))
                s, last, cnt = p, p, 1
        if s is not None:
            spans.append((did, s, last + n, cnt))
    return sorted(spans)


@pytest.fixture(scope="module")
def span_docs(spark):
    """Cross-doc planted passages over a tiny vocab: shared 8-token
    passages at different offsets, a three-way copy (two non-canonical
    spans), an exact whole-doc duplicate pair, and unique filler."""
    import random

    rng = random.Random(13)
    vocab = [f"v{i}" for i in range(40)]
    passage_a = " ".join(rng.choice(vocab) for _ in range(8))
    passage_b = " ".join(rng.choice(vocab) for _ in range(11))
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        txt = " ".join(words)
        if i % 7 == 0:
            txt = f"{txt} {passage_a}".strip()
        if i % 11 == 0:
            txt = f"{passage_b} {txt}".strip()
        rows.append((i, txt))
    rows.append((100, rows[3][1]))  # exact whole-doc duplicate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.cache()


@pytest.mark.parametrize("keep_first", [True, False])
def test_duplicate_spans_matches_python_oracle(span_docs, keep_first):
    from mrmr_spark.operators.curation import duplicate_spans

    rows = [(r.doc_id, r.text) for r in span_docs.collect()]
    n = 4
    want = _py_dup_spans(rows, n, keep_first=keep_first)
    got = sorted(
        (r.doc_id, r.tok_start, r.tok_end, r.n_grams)
        for r in duplicate_spans(span_docs, n=n, keep_first=keep_first).collect()
    )
    assert want, "fixture must contain duplicated spans"
    assert got == want


def test_duplicate_spans_gram_key_backends_identical(span_docs):
    from mrmr_spark.operators.curation import duplicate_spans

    a = sorted(map(tuple, duplicate_spans(span_docs, n=4).collect()))
    b = sorted(map(tuple, duplicate_spans(span_docs, n=4, hash_fn="md5_60").collect()))
    assert a == b


def test_duplicate_spans_canonical_copy_untouched(span_docs):
    """keep_first: the (min doc_id, pos) copy of the whole-doc duplicate
    pair yields no span; the later copy is spanned end to end."""
    from mrmr_spark.operators.curation import duplicate_spans

    n = 4
    spans = duplicate_spans(span_docs, n=n).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append(r)
    txt3 = {r.doc_id: r.text for r in span_docs.collect()}
    ntok = len(txt3[3].split(" "))
    if ntok >= n:
        got = by_doc[100]
        assert len(got) == 1
        assert (got[0].tok_start, got[0].tok_end) == (0, ntok)
        # doc 3's copy of ITS OWN text is canonical except where doc 3
        # shares grams with other docs' planted passages
        own = [
            s for s in by_doc.get(3, []) if s.tok_end - s.tok_start >= ntok
        ]
        assert not own


def test_trim_duplicate_spans_matches_python_oracle(span_docs):
    from mrmr_spark.operators.curation import duplicate_spans, trim_duplicate_spans

    rows = [(r.doc_id, r.text) for r in span_docs.collect()]
    n = 4
    spans = _py_dup_spans(rows, n)
    by_doc = {}
    for did, s, e, _ in spans:
        by_doc.setdefault(did, []).append((s, e))
    want = {}
    for did, text in rows:
        ts = text.split(" ")
        sp = by_doc.get(did)
        if sp is None:
            want[did] = (text, 0)
        else:
            kept = [
                t
                for i, t in enumerate(ts)
                if not any(s <= i < e for s, e in sp)
            ]
            want[did] = (" ".join(kept), len(ts) - len(kept))
    out = trim_duplicate_spans(span_docs, duplicate_spans(span_docs, n=n))
    got = {r.doc_id: (r.text, r.n_removed_tokens) for r in out.collect()}
    assert got == want
    assert any(v[1] > 0 for v in want.values())
    assert any(v[1] == 0 for v in want.values())


def test_trim_duplicate_spans_out_col_keeps_original(span_docs):
    from mrmr_spark.operators.curation import duplicate_spans, trim_duplicate_spans

    sp = duplicate_spans(span_docs, n=4)
    out = trim_duplicate_spans(span_docs, sp, out_col="clean_text")
    orig = {r.doc_id: r.text for r in span_docs.collect()}
    for r in out.collect():
        assert r.text == orig[r.doc_id]
        if r.n_removed_tokens == 0:
            assert r.clean_text == r.text


def test_duplicate_spans_validation(span_docs):
    from mrmr_spark.operators.curation import duplicate_spans

    with pytest.raises(ValueError, match="min_df"):
        duplicate_spans(span_docs, min_df=1)
    with pytest.raises(ValueError, match="n must"):
        duplicate_spans(span_docs, n=0)


# ---------------------------------------------------------------------------
# DSIR — hashed n-gram importance weights + Gumbel resampling
# ---------------------------------------------------------------------------

def _md5_bucket(g: str, b: int) -> int:
    import hashlib

    return int(hashlib.md5(f"1:{g}".encode()).hexdigest()[:15], 16) % b


def _py_dsir_counts(rows, ns, b):
    c = Counter()
    for _, text in rows:
        ts = text.split(" ")
        for n in ns:
            for i in range(len(ts) - n + 1):
                c[_md5_bucket(" ".join(ts[i : i + n]), b)] += 1
    return c, sum(c.values())


@pytest.fixture(scope="module")
def dsir_docs(spark):
    import random

    rng = random.Random(17)
    tv = [f"sci{i}" for i in range(15)]
    rv = [f"web{i}" for i in range(60)]
    pool, target = [], []
    for i in range(150):
        mix = 0.8 if i % 5 == 0 else 0.05
        ws = [rng.choice(tv) if rng.random() < mix else rng.choice(rv)
              for _ in range(rng.randint(2, 25))]
        pool.append((i, " ".join(ws)))
    for i in range(40):
        target.append((1000 + i, " ".join(rng.choice(tv) for _ in range(20))))
    return (
        spark.createDataFrame(pool, "doc_id long, text string").cache(),
        spark.createDataFrame(target, "doc_id long, text string").cache(),
        pool,
        target,
    )


def test_dsir_logweights_matches_python_oracle(dsir_docs):
    import math

    from mrmr_spark.operators.curation import dsir_bucket_counts, dsir_logweights

    docs, target, pool_rows, target_rows = dsir_docs
    b, ns, a = 256, (1, 2), 1.0
    tm = dsir_bucket_counts(target, ns=ns, n_buckets=b, hash_fn="md5_60")
    rm = dsir_bucket_counts(docs, ns=ns, n_buckets=b, hash_fn="md5_60")
    tc, tt = _py_dsir_counts(target_rows, ns, b)
    rc, rt = _py_dsir_counts(pool_rows, ns, b)
    assert tm["total"] == tt and rm["total"] == rt
    got = {r.doc_id: r for r in dsir_logweights(docs, tm, rm, alpha=a).collect()}
    for did, text in pool_rows:
        ts = text.split(" ")
        grams = [
            " ".join(ts[i : i + n])
            for n in ns
            for i in range(len(ts) - n + 1)
        ]
        if not grams:
            assert did not in got
            continue
        want = sum(
            math.log((tc[_md5_bucket(g, b)] + a) / (tt + a * b))
            - math.log((rc[_md5_bucket(g, b)] + a) / (rt + a * b))
            for g in grams
        )
        r = got[did]
        assert r.n_features == len(grams)
        assert r.log_weight == pytest.approx(want, abs=1e-9)


def test_dsir_doc_counts_path_identical(dsir_docs):
    """The single-pass pooled path (dsir_doc_bucket_counts shared by raw
    model + scorer) must equal the plain two-pass path BIT FOR BIT in
    decimal mode: Σ_occurrences dec(lr) == Σ_buckets cnt·dec(lr)."""
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_doc_bucket_counts,
        dsir_logweights,
    )

    docs, target, _, _ = dsir_docs
    b, ns = 256, (1, 2)
    tm = dsir_bucket_counts(target, ns=ns, n_buckets=b, hash_fn="md5_60")
    rm_plain = dsir_bucket_counts(docs, ns=ns, n_buckets=b, hash_fn="md5_60")
    plain = {
        r.doc_id: r
        for r in dsir_logweights(docs, tm, rm_plain, decimal_terms=True).collect()
    }
    dc = dsir_doc_bucket_counts(docs, ns=ns, n_buckets=b, hash_fn="md5_60").persist()
    rm_pooled = dsir_bucket_counts(None, ns=ns, n_buckets=b, hash_fn="md5_60", doc_counts=dc)
    pooled = {
        r.doc_id: r
        for r in dsir_logweights(
            docs, tm, rm_pooled, decimal_terms=True, doc_counts=dc
        ).collect()
    }
    dc.unpersist()
    assert rm_pooled["total"] == rm_plain["total"]
    assert set(plain) == set(pooled)
    for did, r in plain.items():
        assert pooled[did].n_features == r.n_features
        assert pooled[did].log_weight == r.log_weight  # exact


def test_dsir_doc_counts_parameter_mismatch(dsir_docs):
    """A doc_counts frame records the hashed feature space it was built in
    (surviving persist); a consumer in another space raises a ValueError
    naming the field, and a frame not built by dsir_doc_bucket_counts is
    refused."""
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_doc_bucket_counts,
        dsir_logweights,
    )

    docs, target, _, _ = dsir_docs
    dc = dsir_doc_bucket_counts(docs, ns=(1, 2), n_buckets=64, hash_fn="md5_60").persist()
    base = {"ns": (1, 2), "n_buckets": 64, "hash_fn": "md5_60"}
    try:
        for field, other in (
            ("n_buckets", 128), ("ns", (1,)), ("hash_fn", "xxhash64"), ("split", "\\s+"),
        ):
            with pytest.raises(ValueError, match=field):
                dsir_bucket_counts(None, doc_counts=dc, **{**base, field: other})
        tm = dsir_bucket_counts(target, **base)
        rm = dsir_bucket_counts(None, doc_counts=dc, **base)
        for field, other in (("n_buckets", 128), ("ns", (1,)), ("hash_fn", "xxhash64")):
            with pytest.raises(ValueError, match=field):
                dsir_logweights(
                    docs, {**tm, field: other}, {**rm, field: other}, doc_counts=dc
                )
        with pytest.raises(ValueError, match="split"):
            dsir_logweights(docs, tm, rm, split="\\s+", doc_counts=dc)
        bare = dc.select("doc_id", (F.col("bucket") + 0).alias("bucket"), "cnt")
        with pytest.raises(ValueError, match="dsir_doc_bucket_counts"):
            dsir_logweights(docs, tm, rm, doc_counts=bare)
    finally:
        dc.unpersist()


def test_dsir_prefers_target_like_docs(dsir_docs):
    from mrmr_spark.operators.curation import dsir_bucket_counts, dsir_logweights

    docs, target, pool_rows, _ = dsir_docs
    tm = dsir_bucket_counts(target, n_buckets=512)
    rm = dsir_bucket_counts(docs, n_buckets=512)
    lw = dsir_logweights(docs, tm, rm)
    top = [
        r.doc_id
        for r in lw.orderBy(
            F.desc(F.col("log_weight") / F.col("n_features"))
        ).limit(25).collect()
    ]
    assert sum(1 for d in top if d % 5 == 0) >= 23


def test_dsir_sample_equals_weighted_sample_on_exp_weights(dsir_docs):
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_logweights,
        dsir_sample,
        weighted_sample_exact,
    )

    docs, target, _, _ = dsir_docs
    tm = dsir_bucket_counts(target, n_buckets=512)
    rm = dsir_bucket_counts(docs, n_buckets=512)
    j = docs.join(dsir_logweights(docs, tm, rm), "doc_id").withColumn(
        "w", F.exp("log_weight")
    )
    for hash_fn in ("xxhash64", "affine"):
        a = sorted(r.doc_id for r in dsir_sample(j, 30, hash_fn=hash_fn).collect())
        b = sorted(
            r.doc_id
            for r in weighted_sample_exact(j, "w", 30, hash_fn=hash_fn).collect()
        )
        assert a == b and len(a) == 30


def test_dsir_bucket_counts_requires_an_input():
    """With neither a reference corpus nor precomputed doc counts there is
    nothing to count: a ValueError naming both arguments, not an
    AttributeError on None."""
    from mrmr_spark.operators.curation import dsir_bucket_counts

    with pytest.raises(ValueError, match="reference or doc_counts"):
        dsir_bucket_counts(None, doc_counts=None)


def test_dsir_validation(dsir_docs):
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_logweights,
        dsir_sample,
    )

    docs, target, _, _ = dsir_docs
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_bucket_counts(target, n_buckets=1)
    with pytest.raises(ValueError, match="ns"):
        dsir_bucket_counts(target, ns=())
    tm = dsir_bucket_counts(target, n_buckets=64)
    rm = dsir_bucket_counts(docs, n_buckets=128)
    with pytest.raises(ValueError, match="disagree on n_buckets"):
        dsir_logweights(docs, tm, rm)
    bad = docs.limit(5).withColumn("log_weight", F.lit(float("inf")))
    with pytest.raises(ValueError, match="finite"):
        dsir_sample(bad, 3)


def test_dsir_logweight_expr_matches_join_path(dsir_docs):
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_logweight_expr,
        dsir_logweights,
    )

    docs, target, _, _ = dsir_docs
    for hash_fn in ("xxhash64", "md5_60"):
        tm = dsir_bucket_counts(target, n_buckets=128, hash_fn=hash_fn)
        rm = dsir_bucket_counts(docs, n_buckets=128, hash_fn=hash_fn)
        nf, lw = dsir_logweight_expr(tm, rm)
        got = {
            r.doc_id: (r.n_features, r.log_weight)
            for r in docs.select("doc_id", nf, lw).collect()
        }
        want = {
            r.doc_id: (r.n_features, r.log_weight)
            for r in dsir_logweights(docs, tm, rm).collect()
        }
        for did, (n, w) in want.items():
            assert got[did][0] == n
            assert got[did][1] == pytest.approx(w, abs=1e-9)
        # expr path also scores gram-less docs as (n>=0, 0.0); join path omits
        for did in set(got) - set(want):
            assert got[did][1] == 0.0


def test_dsir_logweight_expr_decimal_matches_join_decimal(dsir_docs):
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_logweight_expr,
        dsir_logweights,
    )

    docs, target, _, _ = dsir_docs
    tm = dsir_bucket_counts(target, n_buckets=64)
    rm = dsir_bucket_counts(docs, n_buckets=64)
    nf, lw = dsir_logweight_expr(tm, rm, decimal_terms=True)
    got = {r.doc_id: r.log_weight for r in docs.select("doc_id", nf, lw).collect()}
    want = {
        r.doc_id: r.log_weight
        for r in dsir_logweights(docs, tm, rm, decimal_terms=True).collect()
    }
    for did, w in want.items():
        assert got[did] == pytest.approx(w, abs=1e-9)


def test_dsir_expr_plan_is_pure_project(dsir_docs):
    from mrmr_spark.operators.curation import dsir_bucket_counts, dsir_logweight_expr

    docs, target, _, _ = dsir_docs
    tm = dsir_bucket_counts(target, n_buckets=64)
    rm = dsir_bucket_counts(docs, n_buckets=64)
    nf, lw = dsir_logweight_expr(tm, rm)
    plan = docs.select("doc_id", nf, lw)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "SortMergeJoin", "BroadcastHashJoin"):
        assert node not in plan


# ---------------------------------------------------------------------------
# Surgical decontamination — contamination_spans + trim
# ---------------------------------------------------------------------------

def _py_contam_spans(rows, bench_texts, n):
    bench = set()
    for t in bench_texts:
        ts = t.split(" ")
        for i in range(len(ts) - n + 1):
            bench.add(tuple(ts[i : i + n]))
    spans = []
    for did, text in rows:
        ts = text.split(" ")
        ps = [
            p for p in range(len(ts) - n + 1) if tuple(ts[p : p + n]) in bench
        ]
        s = last = None
        cnt = 0
        for p in ps:
            if s is None:
                s, last, cnt = p, p, 1
            elif p <= last + n:
                last, cnt = p, cnt + 1
            else:
                spans.append((did, s, last + n, cnt))
                s, last, cnt = p, p, 1
        if s is not None:
            spans.append((did, s, last + n, cnt))
    return sorted(spans)


def test_contamination_spans_matches_python_oracle(spark):
    import random

    from mrmr_spark.operators.curation import (
        contamination_spans,
        trim_duplicate_spans,
    )

    rng = random.Random(31)
    vocab = [f"c{i}" for i in range(50)]
    eval_q = " ".join(rng.choice(vocab) for _ in range(9))
    bench_texts = [f"intro {eval_q} outro", "another eval item entirely here okay"]
    rows = []
    for i in range(80):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        txt = " ".join(words)
        if i % 6 == 0:  # quote the eval item mid-document
            txt = f"{txt} {eval_q} {txt}".strip()
        rows.append((i, txt))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(j, t) for j, t in enumerate(bench_texts)],
                                  "doc_id long, text string")
    n = 5
    want = _py_contam_spans(rows, bench_texts, n)
    sp = contamination_spans(docs, bench, n=n)
    got = sorted((r.doc_id, r.tok_start, r.tok_end, r.n_grams) for r in sp.collect())
    assert want and got == want

    # trimming removes the contaminated passage, keeps the rest
    out = {r.doc_id: r for r in trim_duplicate_spans(docs, sp).collect()}
    by_doc = {}
    for did, s, e, _ in want:
        by_doc.setdefault(did, []).append((s, e))
    for did, text in rows:
        r = out[did]
        if did not in by_doc:
            assert r.n_removed_tokens == 0 and r.text == text
        else:
            ts = text.split(" ")
            kept = [t for i, t in enumerate(ts)
                    if not any(s <= i < e for s, e in by_doc[did])]
            assert r.text == " ".join(kept)
            assert r.n_removed_tokens == len(ts) - len(kept)
            assert eval_q not in r.text


def test_contamination_spans_backends_identical(spark):
    from mrmr_spark.operators.curation import contamination_spans

    rows = [(i, f"w{i % 3} shared eval gram here w{i % 5} tail") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(0, "the shared eval gram here marker")],
                                  "doc_id long, text string")
    a = sorted(map(tuple, contamination_spans(docs, bench, n=4).collect()))
    b = sorted(map(tuple, contamination_spans(docs, bench, n=4, hash_fn="md5_60").collect()))
    assert a == b and a, "planted overlap must produce spans"


# ---------------------------------------------------------------- ppl buckets


def _bucket_rows(n_per_group=30, groups=("en", "fr")):
    """Tie-free scores: doc i in group g scores i*10 + hash-ish jitter."""
    rows = []
    i = 0
    for g in groups:
        for k in range(n_per_group):
            rows.append((i, g, float(k * 10 + (i * 7) % 9)))
            i += 1
    return rows


def test_ppl_buckets_rank_mode_thirds(spark):
    from mrmr_spark.operators.curation import perplexity_buckets

    rows = _bucket_rows()
    d = spark.createDataFrame(rows, "doc_id long, lang string, ppl double")
    out = perplexity_buckets(d, group_col="lang").collect()
    # per group: lowest-ppl third is head, highest is tail, sizes 10/10/10
    by = {}
    for r in out:
        by.setdefault(r.lang, []).append((r.ppl, r.ppl_bucket))
    for g, xs in by.items():
        xs.sort()
        labs = [b for _, b in xs]
        assert labs == ["head"] * 10 + ["middle"] * 10 + ["tail"] * 10


def test_ppl_buckets_cut_modes_match_rank_mode(spark):
    from mrmr_spark.operators.curation import perplexity_buckets, perplexity_cuts

    rows = _bucket_rows(n_per_group=40)
    d = spark.createDataFrame(rows, "doc_id long, lang string, ppl double")
    rank = {r.doc_id: r.ppl_bucket
            for r in perplexity_buckets(d, group_col="lang").collect()}

    # cuts-DataFrame mode: exact per-group quantiles at the same fractions
    # (tie-free scores, so the quantile cut reproduces the rank split
    # except at the interpolated boundary — verify bucket SIZES match and
    # ordering is consistent)
    cuts = perplexity_cuts(d, fractions=(1 / 3, 2 / 3), group_col="lang")
    cut_mode = {r.doc_id: r.ppl_bucket
                for r in perplexity_buckets(d, cuts=cuts, group_col="lang").collect()}
    assert set(cut_mode) == set(rank)
    order = {"head": 0, "middle": 1, "tail": 2}
    ppl = {i: p for i, _, p in rows}
    # both modes must be monotone in ppl within a group
    for mode in (rank, cut_mode):
        for g in ("en", "fr"):
            xs = sorted((ppl[i], mode[i]) for i, gg, _ in rows if gg == g)
            ranks = [order[b] for _, b in xs]
            assert ranks == sorted(ranks)
    # and agree on all but possibly the two boundary docs per group
    diff = [i for i in rank if rank[i] != cut_mode[i]]
    assert len(diff) <= 4

    # literal global cuts: pure projection, exact thresholds honored
    lit = perplexity_buckets(d, cuts=[95.0, 250.0])
    got = {r.doc_id: r.ppl_bucket for r in lit.collect()}
    for i, _, p in rows:
        want = "head" if p <= 95.0 else ("middle" if p <= 250.0 else "tail")
        assert got[i] == want


def test_ppl_buckets_null_and_validation(spark):
    from mrmr_spark.operators.curation import perplexity_buckets, perplexity_cuts

    d = spark.createDataFrame(
        [(0, "en", 1.0), (1, "en", None), (2, "en", 9.0)],
        "doc_id long, lang string, ppl double",
    )
    out = {r.doc_id: r.ppl_bucket
           for r in perplexity_buckets(d, cuts=[5.0], labels=("keep", "drop")).collect()}
    assert out == {0: "keep", 1: None, 2: "drop"}

    with pytest.raises(ValueError, match="len\\(cuts\\)"):
        perplexity_buckets(d, cuts=[1.0, 2.0], labels=("a", "b"))
    with pytest.raises(ValueError, match="non-decreasing"):
        perplexity_buckets(d, cuts=[2.0, 1.0], labels=("a", "b", "c"))
    with pytest.raises(ValueError, match="increasing"):
        perplexity_buckets(d, fractions=(0.9, 0.1))
    with pytest.raises(ValueError, match="increasing"):
        perplexity_cuts(d, fractions=(0.0, 0.5))
    with pytest.raises(ValueError, match="group_col"):
        perplexity_buckets(d, cuts=perplexity_cuts(d, group_col="lang"))


def test_ppl_cuts_values(spark):
    from mrmr_spark.operators.curation import perplexity_cuts

    import numpy as np

    vals = [float(v) for v in (3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5)]
    d = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                              "doc_id long, ppl double")
    (row,) = perplexity_cuts(d, fractions=(0.25, 0.5)).collect()
    want = np.percentile(vals, [25, 50], method="linear")
    assert row.cuts == pytest.approx(list(want), abs=0)


# ---------------------------------------------------------------- corpus report


def test_corpus_report_values_and_nulls(spark):
    from mrmr_spark.operators.curation import corpus_report

    d = spark.createDataFrame(
        [
            (0, "web", "a b c"),
            (1, "web", ""),
            (2, "web", None),
            (3, "code", "x y"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in corpus_report(d).collect()}
    assert rows["web"].n_docs == 3 and rows["web"].n_tokens == 3
    assert rows["web"].n_chars == 5 and rows["web"].mean_doc_tokens == 1.0
    assert rows["code"].n_docs == 1 and rows["code"].n_tokens == 2
    assert rows["web"].token_share == 0.6 and rows["code"].token_share == 0.4
    # multi-key grouping preserves key columns
    d2 = d.withColumn("lang", F.lit("en"))
    out = corpus_report(d2, by=["source", "lang"]).columns
    assert out[:2] == ["source", "lang"]
