"""Streaming exact dedup: first-arrival semantics across micro-batches in
both state regimes (unbounded exact / watermark-bounded), fingerprint
equivalence with the batch exact_dedup key, and the stateless text ops
running on a streaming frame unchanged."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mrmr_spark.operators.dedup import exact_dedup
from mrmr_spark.streaming.dedup import (
    streaming_exact_dedup,
    with_content_fingerprint,
)


def _docs():
    """3 slices; every duplicate content appears in at most ONE doc per
    slice so first-arrival is deterministic under maxFilesPerTrigger=1.
    Content A repeats in slices 0/1/2 (different ids, case/space variants),
    B in 1/2, C unique, D in 0/2."""
    base = pd.Timestamp("2024-05-01")
    rows = [
        # slice, doc_id, text, ts
        (0, "a0", "The Quick Brown Fox", base + pd.Timedelta(minutes=0)),
        (0, "d0", "delta doc", base + pd.Timedelta(minutes=1)),
        (0, "c0", "unique gamma content", base + pd.Timedelta(minutes=2)),
        (1, "a1", "  the quick brown fox  ", base + pd.Timedelta(minutes=10)),
        (1, "b1", "Beta Document", base + pd.Timedelta(minutes=11)),
        (2, "a2", "THE QUICK BROWN FOX", base + pd.Timedelta(minutes=20)),
        (2, "b2", "beta document", base + pd.Timedelta(minutes=21)),
        (2, "d2", "Delta Doc", base + pd.Timedelta(minutes=22)),
    ]
    pdf = pd.DataFrame(rows, columns=["slice", "doc_id", "text", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


@pytest.fixture(scope="module")
def doc_stream_dir(spark, tmp_path_factory):
    pdf = _docs()
    d = str(tmp_path_factory.mktemp("dedup_stream_in"))
    sdf = spark.createDataFrame(pdf)
    for i in sorted(pdf["slice"].unique()):
        part = sdf.where(f"slice = {i}").drop("slice").coalesce(1)
        sub = os.path.join(d, f"b{i}")
        part.write.mode("overwrite").parquet(sub)
        files = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        assert len(files) == 1
        os.rename(os.path.join(sub, files[0]), os.path.join(d, f"slice{i}.parquet"))
    schema = sdf.drop("slice").schema
    return d, schema, pdf


def _run_stream(spark, src, name):
    q = (
        src.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).toPandas()


def _read_stream(spark, d, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def test_streaming_exact_dedup_first_arrival(spark, doc_stream_dir):
    d, schema, pdf = doc_stream_dir
    out = _run_stream(
        spark, streaming_exact_dedup(_read_stream(spark, d, schema)), "sdedup_exact"
    )
    # first arrival per normalized content: a0, d0, c0, b1
    assert sorted(out["doc_id"]) == ["a0", "b1", "c0", "d0"]
    assert set(out.columns) == {"doc_id", "text", "ts"}  # fp cols dropped


def test_streaming_dedup_watermark_bounded(spark, doc_stream_dir):
    d, schema, pdf = doc_stream_dir
    # 5-minute horizon: state for slice-0 fingerprints is evicted before
    # slice 2 arrives (watermark advances to 21:00-5:00 > slice-0 times
    # after batch 1), so the late D duplicate at minute 22 is re-admitted;
    # B's duplicate (minute 21 vs 11) is outside the horizon too.
    src = _read_stream(spark, d, schema)
    out = _run_stream(
        spark,
        streaming_exact_dedup(src, ts_col="ts", watermark="5 minutes"),
        "sdedup_wm",
    )
    got = set(out["doc_id"])
    # every first arrival is present; duplicates within one horizon dropped
    assert {"a0", "b1", "c0", "d0"} <= got
    assert "a1" not in got  # same batch-adjacent horizon as a0's watermark
    # kept rows are unique per (fp, admission); no content appears twice
    # from within a single micro-batch
    assert len(out) == len(got)


def test_fingerprint_matches_batch_exact_dedup_key(spark, doc_stream_dir):
    _, _, pdf = doc_stream_dir
    df = spark.createDataFrame(pdf.drop(columns=["slice"]))
    fp = with_content_fingerprint(df).toPandas()
    groups = fp.groupby(["_fp1", "_fp2"])["doc_id"].apply(sorted).to_dict()
    batch = exact_dedup(df).toPandas()
    canon = batch.groupby("canonical_id")["doc_id"].apply(sorted).to_dict()
    # identical partition of docs into content groups
    assert sorted(groups.values()) == sorted(canon.values())


def test_stateless_text_ops_run_on_streams(spark, doc_stream_dir):
    """token stats / quality (per-row Column expressions) and winnow
    fingerprints (an Arrow kernel) run on a streaming frame with no twin
    needed."""
    from mrmr_spark.operators.textstats import winnow_fingerprints, with_text_stats

    d, schema, pdf = doc_stream_dir
    src = with_text_stats(_read_stream(spark, d, schema)).withColumn(
        "fps", winnow_fingerprints()
    )
    out = _run_stream(spark, src, "stext_stats")
    assert len(out) == len(pdf)
    batch = (
        with_text_stats(spark.createDataFrame(pdf.drop(columns=["slice"])))
        .withColumn("fps", winnow_fingerprints())
        .toPandas()
    )
    cols = [c for c in out.columns if c != "fps"]
    a = out.sort_values("doc_id").reset_index(drop=True)
    b = batch.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[cols], b[cols])
    assert [list(x) for x in a["fps"]] == [list(x) for x in b["fps"]]


@pytest.fixture(scope="module")
def contam_stream_dir(spark, tmp_path_factory):
    """3 slices of 12-word docs over a 9-word vocab (many repeated n-grams)."""
    rng = __import__("random").Random(3)
    vocab = [f"v{i}" for i in range(9)]
    rows = []
    for i in range(60):
        rows.append((i % 3, i, " ".join(rng.choice(vocab) for _ in range(12))))
    pdf = pd.DataFrame(rows, columns=["slice", "doc_id", "text"])
    d = str(tmp_path_factory.mktemp("contam_stream_in"))
    sdf = spark.createDataFrame(pdf)
    for i in range(3):
        part = sdf.where(f"slice = {i}").drop("slice").coalesce(1)
        sub = os.path.join(d, f"b{i}")
        part.write.mode("overwrite").parquet(sub)
        f = [x for x in os.listdir(sub) if x.endswith(".parquet")][0]
        os.rename(os.path.join(sub, f), os.path.join(d, f"slice{i}.parquet"))
    schema = sdf.drop("slice").schema
    return d, schema, sdf.drop("slice")


def test_repetition_stats_runs_on_streams(spark, contam_stream_dir):
    from mrmr_spark.operators.curation import with_repetition_stats

    d, schema, batch = contam_stream_dir
    stream = _read_stream(spark, d, schema)
    got = _run_stream(
        spark, with_repetition_stats(stream, ns=(2,)), "rep_stream"
    ).set_index("doc_id")
    exp = {r.doc_id: r.rep2_dup_frac for r in with_repetition_stats(batch, ns=(2,)).collect()}
    assert len(got) == len(exp)
    for did, v in exp.items():
        assert got.loc[did, "rep2_dup_frac"] == v


def test_gopher_filter_runs_on_streams(spark, contam_stream_dir):
    from mrmr_spark.operators.curation import gopher_quality_filter

    d, schema, batch = contam_stream_dir
    kw = dict(min_words=8, min_mean_word_len=1.0, max_mean_word_len=3.0,
              min_stopword_hits=0)
    stream = _read_stream(spark, d, schema)
    got = _run_stream(spark, gopher_quality_filter(stream, **kw), "gopher_stream")
    exp = {r.doc_id: r.keep for r in gopher_quality_filter(batch, **kw).collect()}
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert bool(r.keep) == exp[int(r.doc_id)]


def test_quantize_embeddings_runs_on_streams(spark, tmp_path_factory):
    import numpy as np

    from mrmr_spark.operators.similarity import quantize_embeddings

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "vec_id": range(40),
        "embedding": [list(map(float, v)) for v in rng.normal(size=(40, 8)).astype("float32")],
    })
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    d = str(tmp_path_factory.mktemp("emb_stream_in"))
    sdf.coalesce(1).write.mode("overwrite").parquet(d)

    stream = spark.readStream.schema(sdf.schema).parquet(d)
    got = _run_stream(spark, quantize_embeddings(stream), "quant_stream")
    exp = {r.vec_id: (list(r.q), r.scale) for r in quantize_embeddings(sdf).collect()}
    assert len(got) == len(exp)
    for r in got.itertuples():
        q, s = exp[int(r.vec_id)]
        assert list(r.q) == q and r.scale == s


def test_redact_pii_runs_on_streams(spark, tmp_path_factory):
    """PII redaction is a stateless projection — it runs on a streaming
    frame with no twin needed (the live-admission contract: scrub before
    anything is persisted)."""
    from mrmr_spark.operators.pii import redact_pii

    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                f"msg u{i}@ex.org from 10.0.0.{i}" if i % 2 == 0 else f"plain {i}"
                for i in range(6)
            ],
        }
    )
    sdf = spark.createDataFrame(pdf, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("pii_stream_in"))
    sdf.coalesce(1).write.mode("overwrite").parquet(d)

    stream = spark.readStream.schema(sdf.schema).parquet(d)
    got = _run_stream(spark, redact_pii(stream), "pii_stream")
    exp = {
        r.doc_id: (r.text, r.n_email, r.n_ipv4) for r in redact_pii(sdf).collect()
    }
    assert len(got) == len(exp)
    for r in got.itertuples():
        t, ne, ni = exp[int(r.doc_id)]
        assert r.text == t and r.n_email == ne and r.n_ipv4 == ni
    assert "[EMAIL]" in exp[0][0] and "[IPV4]" in exp[0][0]


def test_dsir_logweight_expr_runs_on_streams(spark, tmp_path_factory):
    """The pure-Column DSIR scorer (model folded into one literal
    log-ratio array) is a stateless projection — streaming admission
    scoring needs no twin, no state store, no shuffle."""
    from mrmr_spark.operators.curation import dsir_bucket_counts, dsir_logweight_expr

    rng = __import__("random").Random(11)
    tv = [f"sci{i}" for i in range(8)]
    rv = [f"web{i}" for i in range(30)]
    rows = [
        (i, " ".join((rng.choice(tv) if i % 3 == 0 else rng.choice(rv))
                     for _ in range(12)))
        for i in range(40)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    sdf = spark.createDataFrame(pdf, "doc_id long, text string")
    target = spark.createDataFrame(
        [(900, " ".join(rng.choice(tv) for _ in range(30)))], "doc_id long, text string"
    )
    tm = dsir_bucket_counts(target, n_buckets=64)
    rm = dsir_bucket_counts(sdf, n_buckets=64)
    nf, lw = dsir_logweight_expr(tm, rm)

    d = str(tmp_path_factory.mktemp("dsir_stream_in"))
    sdf.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(sdf.schema).parquet(d)
    got = _run_stream(spark, stream.select("doc_id", nf, lw), "dsir_stream")
    exp = {
        r.doc_id: (r.n_features, r.log_weight)
        for r in sdf.select("doc_id", nf, lw).collect()
    }
    assert len(got) == len(exp)
    for r in got.itertuples():
        n, w = exp[int(r.doc_id)]
        assert r.n_features == n and r.log_weight == w
    assert any(v[1] > 0 for v in exp.values()) and any(v[1] < 0 for v in exp.values())


def test_round5_stateless_ops_run_on_streams(spark, doc_stream_dir):
    """strip_html, filter_by_terms (flag mode), hash_shards and
    cuts-mode perplexity_buckets are stateless projections — they run
    on a streaming frame unchanged and replay-match the batch result."""
    from mrmr_spark.operators.curation import filter_by_terms, perplexity_buckets
    from mrmr_spark.operators.html import strip_html
    from mrmr_spark.sources.shards import hash_shards

    d, schema, pdf = doc_stream_dir

    def chain(df):
        wrapped = df.withColumn(
            "text", F.concat(F.lit("<p>"), "text", F.lit("</p><script>x</script>"))
        )
        out = strip_html(wrapped)
        out = filter_by_terms(out, ["zzznope"], mode="flag")
        out = hash_shards(out, 4)
        return perplexity_buckets(
            out.withColumn("ppl", F.length("text").cast("double")),
            cuts=[10.0, 40.0],
        )

    got = _run_stream(spark, chain(_read_stream(spark, d, schema)), "s_r5ops")
    batch = chain(spark.createDataFrame(pdf.drop(columns=["slice"]))).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = batch.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])
    assert len(a) == len(pdf)


def test_tokenizer_embedding_stateless_on_streams(spark, doc_stream_dir):
    """bpe_encode (one mapInPandas stage, no state) and the hashed embedding's
    Arrow kernel (zero-shuffle projection) run on a streaming frame
    unchanged and replay-match the batch result — the live-admission form
    for token budgeting / vectorization of an incoming corpus feed."""
    from mrmr_spark.operators.embedding import hashed_embedding
    from mrmr_spark.operators.tokenizer import bpe_encode, bpe_token_count

    d, schema, pdf = doc_stream_dir
    merges = [("T", "h"), ("Th", "e"), ("o", "x"), ("e", "t"), ("et", "a")]

    def chain(df):
        out = bpe_encode(df, merges)
        out = bpe_token_count(out, merges, out_col="n_bpe")
        return hashed_embedding(out, dim=8, out_col="emb")

    got = _run_stream(spark, chain(_read_stream(spark, d, schema)), "s_tok_emb")
    batch = chain(spark.createDataFrame(pdf.drop(columns=["slice"]))).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = batch.sort_values("doc_id").reset_index(drop=True)
    assert len(a) == len(pdf)
    for col in ("bpe_tokens", "emb"):
        assert [list(x) for x in a[col]] == [list(x) for x in b[col]]
    assert list(a["n_bpe"]) == list(b["n_bpe"])


def test_eval_and_pca_stateless_on_streams(spark, doc_stream_dir):
    """qa_scores, pass_at_k and the pca_project Arrow GEMM are stateless
    projections — they run on a streaming frame unchanged and replay-match
    the batch result (the live eval-scoring / embedding reduction
    admission forms)."""
    import numpy as np

    from mrmr_spark.operators.pca import pca_project
    from mrmr_spark.operators.textstats import pass_at_k, qa_scores

    d, schema, pdf = doc_stream_dir
    rng = np.random.default_rng(3)
    W = rng.normal(size=(2, 4))
    mu = rng.normal(size=4)

    def chain(df):
        out = df.withColumn("pred", F.col("text")).withColumn(
            "ref", F.upper(F.col("text"))
        )
        out = qa_scores(out)
        out = pass_at_k(
            out.withColumn("n_samples", F.lit(20).cast("long")).withColumn(
                "n_correct", (F.length("text") % 21).cast("long")
            ),
            ks=(1, 5),
        )
        emb = F.array(
            *[(F.length("text") * (i + 1) % 7).cast("double") for i in range(4)]
        )
        proj = pca_project(
            out.withColumn("embedding", emb),
            mean=mu, components=W, id_col="doc_id", out_col="pca",
        )
        return out.select("doc_id", "f1", "exact_match", "pass_at_5"), proj

    s_main, s_proj = chain(_read_stream(spark, d, schema))
    got = _run_stream(spark, s_main, "s_eval")
    got_p = _run_stream(spark, s_proj, "s_eval_pca")
    b_main, b_proj = chain(spark.createDataFrame(pdf.drop(columns=["slice"])))
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = b_main.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])
    ap = got_p.sort_values("doc_id").reset_index(drop=True)
    bp = b_proj.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert [list(x) for x in ap["pca"]] == [list(x) for x in bp["pca"]]
    # normalization makes pred == upper(pred): every row exact-matches
    assert set(a["exact_match"]) == {1}


def test_bleu_rouge_stateless_on_streams(spark, doc_stream_dir):
    """bleu_scores and rouge_l_scores are stateless Arrow projections —
    they run on a streaming frame unchanged and replay-match the batch
    result row for row."""
    from mrmr_spark.operators.evalmetrics import bleu_scores, rouge_l_scores

    d, schema, pdf = doc_stream_dir

    def chain(df):
        toks = F.split(F.col("text"), " ")
        out = df.withColumn("pred", F.col("text")).withColumn(
            "ref", F.array_join(F.reverse(toks), " ")
        )
        out = bleu_scores(out)
        out = rouge_l_scores(out.drop("n_pred", "n_ref"))
        return out.select("doc_id", "match_1", "match_4", "bleu", "lcs", "rouge_l_f")

    got = _run_stream(spark, chain(_read_stream(spark, d, schema)), "s_bleu")
    batch = chain(spark.createDataFrame(pdf.drop(columns=["slice"]))).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = batch.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_chrf_wer_stateless_on_streams(spark, doc_stream_dir):
    """chrf_scores and wer_scores are stateless Arrow projections — they
    run on a streaming frame unchanged and replay-match the batch result
    row for row."""
    from mrmr_spark.operators.evalmetrics import chrf_scores, wer_scores

    d, schema, pdf = doc_stream_dir

    def chain(df):
        toks = F.split(F.col("text"), " ")
        out = df.withColumn("pred", F.col("text")).withColumn(
            "ref", F.array_join(F.reverse(toks), " ")
        )
        out = wer_scores(chrf_scores(out))
        return out.select("doc_id", "match_1", "match_6", "chrf",
                          "edit_dist", "wer")

    got = _run_stream(spark, chain(_read_stream(spark, d, schema)), "s_chrfwer")
    batch = chain(spark.createDataFrame(pdf.drop(columns=["slice"]))).toPandas()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = batch.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])
