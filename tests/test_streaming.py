"""Structured-Streaming session rollups: the session_window rollup must
close the same sessions as the batch ``sessionize``, at the gap it was
given to the microsecond."""

import os

import numpy as np
import pandas as pd
import pytest

from mrmr_spark.operators.sessionize import sessionize
from mrmr_spark.streaming.sessions import streaming_sessionize


def _corpus(n_convs=12, max_turns=14, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_convs):
        t = float(rng.integers(0, 1000))
        for i in range(int(rng.integers(2, max_turns))):
            t += float(rng.choice([5.0, 60.0, 1700.0, 1900.0, 4000.0]))
            rows.append((f"c{c}", i, pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=t),
                         "assistant" if i % 2 else "user", None))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts", "role", "tool"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf["tool"] = pdf["tool"].astype(object)
    return pdf


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """Corpus split into 3 turn slices written as separate files; each
    conversation continues across slices."""
    pdf = _corpus()
    sdf = spark.createDataFrame(pdf)
    parts = [
        sdf.where(f"turn_idx >= {lo} and turn_idx < {hi}")
        for lo, hi in [(0, 4), (4, 8), (8, 100)]
    ]
    flat = _flat_slices(parts, str(tmp_path_factory.mktemp("stream_in")))
    return flat, pdf, sdf


def _flat_slices(parts, d):
    """Write each frame as ONE parquet file into a single source dir, in
    order, so ``maxFilesPerTrigger=1`` replays them as micro-batches."""
    flat = os.path.join(d, "flat")
    os.makedirs(flat)
    for i, part in enumerate(parts):
        sub = os.path.join(d, f"b{i}")
        part.coalesce(1).write.mode("overwrite").parquet(sub)
        files = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        assert len(files) == 1
        os.rename(os.path.join(sub, files[0]), os.path.join(flat, f"slice{i}.parquet"))
    return flat


GAP = 1800.0


def test_session_window_rollup_closes_batch_sessions(spark, replay_dir):
    flat, pdf, sdf = replay_dir
    stream = spark.readStream.schema(sdf.schema).parquet(flat)
    out = streaming_sessionize(stream, gap_s=GAP, watermark="0 seconds")
    q = (
        out.writeStream.format("memory").queryName("session_rollups")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("session_rollups").toPandas()
    # batch truth: session count and per-session turn counts
    exp = (
        sessionize(sdf, gap_s=GAP)
        .groupBy("conv_id", "session_id").count()
        .toPandas()
    )
    # append mode only emits sessions the watermark has passed; with the
    # whole corpus in one batch and watermark 0, all but each conv's last
    # open session may be withheld — assert emitted sessions are a subset
    # with matching turn counts
    exp_counts = {(r.conv_id, r["count"]) for _, r in exp.iterrows()}
    for _, r in got.iterrows():
        assert (r.conv_id, r.n_turns) in exp_counts


def test_session_window_keeps_fractional_gap(spark, tmp_path):
    """A 1800.9 s gap must not be truncated to 1800 s: turns 1800.5 s apart
    stay in ONE session per conversation, as in batch ``sessionize``. A
    far-future sentinel turn in a second micro-batch moves the watermark
    past every session, so append mode emits them all."""
    gap_s = 1800.9
    t0 = pd.Timestamp("2024-03-01")
    rows = [
        (c, i, t0 + pd.Timedelta(microseconds=i * 1_800_500_000), "user", None)
        for c in ("a", "b") for i in range(5)
    ]
    cols = ["conv_id", "turn_idx", "ts", "role", "tool"]
    pdf = pd.DataFrame(rows, columns=cols).astype({"ts": "datetime64[us]", "tool": object})
    sdf = spark.createDataFrame(pdf)
    sentinel = spark.createDataFrame(
        [("zz", 0, (t0 + pd.Timedelta(days=30)).to_pydatetime(), "user", None)], sdf.schema
    )
    flat = _flat_slices([sdf, sentinel], str(tmp_path))
    stream = (
        spark.readStream.schema(sdf.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = streaming_sessionize(stream, gap_s=gap_s, watermark="0 seconds")
    q = (
        out.writeStream.format("memory").queryName("session_fractional_gap")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.conv_id, r.n_turns)
        for r in spark.table("session_fractional_gap").collect()
        if r.conv_id != "zz"
    )
    exp = sorted(
        (r.conv_id, r["count"])
        for r in sessionize(sdf, gap_s=gap_s).groupBy("conv_id", "session_id").count().collect()
    )
    assert exp == [("a", 5), ("b", 5)]
    assert got == exp

    for bad in (0.0, -1.0, 1e-7, float("nan"), float("inf")):
        with pytest.raises(ValueError, match="gap_s"):
            streaming_sessionize(stream, gap_s=bad)
