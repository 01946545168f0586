import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small/fast


@pytest.fixture(scope="session")
def spark():
    from mrmr_spark.session import get_spark

    # AQE off for the suite: on these tiny fixtures its per-shuffle re-plan +
    # extra codegen roughly doubles cold job latency (measured 50s -> 12s on
    # the first gaussian-cache build) and buys nothing at 500-row scale.
    # Production sessions (bench, gate, pipeline) keep the factory default on.
    s = get_spark(
        app_name="mrmr_spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from mrmr_spark.sources.transcripts import generate_transcripts_pandas

    return generate_transcripts_pandas(n_convs=60, mean_turns=25, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_pdf):
    return spark.createDataFrame(transcripts_pdf).cache()


@pytest.fixture(scope="session")
def snapshots(spark):
    from mrmr_spark.sources.transcripts import generate_snapshots_pandas

    return spark.createDataFrame(generate_snapshots_pandas(n_convs=60, seed=43)).cache()


@pytest.fixture
def frame_from(spark, tmp_path):
    """Build a test frame the way a per-row kernel meets its input in a
    pipeline: ``source="arrow"`` converts a pandas frame through Arrow,
    ``source="column"`` writes it to Parquet and reads it back through the
    columnar scan. NULLs must survive either path."""
    import pandas as pd

    def make(rows, schema, source):
        names = [c.split()[0] for c in schema.split(",")]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)
        if source == "arrow":
            return df
        if source != "column":
            raise ValueError(f"unknown source {source!r}")
        path = str(tmp_path / "frame.parquet")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return make
