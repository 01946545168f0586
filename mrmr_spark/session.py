"""SparkSession factory with scale-oriented defaults.

All defaults are chosen for the 100TB-cluster case and merely *also* work in
``local[N]``: AQE on (runtime coalesce + skew-join splitting), Arrow on (every
Python-side kernel is Arrow-batched), UTC session time zone (determinism
across engines), and a shuffle-partition count taken from the environment so
the same code runs at local[8] and local[32] for the scaling bench.

Spark's generated-class cache is sized to the library's working set
(``spark.sql.codegen.cache.maxEntries``, see ``DEFAULT_CONF``). The conf is
static: it takes effect only when ``get_spark`` starts the SparkContext. A
session handed in ready-made (``__spark_entry__.entry``), or one built before
``get_spark`` runs, keeps Spark's 100 entries unless the conf is given at
submit time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs applied to sessions we create ourselves. When the driver hands us a
#: pre-built session (``__spark_entry__.entry``) we do not depend on any of
#: these for correctness — only for speed.
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: 128MB splits are the right granularity for wide feature
    # matrices; small local test files produce 1 partition each, which AQE
    # then coalesces further.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # wide per-column aggregates (6p exprs in one scan) must stay inside
    # whole-stage codegen; the default field cap (100) silently falls back
    # to the interpreted path for p > ~16
    "spark.sql.codegen.maxFields": "2000",
    # generated-class cache: Spark's default holds 100 classes, but the six
    # perfbench curation queries compile 234 distinct classes in one cold
    # pass, so the LRU thrashes and each warm pass recompiled about 190 of
    # them (30-50 per selection iteration), paying Janino and the JIT again
    # on the critical path of every job. 2000 keeps the working set resident.
    # Static conf: only applies when get_spark starts the context.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Python call-site capture: PySpark wraps every functions/Column call to
    # record its file:line, at about three py4j round trips and a stack walk
    # per call; that was a quarter to two thirds of driver plan-building
    # time. Off, Spark errors lose the Python "DataFrame query context".
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # shuffle/spill files on tmpfs: in this sandbox /tmp is a real disk and
    # becomes the scaling bottleneck at high task concurrency; on a real
    # cluster this is the usual fast local SSD setting
    "spark.local.dir": "/dev/shm/spark-local",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def iceberg_session_conf(
    catalog: str, warehouse: str, catalog_type: str = "hadoop"
) -> dict[str, str]:
    """Session confs wiring an Iceberg catalog (the SURVEY.md §2.A A1
    'prod' path: transcripts live in an Iceberg table partitioned by
    days(ts) + bucket(conv_id, N)). Requires ``iceberg-spark-runtime`` on
    the classpath — absent in this offline sandbox, so the wiring is
    exercised by a skipped-unless-jar test and plain parquet stands in.
    ``catalog_type='hadoop'`` is the file-based catalog; pass 'rest'/'hive'
    plus extra ``spark.sql.catalog.<name>.*`` confs for managed catalogs.
    """
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def get_spark(
    app_name: str = "mrmr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg_catalog: str | None = None,
    iceberg_warehouse: str | None = None,
    iceberg_catalog_type: str = "hadoop",
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster this is submitted via ``spark-submit --py-files``;
    pass ``iceberg_catalog`` + ``iceberg_warehouse`` (or set
    ``SPARK_GRAFT_ICEBERG_CATALOG`` / ``SPARK_GRAFT_ICEBERG_WAREHOUSE``)
    to wire an Iceberg catalog into the session — see
    ``iceberg_session_conf``. The engine code only ever sees a DataFrame,
    so parquet (sandbox) and Iceberg (prod) share every code path
    (SURVEY.md §2.A A1).
    """
    # one BLAS thread per Python worker: with N workers per host, letting
    # each numpy GEMM spawn N BLAS threads oversubscribes N×N-fold (measured
    # 2-5x slowdowns on the Arrow kernels). Also set at package import time
    # (mrmr_spark/__init__.py) so driver-side GEMMs are capped even when
    # numpy loads before this factory runs. Local-mode workers inherit the
    # driver env; on a cluster, set these via spark.executorEnv.*.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cores)
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    iceberg_catalog = iceberg_catalog or os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG")
    iceberg_warehouse = iceberg_warehouse or os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE")
    if iceberg_catalog and iceberg_warehouse:
        conf.update(
            iceberg_session_conf(iceberg_catalog, iceberg_warehouse, iceberg_catalog_type)
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
