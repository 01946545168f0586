"""Session factory: the generated-class cache holds the library's working set.

Spark's code generator caches compiled classes keyed on their source, 100 of
them by default. A workload that cycles through more distinct classes than
that evicts each one before it comes round again, so every pass recompiles
everything (an LRU cache under a cyclic scan). ``get_spark`` sizes the cache
to 2000 entries; this sweep of more than 100 distinct classes must compile
each once and then hit the cache on the second pass.
"""

from pyspark.sql import functions as F

N_QUERIES = 120


def _codegen_compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def _sweep(spark) -> int:
    """Run N_QUERIES tiny queries whose generated code differs by an
    inlined literal; return how many classes they compiled."""
    before = _codegen_compiles(spark)
    for i in range(N_QUERIES):
        spark.range(4).select((F.col("id") + i).alias("c")).collect()
    return _codegen_compiles(spark) - before


def test_codegen_cache_holds_a_repeated_sweep(spark):
    first = _sweep(spark)
    assert first > 100, f"sweep compiled only {first} classes; it must exceed the default cache"
    second = _sweep(spark)
    assert second == 0, f"repeating the sweep recompiled {second} of {first} classes"
