"""``curation`` workload: one pass over gate curation queries, each forced with
``select(count(1)).collect()``. FE and selection do nothing here.

The queries cover the operator groups the ROADMAP names: queries that leave
persisted frames behind (``dsir_logweights``, ``duplicate_spans``,
``bm25_topk``), ``spread=True`` sites that lost when measured (``semdedup``,
``length_batches``) and an operator that ships twin backends
(``repetition_stats``). Each added query costs its compile in set-up and its
run in every pass, so the set is kept to what fits a run. ``bleu_scores`` is
left out: ``count(1)`` prunes its score columns, so its timed pass would
measure a scan, while its full output takes ~23 s at this size.

The tables stand in for the gate's fixed testdata, so they are generated from
one fixed seed; ``--seed`` shuffles the order of the queries.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

import inputs
import oracles
import spans

from mrmr_spark import gate

QUERIES = ["dsir_logweights", "semdedup", "duplicate_spans", "bm25_topk", "length_batches",
           "repetition_stats"]
N_DOCS = 2_000
N_VECS = 1_000
TABLE_SEED = 42


def prepare(work_dir: str, seed: int) -> dict:
    sf = os.path.join(work_dir, f"curation_d{N_DOCS}_v{N_VECS}_s{TABLE_SEED}")
    if not os.path.exists(sf):
        inputs.write_curation_tables(sf + ".tmp", N_DOCS, N_VECS, TABLE_SEED)
        os.replace(sf + ".tmp", sf)
    return {"sf_dir": sf}


class Workload:
    def __init__(self, spark, data: dict, seed: int):
        self.spark = spark
        self.sf = data["sf_dir"]
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.engine_hashes: dict = {}

    def _count(self, q: str) -> int:
        return gate.QUERIES[q](self.spark, self.sf).select(F.count(F.lit(1))).collect()[0][0]

    def iteration(self, tr: spans.Tracer | None = None) -> dict:
        """One pass; a tracer (traced run only) is already inside a span
        that labels the pass's jobs."""
        return {q: self._count(q) for q in self.order}

    def cold(self) -> None:
        """The first pass collects every query's full output instead of its
        count: it pays the same compile and worker start-up, and its
        row count and value hash are the engine side of the oracle check."""
        from check_exact import normalize

        self.engine_hashes = {
            q: oracles.value_hash(gate.QUERIES[q](self.spark, self.sf).toPandas(), normalize)
            for q in self.order}

    def oracle(self) -> dict:
        """Each query's DuckDB ``ORACLE_SQL`` on the same files, normalized
        as ``tools/check_exact.py`` does, against the cold pass's output."""
        import duckdb
        from check_exact import normalize

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            exp = {q: oracles.value_hash(con.sql(gate.ORACLE_SQL[q]).df(), normalize)
                   for q in self.order}
        finally:
            con.close()
        bad = sorted(q for q in exp if self.engine_hashes.get(q) != exp[q])
        return {"rows": {q: exp[q][0] for q in exp}, "hash_ok": not bad, "mismatched": bad}

    @staticmethod
    def matches(out: dict, exp: dict) -> bool:
        return exp["hash_ok"] and out == exp["rows"]

    def traced_chain(self, tr: spans.Tracer, ref: spans.Span, cores: int) -> dict:
        m: dict[str, float] = {}
        for q in self.order:
            with tr.span(f"ops.{q}") as s:
                self._count(q)
            st = spans.summarize(tr.of(s), s.wall, cores)
            m[f"ops.{q}.wall_s"] = s.wall
            m[f"ops.{q}.shuffle_write_mb"] = st["shuffle_write_mb"]
            m[f"ops.{q}.spill_mb"] = st["spill_mb"]
            m[f"ops.{q}.jobs"] = spans.jobs(tr.of(s))
        return m
