"""Driver correctness-gate queries + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the
driver-provided testdata tables (TESTDATA.md / FIXTURES.md F6). The Spark
implementation goes through the engine's operators; the oracle is
independent ANSI SQL run by DuckDB on the same parquet. Column names and
float rounding (ROUND to fixed decimals) are aligned on both sides because
the driver hash-compares values after sorting columns by name.

``events`` serves as the transcript-shaped table (user_id ≈ conv_id,
(ts, event_id) the stable order key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mrmr_spark.operators.anchors import (
    event_window_anchors,
    first_last_per_group,
    periodic_anchors,
    quantile_anchors,
)
from mrmr_spark.operators.asof import asof_join
from mrmr_spark.operators.lags import with_lags
from mrmr_spark.operators.ordering import ts_micros
from mrmr_spark.operators.rolling import backfilled_rolling
from mrmr_spark.operators.sessionize import sessionize

ORD = ["ts", "event_id"]
GAP_S = 1800.0


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan spread (guide §2/§6): the driver testdata tables
    are SINGLE-row-group parquet files, so however small the split size the
    scan is one task and every per-row kernel (tokenize/hash/Arrow UDF)
    runs on one core. One cheap round-robin exchange of the (column-pruned,
    filter-pushed — Catalyst moves deterministic predicates below a
    Repartition) input unlocks the session parallelism. No-op whenever the
    scan already has >= defaultParallelism splits — i.e. everywhere at
    production scale, where inputs have thousands of row groups."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _t(spark, sf_dir, name, spread: bool = False) -> DataFrame:
    """``spread=True`` is OPT-IN per query: only queries with heavy
    map-side per-row work (tokenize / n-gram hashing / Arrow kernels)
    before their first exchange gain from it — bench-measured 3-15x there.
    Everywhere else the round-robin exchange is a flat ~0.1-0.2 s loss:
    window/join/agg queries redistribute anyway, and sub-second projection
    queries are dominated by the extra stage."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _spread(df) if spread else df


def r6(c):
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# A-layer: windows / sessionization / as-of / anchors over `events`
# ---------------------------------------------------------------------------

def q_sessionize(spark, sf_dir):
    df = sessionize(_events(spark, sf_dir), gap_s=GAP_S, group="user_id", order=ORD)
    return df.select(
        "user_id", "event_id", F.col("session_id").cast("int").alias("session_id"),
        r6(F.col("gap_s")).alias("gap_s"),
    )


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > {GAP_S} THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_id,
       round(gap, 6) AS gap_s
FROM g
"""


def q_lag_lead(spark, sf_dir):
    df = with_lags(_events(spark, sf_dir), {"value": [1, 2, -1]}, group="user_id", order=ORD)
    return df.select(
        "user_id", "event_id",
        r6("value_lag1").alias("value_lag1"),
        r6("value_lag2").alias("value_lag2"),
        r6("value_lead1").alias("value_lead1"),
    )


SQL_LAG_LEAD = """
SELECT user_id, event_id,
       round(lag(value)  OVER w, 6) AS value_lag1,
       round(lag(value, 2) OVER w, 6) AS value_lag2,
       round(lead(value) OVER w, 6) AS value_lead1
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_rolling_rows(spark, sf_dir):
    df = backfilled_rolling(
        _events(spark, sf_dir),
        {"cnt": F.count(F.lit(1)), "avg_value": F.avg("value"), "max_value": F.max("value")},
        n=5, group="user_id", order=ORD,
    )
    return df.select(
        "user_id", "event_id",
        F.col("cnt_5").cast("bigint").alias("cnt_5"),
        r6("avg_value_5").alias("avg_value_5"),
        r6("max_value_5").alias("max_value_5"),
    )


SQL_ROLLING_ROWS = """
SELECT user_id, event_id,
       count(*)        OVER w AS cnt_5,
       round(avg(value) OVER w, 6) AS avg_value_5,
       round(max(value) OVER w, 6) AS max_value_5
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
"""


def q_rolling_time(spark, sf_dir):
    df = backfilled_rolling(
        _events(spark, sf_dir),
        {"cnt": F.count(F.lit(1)), "sum_value": F.sum("value")},
        range_s=3600.0, group="user_id",
    )
    return df.select(
        "user_id", "event_id",
        F.col("cnt_3600s").cast("bigint").alias("cnt_3600s"),
        r6("sum_value_3600s").alias("sum_value_3600s"),
    )


SQL_ROLLING_TIME = """
SELECT user_id, event_id,
       count(*) OVER w AS cnt_3600s,
       round(sum(value) OVER w, 6) AS sum_value_3600s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
"""


def q_asof_join(spark, sf_dir):
    ev = _events(spark, sf_dir)
    snaps = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("effective_ts"), F.col("value").alias("signup_value")
    )
    out = asof_join(
        ev, snaps, on="user_id", ts_col="ts", snap_ts_col="effective_ts",
        value_cols=["signup_value"],
    )
    return out.select("user_id", "event_id", r6("signup_value").alias("signup_value"))


SQL_ASOF_JOIN = """
SELECT e.user_id, e.event_id, round(s.value, 6) AS signup_value
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.ts
"""


def q_anchors_first_last(spark, sf_dir):
    df = first_last_per_group(_events(spark, sf_dir), group="user_id", order=ORD)
    return df.select("user_id", "event_id", "anchor_kind")


SQL_ANCHORS_FIRST_LAST = """
WITH r AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC,  event_id ASC)  AS ra,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
)
SELECT user_id, event_id,
       CASE WHEN ra = 1 THEN 'first' ELSE 'last' END AS anchor_kind
FROM r WHERE ra = 1 OR rd = 1
"""


def q_anchors_daily(spark, sf_dir):
    df = periodic_anchors(_events(spark, sf_dir), calendar="day", group="user_id", order=ORD)
    return df.select("user_id", "event_id", F.date_trunc("day", "ts").alias("day"))


SQL_ANCHORS_DAILY = """
WITH r AS (
  SELECT user_id, event_id, date_trunc('day', ts) AS day,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, event_id, day FROM r WHERE rn = 1
"""


def q_anchors_quantile(spark, sf_dir):
    """Quantile anchors: per user, the first event whose timeline
    percent_rank reaches each quantile. A timeline-position *adaptation* of
    the reference's anchor factory (``sift/sampling/anchors.py:85-131``,
    which anchors rows at/above per-group quantiles of a VALUE column) —
    same per-group-quantile-anchor concept, different anchored axis."""
    df = quantile_anchors(
        _events(spark, sf_dir), quantiles=[0.0, 0.5, 1.0], group="user_id", order=ORD
    )
    return df.select("user_id", "event_id", "anchor_q")


SQL_ANCHORS_QUANTILE = """
WITH r AS (
  SELECT user_id, event_id,
         percent_rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pr
  FROM events
), q AS (
  SELECT unnest(CAST([0.0, 0.5, 1.0] AS DOUBLE[])) AS anchor_q
), j AS (
  SELECT r.user_id, r.event_id, q.anchor_q,
         row_number() OVER (PARTITION BY r.user_id, q.anchor_q
                            ORDER BY r.pr) AS rn
  FROM r JOIN q ON r.pr >= q.anchor_q
)
SELECT user_id, event_id, anchor_q FROM j WHERE rn = 1
"""


def q_session_stats(spark, sf_dir):
    df = sessionize(_events(spark, sf_dir), gap_s=GAP_S, group="user_id", order=ORD)
    return df.groupBy("user_id", F.col("session_id").cast("int").alias("session_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        r6((ts_micros(F.max("ts")) - ts_micros(F.min("ts"))) / 1_000_000.0).alias(
            "duration_s"
        ),
        r6(F.avg("value")).alias("avg_value"),
    )


SQL_SESSION_STATS = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > {GAP_S} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6) AS duration_s,
       round(avg(value), 6) AS avg_value
FROM s GROUP BY user_id, session_id
"""


def q_error_window(spark, sf_dir):
    df = event_window_anchors(
        _events(spark, sf_dir), F.col("event_type") == "error", w_rows=2,
        group="user_id", order=ORD,
    )
    return df.select("user_id", "event_id")


SQL_ERROR_WINDOW = """
WITH f AS (
  SELECT user_id, event_id,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS hit
  FROM events
)
SELECT user_id, event_id FROM f WHERE hit = 1
"""


def q_feature_matrix(spark, sf_dir):
    """Flagship FE slice: sessionized + lagged + leakage-free rolling."""
    ev = _events(spark, sf_dir)
    df = sessionize(ev, gap_s=GAP_S, group="user_id", order=ORD)
    df = with_lags(df, {"value": [1]}, group="user_id", order=ORD)
    df = backfilled_rolling(
        df, {"cnt": F.count(F.lit(1)), "avg_value": F.avg("value")},
        n=5, group="user_id", order=ORD,
    )
    return df.select(
        "user_id", "event_id",
        r6("gap_s").alias("gap_s"),
        r6("value_lag1").alias("value_lag1"),
        F.col("session_id").cast("int").alias("session_id"),
        F.col("cnt_5").cast("bigint").alias("cnt_5"),
        r6("avg_value_5").alias("avg_value_5"),
    )


SQL_FEATURE_MATRIX = f"""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap,
         lag(value) OVER w AS value_lag1,
         count(*)   OVER wr AS cnt_5,
         avg(value) OVER wr AS avg_value_5
  FROM events
  WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
         wr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, round(gap, 6) AS gap_s, round(value_lag1, 6) AS value_lag1,
       CAST(sum(CASE WHEN gap IS NULL OR gap > {GAP_S} THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS session_id,
       cnt_5, round(avg_value_5, 6) AS avg_value_5
FROM g
"""


# ---------------------------------------------------------------------------
# Relational layer: scans/joins/aggs/top-k over the TPC-H-ish tables
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2002-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2002-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rank").cast("int").alias("rank"),
                r6("o_totalprice").alias("o_totalprice"))
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank,
       round(o_totalprice, 6) AS o_totalprice
FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Documents: dedup / text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    key = F.lower(F.trim(F.col("text")))
    w = Window.partitionBy(key)
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
    )


SQL_DEDUP_EXACT = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY lower(trim(text))) AS canonical_id,
       count(*)    OVER (PARTITION BY lower(trim(text))) AS group_size
FROM documents
"""


def q_token_stats(spark, sf_dir):
    from mrmr_spark.operators.textstats import subword_token_count

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        subword_token_count().cast("bigint").alias("n_subword_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        r6(F.size(F.array_distinct(toks)) / n_tok.cast("double")).alias("ttr"),
    )


# the BPE-ish pre-tokenizer regex is the RE2-and-Java-compatible subset of
# GPT-2's pattern (textstats.BPE_PRETOKEN_RE) — keep the two in sync
SQL_TOKEN_STATS = r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
           AS n_subword_tokens,
       length(text) AS n_chars,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       round(len(list_distinct(string_split(text, ' '))) * 1.0
             / len(string_split(text, ' ')), 6) AS ttr
FROM documents
"""


_EN = "('the','and','of','to','a','in','is','it','for','on')"
_MARKERS = "('spark','query','scan','join','filter')"


def q_lang_heuristic(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    en_hits = F.size(F.expr("filter(split(text, ' '), t -> t in " + _EN + ")"))
    tech_hits = F.size(F.expr("filter(split(text, ' '), t -> t in " + _MARKERS + ")"))
    n_tok = F.size(toks)
    ratio = en_hits / n_tok.cast("double")
    return d.select(
        "doc_id",
        en_hits.cast("bigint").alias("stopword_hits"),
        tech_hits.cast("bigint").alias("marker_hits"),
        r6(ratio).alias("stopword_ratio"),
        F.when(ratio >= 0.08, "en").otherwise("other").alias("pred_lang"),
    )


SQL_LANG_HEURISTIC = f"""
WITH s AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t IN {_EN})) AS stopword_hits,
         len(list_filter(string_split(text, ' '), t -> t IN {_MARKERS})) AS marker_hits,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT doc_id, stopword_hits, marker_hits,
       round(stopword_hits * 1.0 / n_tokens, 6) AS stopword_ratio,
       CASE WHEN stopword_hits * 1.0 / n_tokens >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang
FROM s
"""


def q_ngram_jaccard(spark, sf_dir, n: int = 5, threshold: float = 0.2):
    d = _t(spark, sf_dir, "documents", spread=True)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"transform(sequence(1, length(text) - {n - 1}), i -> substring(text, i, {n}))")
            )
        ).alias("sh"),
    ).where(F.length("text") >= n)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = (
        inter.join(F.broadcast(ca), F.col("doc_a") == F.col("ca.doc_id"))
        .join(F.broadcast(cb), F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a", "doc_b",
            (F.col("inter") / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("inter"))).alias("jac"),
        )
        .where(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", r6("jac").alias("jaccard"))
    )
    return jac


SQL_NGRAM_JACCARD = """
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
  FROM documents WHERE length(text) >= 5
), sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s FROM pos
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
FROM inter
JOIN cnt ca ON doc_a = ca.doc_id
JOIN cnt cb ON doc_b = cb.doc_id
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2
"""


def q_winnow_pairs(spark, sf_dir, min_shared: int = 2):
    """Winnowing-fingerprint candidate pairs over documents (rolling-hash
    document fingerprinting — SWA winnowing, the MOSS scheme)."""
    from mrmr_spark.operators.textstats import winnow_candidate_pairs

    d = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return winnow_candidate_pairs(d, min_shared=min_shared).select(
        "id_a", "id_b", F.col("n_shared").cast("bigint").alias("n_shared")
    )


# Mirrors winnow_fingerprints step for step: same normalization regexes, the
# same base-257 mod 2^31-1 Rabin-Karp fold (k=20, window=8) (DuckDB list_reduce seeds with the
# first element, algebraically identical to Spark aggregate's 0 seed), the
# same min-of-window selection, distinct fingerprints, bucketed self-join.
SQL_WINNOW_PAIRS = r"""
WITH n AS (
  SELECT doc_id,
         lower(trim(regexp_replace(regexp_replace(text, '[^ -~]', '', 'g'), '\s+', ' ', 'g'))) AS t
  FROM documents
), c AS (
  SELECT doc_id, length(t) AS n,
         list_transform(generate_series(1, length(t)), i -> CAST(ord(substr(t, i, 1)) AS BIGINT)) AS codes
  FROM n
), h AS (
  SELECT doc_id, n,
         CASE WHEN n = 0 THEN [] ELSE
           list_transform(generate_series(1, greatest(n - 20 + 1, 1)),
              i -> list_reduce(list_slice(codes, i, i + 20 - 1),
                               (acc, c2) -> (acc * 257 + c2) % 2147483647)) END AS hashes
  FROM c
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(hashes) - 8 + 1, 1)),
            j -> list_min(list_slice(hashes, j, j + 8 - 1)))) AS fps
  FROM h WHERE n > 0
), fp AS (
  SELECT doc_id, unnest(fps) AS fp FROM w
), rare AS (
  SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) <= 1000
), fr AS (
  SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_winnow_verified(spark, sf_dir, threshold: float = 0.2):
    """Winnow candidates passed through the exact n-gram-Jaccard verify
    stage (`verify_candidate_pairs`): only pairs whose TEXT proves the
    similarity survive, eliminating fingerprint-hash-collision false
    candidates before clustering. (A 500k-doc probe measured ~530 such
    spurious pairs from base-257 mod 2^31-1 collisions — see
    tools/probe_dedup_scale.py.)"""
    from mrmr_spark.operators.dedup import verify_candidate_pairs
    from mrmr_spark.operators.textstats import winnow_candidate_pairs

    d = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    cand = winnow_candidate_pairs(d).select("id_a", "id_b")
    return verify_candidate_pairs(d, cand, threshold=threshold).select(
        "id_a", "id_b", r6("jaccard").alias("jaccard")
    )


# the winnow candidate query as a CTE, then exact 5-gram Jaccard computed
# ONLY for candidate pairs (the same restriction the Spark operator makes:
# shingles via the candidate semi-join, intersection via the pair fan-out)
SQL_WINNOW_VERIFIED = f"""
WITH cand AS (
{SQL_WINNOW_PAIRS}
), pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) - 3)) AS i
  FROM documents WHERE length(text) >= 5
), sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS s FROM pos
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
FROM inter
JOIN cnt ca ON id_a = ca.doc_id
JOIN cnt cb ON id_b = cb.doc_id
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.2
"""


def q_dedup_clusters(spark, sf_dir):
    """The end-to-end dedup story: winnowing candidate pairs resolved into
    duplicate clusters (transitive closure; cluster_id = min doc id in the
    component, i.e. the canonical representative)."""
    from mrmr_spark.operators.dedup import connected_components
    from mrmr_spark.operators.textstats import winnow_candidate_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = winnow_candidate_pairs(d).select("id_a", "id_b")
    return connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


# transitive closure by recursive label reachability: every (node, label)
# reachable pair is enumerated, min per node = the component's min id —
# the same fixpoint the Spark min-label propagation converges to.
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
{SQL_WINNOW_PAIRS}
), edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), r AS (
  SELECT s AS node, s AS lab FROM edges
  UNION
  SELECT e.t, r.lab FROM r JOIN edges e ON e.s = r.node
)
SELECT node AS doc_id, min(lab) AS cluster_id FROM r GROUP BY node
"""


def q_dedup_corpus(spark, sf_dir):
    """Corpus in, deduplicated corpus out: winnow candidates -> transitive
    clusters -> keep the min-id canonical per cluster + all unpaired docs."""
    from mrmr_spark.operators.dedup import dedup_documents
    from mrmr_spark.operators.textstats import winnow_candidate_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = winnow_candidate_pairs(d).select("id_a", "id_b")
    return dedup_documents(d, pairs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


SQL_DEDUP_CORPUS = f"""
WITH RECURSIVE pairs AS (
{SQL_WINNOW_PAIRS}
), edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), r AS (
  SELECT s AS node, s AS lab FROM edges
  UNION
  SELECT e.t, r.lab FROM r JOIN edges e ON e.s = r.node
), clusters AS (
  SELECT node, min(lab) AS cluster_id FROM r GROUP BY node
)
SELECT d.doc_id, length(d.text) AS n_chars
FROM documents d
LEFT JOIN clusters c ON d.doc_id = c.node AND c.node != c.cluster_id
WHERE c.node IS NULL
"""


# ---------------------------------------------------------------------------
# Embeddings: brute-force cosine top-k
# ---------------------------------------------------------------------------

def q_knn_cosine(spark, sf_dir, k: int = 5, n_queries: int = 10):
    # norms hoisted OUT of the pair loop: sqrt(Σx²) is a per-row constant,
    # so computing it once per corpus/query row instead of once per
    # (query, row) PAIR drops ~2/3 of the interpreted HOF work at the
    # identical doubles (same fold over the same values). The per-pair
    # work is just the dot + one divide.
    nrm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x))
    e = _t(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    ).withColumn("_nv", nrm)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("_nv").alias("_nq"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "emb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sims = (
        F.broadcast(q)
        .crossJoin(e)
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", (dot / (F.col("_nq") * F.col("_nv"))).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id", F.col("rank").cast("int").alias("rank"), r6("sim").alias("sim"))
    )


SQL_KNN_COSINE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
sims AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(q.q_emb, e.emb)
           / (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.emb, e.emb))) AS sim
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
), r AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(sim, 6) AS sim
FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Selection layer gate entries
# ---------------------------------------------------------------------------

def q_fstat_relevance(spark, sf_dir):
    """Unweighted F-statistic relevance of lineitem numeric columns vs
    l_extendedprice — the C1 reduction, cross-checked against SQL corr()."""
    from mrmr_spark.select.relevance import f_regression_scores

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    out = f_regression_scores(li, cols, "l_extendedprice", None, quantize_f32=False)
    rows = [(c, round(float(s), 4)) for c, s in zip(cols, out["scores"])]
    return spark.createDataFrame(rows, "feature string, f_stat double")


SQL_FSTAT_RELEVANCE = """
WITH s AS (
  SELECT corr(l_quantity, l_extendedprice) AS r1,
         corr(l_discount, l_extendedprice) AS r2,
         corr(l_tax, l_extendedprice)      AS r3,
         count(*) AS n
  FROM lineitem
), u AS (
  SELECT 'l_quantity' AS feature, least(r1 * r1, 0.99999) AS r2v, n FROM s
  UNION ALL SELECT 'l_discount', least(r2 * r2, 0.99999), n FROM s
  UNION ALL SELECT 'l_tax', least(r3 * r3, 0.99999), n FROM s
)
SELECT feature, round(r2v / (1 - r2v) * (n - 2), 4) AS f_stat FROM u
"""


def q_ks_relevance(spark, sf_dir):
    """One-vs-rest KS relevance (C3) of lineitem numerics vs l_returnflag —
    the window-ECDF reduction, cross-checked against a DuckDB window-SQL
    ECDF oracle (reference sift/estimators/relevance.py:110-131)."""
    import numpy as np

    from mrmr_spark.select.preprocess import factorize_target
    from mrmr_spark.select.relevance import ks_classif_scores

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    li2, labels = factorize_target(li, "l_returnflag")
    # lineitem has no non-finite values; impute means are never applied
    scores = ks_classif_scores(
        li2, cols, "_y_code", len(labels), np.zeros(len(cols)), quantize_f32=False
    )
    rows = [(c, round(float(s), 6)) for c, s in zip(cols, scores)]
    return spark.createDataFrame(rows, "feature string, ks double")


SQL_KS_RELEVANCE = """
WITH pts AS (
  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS x, l_returnflag AS y FROM lineitem
  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_returnflag FROM lineitem
  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE), l_returnflag FROM lineitem
), cls AS (
  SELECT l_returnflag AS y, count(*) AS n_c FROM lineitem GROUP BY 1
), tot AS (
  SELECT count(*) AS n FROM lineitem
), cnt AS (
  SELECT feature, x, y, count(*) AS c FROM pts GROUP BY 1, 2, 3
), grid AS (
  SELECT g.feature, g.x, cl.y, cl.n_c, COALESCE(cnt.c, 0) AS c
  FROM (SELECT DISTINCT feature, x FROM pts) g
  CROSS JOIN cls cl
  LEFT JOIN cnt ON cnt.feature = g.feature AND cnt.x = g.x AND cnt.y = cl.y
), cum AS (
  -- ORDER BY x with default RANGE framing: peers (all classes at the same
  -- x) are included, so the per-feature running sum IS the pooled ECDF count
  SELECT feature, x, y, n_c,
         sum(c) OVER (PARTITION BY feature, y ORDER BY x) AS cum_c,
         sum(c) OVER (PARTITION BY feature ORDER BY x) AS cum_tot
  FROM grid
), ks AS (
  SELECT feature, y, n_c,
         max(abs(cum_c / n_c - (cum_tot - cum_c) / (n - n_c))) AS d
  FROM cum CROSS JOIN tot
  GROUP BY feature, y, n_c, n
  HAVING n_c >= 2 AND n - n_c >= 1
)
SELECT feature, round(avg(d), 6) AS ks FROM ks GROUP BY feature
"""


def q_minhash_dedup(spark, sf_dir):
    """MinHash-LSH near-dup candidates, run under hash_fn='md5_60' — a hash
    family DuckDB reproduces bit-for-bit, so the ENTIRE algorithm (shingling,
    64 seeded min-hash aggregates, 16x4 banding, Jaccard estimate) is
    independently SQL-oracled. Production default stays xxhash64 (same
    algorithm, faster hash); that path is pytest-verified vs brute force."""
    from mrmr_spark.operators.dedup import minhash_lsh_candidates

    d = _t(spark, sf_dir, "documents")
    out = minhash_lsh_candidates(d, min_jaccard=0.35, hash_fn="md5_60")
    return out.select("doc_a", "doc_b", r6("est_jaccard").alias("est_jaccard"))


SQL_MINHASH_DEDUP = """
WITH sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, length(text) - 4),
                                     i -> substr(text, i, 5))) AS sh
        FROM documents WHERE length(text) >= 5)
), seeds AS (
  SELECT unnest(generate_series(0, 63)) AS seed
), sig AS (
  SELECT doc_id, seed,
         min(('0x' || substr(md5(seed::VARCHAR || ':' || sh), 1, 15))::BIGINT) AS mh
  FROM sh CROSS JOIN seeds
  GROUP BY doc_id, seed
), bandkeys AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS key
  FROM sig GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandkeys a
  JOIN bandkeys b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), est AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) / 64.0 AS est_jaccard
  FROM sig a
  JOIN sig b ON a.seed = b.seed AND a.mh = b.mh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, round(e.est_jaccard, 6) AS est_jaccard
FROM cand c
JOIN est e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
WHERE e.est_jaccard >= 0.35
"""


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs under hash_fn='md5_60' (60-bit signatures):
    the DuckDB oracle recomputes token hashes, the 60 signed bit-count
    votes, the signature and all-pairs Hamming <= 10 from scratch. The
    Manku block scheme guarantees the bucketed Spark plan finds EXACTLY the
    pairs the oracle's brute force finds."""
    from mrmr_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    out = simhash_near_pairs(d, max_hamming=10, bits=60, hash_fn="md5_60")
    return out.select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


SQL_SIMHASH_PAIRS = r"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
        FROM documents)
  WHERE length(tok) > 0
), bits AS (
  SELECT doc_id, b.b AS b,
         CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) b
  GROUP BY doc_id, b.b
), sigs AS (
  SELECT doc_id, sum(bit << b)::BIGINT AS sig FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 10
"""


def q_ann_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH ANN. Oracled: the seeded hyperplanes are
    shared constants, baked into the DuckDB SQL as literals (repr round-trips
    float64 exactly), so the oracle independently recomputes signatures,
    bucketed candidates and the exact cosine re-rank."""
    from mrmr_spark.operators.similarity import ann_lsh

    e = _t(spark, sf_dir, "embeddings", spread=True)
    q = e.where(F.col("vec_id") < 10)
    out = ann_lsh(e, q, dim=64, k=5, n_planes=10, n_tables=6)
    return out.select("q_id", "vec_id", "rank", r6("sim").alias("sim"))


def _lsh_sig_selects(dim: int, n_planes: int, n_tables: int, seed: int) -> str:
    """Per-table bucket expressions with the SAME seeded hyperplanes the
    Spark operator uses (similarity.lsh_signatures), baked as round-trip
    float literals."""
    import numpy as np

    def bucket_expr(t: int) -> str:
        planes = np.random.default_rng(seed + 1000 * t).normal(size=(dim, n_planes))
        terms = []
        for j in range(n_planes):
            vec = ", ".join(repr(float(v)) for v in planes[:, j])
            terms.append(
                f"(CASE WHEN list_dot_product(e, [{vec}]) > 0.0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    return "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {bucket_expr(t)} AS bucket FROM base"
        for t in range(n_tables)
    )


def _ann_lsh_sql(dim=64, k=5, n_planes=10, n_tables=6, seed=7) -> str:
    """Generate the ann_lsh oracle (signatures + bucket join + exact
    re-rank, all recomputed from scratch in DuckDB)."""
    sig_selects = _lsh_sig_selects(dim, n_planes, n_tables, seed)
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), sigs AS (
  {sig_selects}
), qs AS (
  SELECT * FROM sigs WHERE vec_id < 10
), cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id
  FROM qs q JOIN sigs c ON q.tbl = c.tbl AND q.bucket = c.bucket
                        AND c.vec_id <> q.vec_id
), qe AS (
  SELECT vec_id AS q_id, e AS qe FROM base WHERE vec_id < 10
), sims AS (
  SELECT cand.q_id, cand.vec_id, list_cosine_similarity(qe.qe, b.e) AS sim
  FROM cand JOIN base b ON b.vec_id = cand.vec_id JOIN qe ON qe.q_id = cand.q_id
), ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank,
         sim
  FROM sims
)
SELECT q_id, vec_id, rank::INT AS rank, round(sim, 6) AS sim
FROM ranked WHERE rank <= {k}
"""


SQL_ANN_LSH = _ann_lsh_sql()


def q_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN. Oracled: the gate variant skips k-means and uses the
    embeddings of vec_id < 16 (normalized) as the coarse centroids — a
    deterministic, data-dependent centroid set DuckDB can reconstruct with a
    plain SELECT, so the oracle independently recomputes assignment (1 probe
    for corpus, 4 for queries), the inverted-list candidate join, and the
    exact cosine re-rank. Production ``ann_ivf`` trains real centroids via
    ``ivf_train``; only the centroid source differs."""
    import numpy as np

    from mrmr_spark.operators.similarity import ann_ivf

    e = _t(spark, sf_dir, "embeddings", spread=True)
    cent_rows = (
        e.where(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    )
    C = np.array([r[0] for r in cent_rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    q = e.where(F.col("vec_id") < 10)
    out = ann_ivf(e, q, dim=64, k=5, n_probe=4, centroids=C)
    return out.select("q_id", "vec_id", "rank", r6("sim").alias("sim"))


SQL_ANN_IVF = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cents AS (
  SELECT vec_id AS list_id, e AS c FROM base WHERE vec_id < 16
), cos AS (
  SELECT b.vec_id, c.list_id,
         list_dot_product(b.e, c.c)
           / (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(c.c, c.c)))
           AS csim
  FROM base b CROSS JOIN cents c
), casg AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, list_id) AS rn
    FROM cos
  ) WHERE rn = 1
), qasg AS (
  SELECT vec_id AS q_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, list_id) AS rn
    FROM cos WHERE vec_id < 10
  ) WHERE rn <= 4
), cand AS (
  SELECT DISTINCT q.q_id, a.vec_id
  FROM qasg q JOIN casg a USING (list_id)
  WHERE a.vec_id <> q.q_id
), scored AS (
  SELECT cd.q_id, cd.vec_id,
         list_dot_product(qb.e, cb.e)
           / (sqrt(list_dot_product(qb.e, qb.e)) * sqrt(list_dot_product(cb.e, cb.e)))
           AS sim
  FROM cand cd
  JOIN base qb ON qb.vec_id = cd.q_id
  JOIN base cb ON cb.vec_id = cd.vec_id
)
SELECT q_id, vec_id, rank, round(sim, 6) AS sim FROM (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INT)
           AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (self-dedup over the
    embeddings table) via multi-table hyperplane LSH + exact cosine
    verify. Oracled like ann_lsh: the hyperplanes are shared constants, so
    DuckDB recomputes signatures, the candidate self-join and the verify
    from scratch."""
    from mrmr_spark.operators.similarity import embedding_near_dup

    e = _t(spark, sf_dir, "embeddings", spread=True)
    out = embedding_near_dup(e, dim=64, threshold=0.30, n_planes=6, n_tables=8)
    return out.select("id_a", "id_b", r6("sim").alias("sim"))


def _embedding_near_dup_sql(dim=64, threshold=0.30, n_planes=6, n_tables=8, seed=7) -> str:
    sig_selects = _lsh_sig_selects(dim, n_planes, n_tables, seed)
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), sigs AS (
  {sig_selects}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(list_cosine_similarity(x.e, y.e), 6) AS sim
FROM cand c
JOIN base x ON x.vec_id = c.id_a
JOIN base y ON y.vec_id = c.id_b
WHERE list_cosine_similarity(x.e, y.e) >= {threshold}
"""


SQL_EMBEDDING_NEAR_DUP = _embedding_near_dup_sql()


def q_text_quality(spark, sf_dir):
    """Quality scoring + language-ID over documents (oracled: literal-space
    tokenizer so DuckDB string_split reproduces it; the xxhash64 fingerprint
    column is gate-covered via dedup and has no DuckDB twin, so it is
    exercised in pytest instead)."""
    from mrmr_spark.operators.textstats import (
        lang_id,
        quality_score,
        token_count,
        type_token_ratio,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text", split=" ").cast("bigint").alias("n_tokens"),
        r6(type_token_ratio("text", split=" ")).alias("ttr"),
        quality_score("text", split=" ").alias("quality"),
        lang_id("text", split=" ").alias("lang_pred"),
    )


_ES = "('el','la','de','que','y','en','un','por','con','los')"
_DE = "('der','die','das','und','ist','von','mit','ein','zu','den')"

SQL_TEXT_QUALITY = f"""
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_dis,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
         greatest(length(text), 1) AS n_chars,
         len(list_filter(string_split(text, ' '), t -> lower(t) IN {_EN})) AS en,
         len(list_filter(string_split(text, ' '), t -> lower(t) IN {_ES})) AS es,
         len(list_filter(string_split(text, ' '), t -> lower(t) IN {_DE})) AS de
  FROM documents
)
SELECT doc_id,
       n_tok AS n_tokens,
       round(n_dis * 1.0 / n_tok, 6) AS ttr,
       round(greatest(least(
           least(n_tok / 64.0, 1.0)
           * (0.5 + 0.5 * n_dis * 1.0 / n_tok)
           * (1.0 - least(4.0 * n_punct / n_chars, 1.0)), 1.0), 0.0), 6) AS quality,
       CASE WHEN greatest(en, es, de) = 0 THEN 'other'
            WHEN en = greatest(en, es, de) THEN 'en'
            WHEN es = greatest(en, es, de) THEN 'es'
            ELSE 'de' END AS lang_pred
FROM s
"""


def q_media_features(spark, sf_dir):
    """Multimodal plumbing, now fully SQL-oracled: media blobs are the
    UTF-8 bytes of `documents.text` (ASCII-only in the fixtures, so DuckDB
    can recompute each byte as ascii(char)), pushed through the REAL
    mapInPandas extract pass with the deterministic fake codec
    (byte-histogram features, multimodal.py:_fake_features). The real
    decoder stays stubbed (no codec libs in this container); everything
    Spark-side — binary column, Arrow batch shape, blob projection — is
    the production path."""
    from mrmr_spark.operators.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 64)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    out = extract_media_features(media)
    # 16-dim byte histogram; ASCII text populates bins 2 (space/punct),
    # 4-7 (letters/digits). element_at is 1-indexed: bin b -> position b+1.
    return out.select(
        "media_id", "kind", "n_bytes",
        r6(F.element_at("feature", 3)).alias("f_bin2"),
        r6(F.element_at("feature", 7)).alias("f_bin6"),
        r6(F.element_at("feature", 8)).alias("f_bin7"),
    )


SQL_MEDIA_FEATURES = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text
  FROM documents WHERE doc_id < 64
),
ch AS (
  SELECT media_id, ascii(c) // 16 AS bin
  FROM (SELECT media_id, unnest(string_split(text, '')) AS c FROM m)
),
h AS (
  SELECT media_id, count(*) AS n,
         sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS b2,
         sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS b6,
         sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS b7
  FROM ch GROUP BY media_id
)
SELECT m.media_id, m.kind, h.n AS n_bytes,
       round(b2 * 1.0 / n, 6) AS f_bin2,
       round(b6 * 1.0 / n, 6) AS f_bin6,
       round(b7 * 1.0 / n, 6) AS f_bin7
FROM m JOIN h USING (media_id)
"""


def _event_feature_df(spark, sf_dir):
    ev = _events(spark, sf_dir)
    df = sessionize(ev, gap_s=GAP_S, group="user_id", order=ORD)
    df = with_lags(df, {"value": [1, 2]}, group="user_id", order=ORD)
    df = backfilled_rolling(
        df, {"cnt": F.count(F.lit(1)), "avg_value": F.avg("value"), "max_value": F.max("value")},
        n=5, group="user_id", order=ORD,
    )
    feats = ["value_lag1", "value_lag2", "gap_s", "avg_value_5", "max_value_5", "sess_f", "cnt_f"]
    return (
        df.withColumn("sess_f", F.col("session_id").cast("double"))
        .withColumn("cnt_f", F.col("cnt_5").cast("double"))
        .select("user_id", "event_id", "value", *feats)
    ), feats


def q_mrmr_event_features(spark, sf_dir):
    """End-to-end FE + mRMR, fully SQL-oracled: the DuckDB oracle rebuilds
    the feature matrix (windows), mean-imputes, computes the F-stat
    relevances and the |corr| redundancy matrix, and UNROLLS the greedy
    quotient loop (argmax rel, then argmax rel/max(mean|corr| vs selected,
    1e-6), ties by candidate order) as k CTE stages — the loop is driver-
    side algebra over scalar statistics, so for fixed small k it IS
    SQL-expressible. quantize_f32=False aligns both engines on f64, and
    subsample=None pins full-data statistics at ANY sf (the engine's
    production default is the reference's bounded 50k subsample, which
    the full-data SQL oracle cannot replicate — caught when the event
    matrix first crossed 50k rows at sf0.1; the JMI twin row already
    pinned it)."""
    from mrmr_spark.select import select_mrmr

    fdf, feats = _event_feature_df(spark, sf_dir)
    res = select_mrmr(
        fdf, feats, "value", 4, task="regression",
        subsample=None, quantize_f32=False,
    )
    return res.ranking_df(spark).withColumn("relevance", F.round("relevance", 6))


_EVENT_FEATS = ["value_lag1", "value_lag2", "gap_s", "avg_value_5",
                "max_value_5", "sess_f", "cnt_f"]


def _event_matrix_prefix(feats: list[str]) -> str:
    """Shared DuckDB-oracle prefix for the unrolled selection loops
    (mRMR and JMI): rebuild the event feature matrix (windows), global
    mean-impute, and compute every pairwise/target correlation plus the
    F-stat relevances with the rel>0 validity filter — the exact inputs
    both greedy loops consume as scalar statistics."""
    means = ",\n         ".join(f"avg({f}) AS m_{f}" for f in feats)
    imputed = ",\n         ".join(
        f"coalesce(m.{f}, mm.m_{f}) AS {f}" for f in feats
    )
    ry = ",\n         ".join(f"corr({f}, y) AS ry_{f}" for f in feats)
    cc = ",\n         ".join(
        f"corr({fa}, {fb}) AS c_{ia}_{ib}"
        for ia, fa in enumerate(feats) for ib, fb in enumerate(feats) if ia < ib
    )
    rel_rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS ord, '{f}' AS feature,"
        f" least(ry_{f} * ry_{f}, 0.99999) / (1 - least(ry_{f} * ry_{f}, 0.99999))"
        f" * (n - 2) AS rel FROM st"
        for i, f in enumerate(feats)
    )
    return f"""WITH m0 AS (
  SELECT user_id, event_id, ts, value AS y,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap_s,
         lag(value, 1) OVER w AS value_lag1,
         lag(value, 2) OVER w AS value_lag2,
         CAST(count(*) OVER wr AS DOUBLE) AS cnt_f,
         avg(value) OVER wr AS avg_value_5,
         max(value) OVER wr AS max_value_5
  FROM events
  WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
         wr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
), m AS (
  SELECT *,
         CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > {GAP_S} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) - 1 AS DOUBLE) AS sess_f
  FROM m0
), mm AS (
  SELECT {means} FROM m
), i AS (
  SELECT m.y,
         {imputed}
  FROM m CROSS JOIN mm
), st AS (
  SELECT count(*) AS n,
         {ry},
         {cc}
  FROM i
), rels AS (
  SELECT * FROM (
  {rel_rows}
  ) WHERE rel > 0
)"""


def _mrmr_event_sql(k: int = 4) -> str:
    """Generate the DuckDB oracle for q_mrmr_event_features: feature build
    + impute + F-stat relevance + greedy mRMR (quotient, FLOOR=1e-6)
    unrolled as CTE stages."""
    feats = _EVENT_FEATS
    p = len(feats)

    cor_rows = []
    for ia in range(p):
        for ib in range(ia + 1, p):
            cor_rows.append(
                f"SELECT '{feats[ia]}' AS fa, '{feats[ib]}' AS fb,"
                f" abs(c_{ia}_{ib}) AS ac FROM st"
            )
            cor_rows.append(
                f"SELECT '{feats[ib]}', '{feats[ia]}', abs(c_{ia}_{ib}) FROM st"
            )
    cors = "\n  UNION ALL ".join(cor_rows)

    stages = ["s1 AS (SELECT ord, feature, rel FROM rels ORDER BY rel DESC, ord LIMIT 1)"]
    sel_union = "SELECT feature FROM s1"
    for t in range(2, k + 1):
        stages.append(
            f"""p{t} AS (
  SELECT r.ord, r.feature, r.rel,
         r.rel / greatest(
           (SELECT avg(c.ac) FROM cors c
            WHERE c.fa = r.feature AND c.fb IN ({sel_union})), 1e-6) AS score
  FROM rels r WHERE r.feature NOT IN ({sel_union})
), s{t} AS (SELECT ord, feature, rel FROM p{t} ORDER BY score DESC, ord LIMIT 1)"""
        )
        sel_union += f" UNION ALL SELECT feature FROM s{t}"
    final = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS rank, feature, round(rel, 6) AS relevance FROM s{t}"
        for t in range(1, k + 1)
    )
    return f"""
{_event_matrix_prefix(feats)}, cors AS (
  {cors}
),
{",".join(stages)}
{final}
"""


SQL_MRMR_EVENT_FEATURES = _mrmr_event_sql()


# ---------------------------------------------------------------------------
# Selection-layer primitives (round-4 widening): SQL-oracle the components
# that previously had only pytest parity — target encoding (B8), the copula
# midrank machinery (D1 phases 1-2), the Gram redundancy reduction (D4),
# exact quantile binning (E1), and binned joint MI (E2/E3).
# ---------------------------------------------------------------------------

def q_target_encoding(spark, sf_dir):
    """Leave-one-out + sigmoid-blend target encoding of event_type vs value
    (B8, encoding.py; category_encoders' published formulas). Both encoders
    are a tiny groupBy + broadcast join — no fact-table shuffle."""
    from mrmr_spark.select.encoding import target_encode

    # NOT _events(): the LOO encoder's per-category sum(value) is an IEEE
    # double fold, so its last-ulp value depends on the partition layout;
    # the oracle-hash contract here rides on the single-split scan order.
    # Scan work is trivial for this query (no text kernels), so the spread
    # would buy nothing and costs exactness.
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = target_encode(e, ["event_type"], "value", method="loo", suffix="_loo")
    out = target_encode(out, ["event_type"], "value", method="target", suffix="_tgt")
    return out.select(
        "event_id", "event_type",
        r6("event_type_loo").alias("loo_enc"),
        r6("event_type_tgt").alias("target_enc"),
    )


SQL_TARGET_ENCODING = """
WITH g AS (
  SELECT event_type, sum(value) AS sy, count(*) AS n, avg(value) AS my
  FROM events GROUP BY 1
), p AS (SELECT avg(value) AS pm FROM events)
SELECT e.event_id, e.event_type,
  round(CASE WHEN g.n > 1 THEN (g.sy - e.value) / (g.n - 1) ELSE p.pm END, 6)
    AS loo_enc,
  round(CASE WHEN g.n <= 1 THEN p.pm
        ELSE p.pm * (1 - 1 / (1 + exp(-(g.n - 20.0) / 10.0)))
             + g.my * (1 / (1 + exp(-(g.n - 20.0) / 10.0))) END, 6)
    AS target_enc
FROM events e JOIN g USING (event_type) CROSS JOIN p
"""


def q_copula_midrank(spark, sf_dir):
    """Weighted midranks u = (Σ_{j<i} w_j + w_i/2)/Σw (copula D1 phases
    1-2): the range-partitioned two-phase prefix-sum — the engine's
    no-single-task-per-column rank machinery — against a window-SQL oracle.
    Feature 1 (event_id % 24) is massively tied, so the deterministic
    (value, row_key) tie order is exercised, not just the sort."""
    from mrmr_spark.select.copula import weighted_midranks

    e = (
        _events(spark, sf_dir)
        .withColumn("w", ((F.col("event_id") % 5) + 1).cast("double"))
        .withColumn("f_tied", (F.col("event_id") % 24).cast("double"))
    )
    out = weighted_midranks(e, ["value", "f_tied"], "w", "event_id")
    return out.select("event_id", "col_idx", r6("u").alias("u"))


SQL_COPULA_MIDRANK = """
WITH base AS (
  SELECT event_id, CAST(event_id % 5 + 1 AS DOUBLE) AS w,
         CAST(value AS DOUBLE) AS f0,
         CAST(event_id % 24 AS DOUBLE) AS f1
  FROM events
), m AS (
  SELECT event_id, w, 0 AS col_idx, f0 AS x FROM base
  UNION ALL SELECT event_id, w, 1, f1 FROM base
)
SELECT event_id, col_idx,
  round((COALESCE(sum(w) OVER (PARTITION BY col_idx ORDER BY x, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + w / 2)
        / sum(w) OVER (PARTITION BY col_idx), 6) AS u
FROM m
"""


def q_corr_redundancy(spark, sf_dir):
    """Pairwise correlation via the Gram reduction (D4 — ``G += Zᵀ(w⊙Z)``
    per partition on driver-standardized Z) vs DuckDB corr(). Unweighted,
    unclipped, f64: the kernel's two-pass algebra must reproduce Pearson
    correlation exactly."""
    from mrmr_spark.select import kernels
    from mrmr_spark.select.relevance import f_regression_scores

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_tax"]
    st = f_regression_scores(li, cols, "l_extendedprice", None, quantize_f32=False)
    gram = kernels.gram_pass(
        li, cols, None, st["impute_means"], st["wmeans"], st["wstds"],
        quantize_f32=False, clip=None,
    )
    R = gram["R"]
    rows = [
        (cols[i], cols[j], round(float(R[i, j]), 6))
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    return spark.createDataFrame(rows, "feat_a string, feat_b string, corr double")


SQL_CORR_REDUNDANCY = """
WITH c AS (
  SELECT corr(l_quantity, l_discount) AS c01,
         corr(l_quantity, l_tax)      AS c02,
         corr(l_discount, l_tax)      AS c12
  FROM lineitem
)
SELECT 'l_quantity' AS feat_a, 'l_discount' AS feat_b, round(c01, 6) AS corr FROM c
UNION ALL SELECT 'l_quantity', 'l_tax', round(c02, 6) FROM c
UNION ALL SELECT 'l_discount', 'l_tax', round(c12, 6) FROM c
"""


_BIN_COLS = ["l_extendedprice", "l_quantity"]


def q_quantile_bins(spark, sf_dir):
    """Exact-percentile bin assignment (E1): Spark's exact ``percentile``
    ladder + np.digitize codes vs DuckDB quantile_cont + edge counting —
    both use the (n−1)·q linear-interpolation definition, so per-bin
    populations must match exactly."""
    import numpy as np

    from mrmr_spark.select.binning import bin_codes_df, exact_percentile_edges

    li = _t(spark, sf_dir, "lineitem").select(*_BIN_COLS)
    edges = exact_percentile_edges(li, _BIN_COLS, 10)
    coded = bin_codes_df(li, _BIN_COLS, edges, np.ones(len(_BIN_COLS)))
    longf = coded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(f"b_{c}").cast("int").alias("bin"),
                    )
                    for c in _BIN_COLS
                ]
            )
        ).alias("s")
    ).select("s.feature", "s.bin")
    return longf.groupBy("feature", "bin").agg(F.count(F.lit(1)).alias("cnt"))


def q_quantile_bins_ranged(spark, sf_dir):
    """The scale twin of ``quantile_bins``: identical per-bin populations
    with the edges computed by ``ranged_percentile_edges`` — range-
    partitioned order statistics instead of the value-buffering JVM
    ``percentile`` aggregate (the ``subsample=None`` backend; Spark's
    interpolation arithmetic reproduced bit-for-bit, so the SAME DuckDB
    oracle must hash-match)."""
    import numpy as np

    from mrmr_spark.select.binning import bin_codes_df, ranged_percentile_edges

    li = _t(spark, sf_dir, "lineitem").select(*_BIN_COLS)
    edges = ranged_percentile_edges(li, _BIN_COLS, 10)
    coded = bin_codes_df(li, _BIN_COLS, edges, np.ones(len(_BIN_COLS)))
    longf = coded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(f"b_{c}").cast("int").alias("bin"),
                    )
                    for c in _BIN_COLS
                ]
            )
        ).alias("s")
    ).select("s.feature", "s.bin")
    return longf.groupBy("feature", "bin").agg(F.count(F.lit(1)).alias("cnt"))


def _edges_cte(col: str, alias: str) -> str:
    """CTE computing the 9 interior decile edges of ``col`` with Spark's
    EXACT ``percentile`` arithmetic (verified bitwise): pos = q·(n−1);
    edge = v[floor] when the bracketing values are equal (Spark returns the
    key directly inside a tie run — DuckDB's quantile_cont interpolates and
    drifts a ulp, flipping whole tie groups), else
    (ceil−pos)·v[floor] + (pos−floor)·v[ceil]."""
    return f"""{alias}_ord AS (
  SELECT CAST({col} AS DOUBLE) AS v, row_number() OVER (ORDER BY {col}) - 1 AS rn
  FROM lineitem
), {alias} AS (
  SELECT list(e ORDER BY q) AS e FROM (
    SELECT pq.q, CASE WHEN lov.v = hiv.v THEN lov.v
                 ELSE (pq.hi - pq.p) * lov.v + (pq.p - pq.lo) * hiv.v END AS e
    FROM (
      SELECT q, q * (n - 1) AS p,
             CAST(floor(q * (n - 1)) AS BIGINT) AS lo,
             CAST(ceil(q * (n - 1)) AS BIGINT) AS hi
      FROM (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q)
      CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS n FROM lineitem)
    ) pq
    JOIN {alias}_ord lov ON lov.rn = pq.lo
    JOIN {alias}_ord hiv ON hiv.rn = pq.hi
  )
)"""


SQL_QUANTILE_BINS = f"""
WITH {_edges_cte("l_extendedprice", "qe")},
{_edges_cte("l_quantity", "qq")},
m AS (
  SELECT 'l_extendedprice' AS feature, CAST(l_extendedprice AS DOUBLE) AS x, qe.e AS e
  FROM lineitem CROSS JOIN qe
  UNION ALL
  SELECT 'l_quantity', CAST(l_quantity AS DOUBLE), qq.e FROM lineitem CROSS JOIN qq
)
SELECT feature, CAST(len(list_filter(e, v -> x >= v)) AS INTEGER) AS bin,
       count(*) AS cnt
FROM m GROUP BY 1, 2
"""


def q_binned_mi(spark, sf_dir):
    """Binned joint MI (E2/E3): I(f; y) = Σ p log(p / (p_f · p_y)) over the
    exact-decile joint histogram of each feature with binned
    l_extendedprice. One distributed melt + composite-key groupBy produces
    the tiny joint histogram; the MI finish is O(bins²) driver math."""
    import numpy as np

    from mrmr_spark.select.binning import bin_codes_df, exact_percentile_edges

    cols = ["l_quantity", "l_discount", "l_tax"]
    ycol = "l_extendedprice"
    li = _t(spark, sf_dir, "lineitem").select(*cols, ycol)
    edges = exact_percentile_edges(li, cols + [ycol], 10)
    coded = bin_codes_df(li, cols + [ycol], edges, np.ones(len(cols) + 1))
    hist = (
        coded.select(
            F.col(f"b_{ycol}").cast("int").alias("_yb"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("feature"),
                            F.col(f"b_{c}").cast("int").alias("fb"),
                        )
                        for c in cols
                    ]
                )
            ).alias("s"),
        )
        .select("s.feature", "s.fb", "_yb")
        .groupBy("feature", "fb", "_yb")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    per: dict[str, dict[tuple[int, int], float]] = {c: {} for c in cols}
    for r in hist:
        per[r["feature"]][(int(r["fb"]), int(r["_yb"]))] = float(r["c"])
    rows = []
    for c in cols:
        joint = per[c]
        n = sum(joint.values())
        pf: dict[int, float] = {}
        py: dict[int, float] = {}
        for (fb, yb), cnt in joint.items():
            pf[fb] = pf.get(fb, 0.0) + cnt
            py[yb] = py.get(yb, 0.0) + cnt
        mi = 0.0
        for (fb, yb), cnt in joint.items():
            pr = cnt / n
            if pr > 1e-12:
                mi += pr * np.log(pr * n * n / (pf[fb] * py[yb]))
        rows.append((c, round(max(0.0, float(mi)), 6)))
    return spark.createDataFrame(rows, "feature string, mi double")


SQL_BINNED_MI = f"""
WITH {_edges_cte("l_quantity", "q1")},
{_edges_cte("l_discount", "q2")},
{_edges_cte("l_tax", "q3")},
{_edges_cte("l_extendedprice", "qy")},
m AS (
  SELECT 'l_quantity' AS feature,
         len(list_filter(q1.e, v -> CAST(l_quantity AS DOUBLE) >= v)) AS fb,
         len(list_filter(qy.e, v -> CAST(l_extendedprice AS DOUBLE) >= v)) AS yb
  FROM lineitem CROSS JOIN q1 CROSS JOIN qy
  UNION ALL
  SELECT 'l_discount',
         len(list_filter(q2.e, v -> CAST(l_discount AS DOUBLE) >= v)),
         len(list_filter(qy.e, v -> CAST(l_extendedprice AS DOUBLE) >= v))
  FROM lineitem CROSS JOIN q2 CROSS JOIN qy
  UNION ALL
  SELECT 'l_tax',
         len(list_filter(q3.e, v -> CAST(l_tax AS DOUBLE) >= v)),
         len(list_filter(qy.e, v -> CAST(l_extendedprice AS DOUBLE) >= v))
  FROM lineitem CROSS JOIN q3 CROSS JOIN qy
), j AS (
  SELECT feature, fb, yb, CAST(count(*) AS DOUBLE) AS c FROM m GROUP BY 1, 2, 3
), t AS (
  SELECT feature, fb, yb, c,
         sum(c) OVER (PARTITION BY feature) AS n,
         sum(c) OVER (PARTITION BY feature, fb) AS cf,
         sum(c) OVER (PARTITION BY feature, yb) AS cy
  FROM j
)
SELECT feature,
       round(greatest(0.0, sum((c / n) * ln(c * n / (cf * cy)))), 6) AS mi
FROM t GROUP BY feature
"""


def q_anova_relevance(spark, sf_dir):
    """WEIGHTED one-way ANOVA F relevance (C2, relevance.py f_classif_scores;
    reference sift/estimators/relevance.py:57-107) of lineitem numerics vs
    l_returnflag with w = l_linenumber — exercises the weighted algebra
    (ss_between = Σ_c B_c²/w_c on grand-mean-centered per-class sums,
    df_within = Σw − C), not just the unweighted reduction."""
    from mrmr_spark.select.preprocess import factorize_target
    from mrmr_spark.select.relevance import f_classif_scores

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "w", F.col("l_linenumber").cast("double")
    )
    cols = ["l_quantity", "l_discount", "l_tax"]
    li2, labels = factorize_target(li, "l_returnflag")
    out = f_classif_scores(li2, cols, "_y_code", len(labels), "w", quantize_f32=False)
    rows = [(c, round(float(s), 4)) for c, s in zip(cols, out["scores"])]
    return spark.createDataFrame(rows, "feature string, f_stat double")


SQL_ANOVA_RELEVANCE = """
WITH pts AS (
  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS x,
         l_returnflag AS y, CAST(l_linenumber AS DOUBLE) AS w FROM lineitem
  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_returnflag,
         CAST(l_linenumber AS DOUBLE) FROM lineitem
  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE), l_returnflag,
         CAST(l_linenumber AS DOUBLE) FROM lineitem
), g AS (
  SELECT feature, sum(w * x) / sum(w) AS gm, sum(w) AS sw FROM pts GROUP BY 1
), c AS (
  SELECT p.feature, p.y, sum(p.w) AS w_c,
         sum(p.w * (p.x - g.gm)) AS b_c,
         sum(p.w * (p.x - g.gm) * (p.x - g.gm)) AS a_c
  FROM pts p JOIN g USING (feature) GROUP BY 1, 2
), agg AS (
  SELECT c.feature,
         sum(CASE WHEN w_c >= 1e-12 THEN b_c * b_c / w_c ELSE 0 END) AS ssb,
         sum(a_c - CASE WHEN w_c >= 1e-12 THEN b_c * b_c / w_c ELSE 0 END) AS ssw,
         count(*) AS nc, max(g.sw) AS sw
  FROM c JOIN g USING (feature) GROUP BY 1
)
SELECT feature,
       round(CASE WHEN ssw >= 1e-12 AND sw - nc > 0 AND nc > 1
                  THEN (ssb / (nc - 1)) / (ssw / (sw - nc)) ELSE 0 END, 4) AS f_stat
FROM agg
"""


def q_jmi_event_features(spark, sf_dir):
    """End-to-end FE + JMI selection (F3 sum criterion, E4 analytic
    two-regressor R² estimator), fully SQL-oracled like the mRMR row: the
    oracle rebuilds the feature matrix, imputes, computes the correlation
    structure, and UNROLLS the greedy JMI loop — step 1 argmax F-stat, then
    per step the cumulative Σ_{s∈S} I((f,s); y) with
    R²(f,s;y) = r_ys² + (r_yf − r_ys·r_fs)²/(1−r_fs²) (fallback r_ys² when
    1−r_fs² < 1e-8), clipped to 0.99999 (loops.py jmi_greedy_r2;
    reference joint_mi.py:120-220)."""
    from mrmr_spark.select.api import select_jmi

    fdf, feats = _event_feature_df(spark, sf_dir)
    res = select_jmi(
        fdf, feats, "value", 4, task="regression", estimator="r2",
        aggregation="sum", subsample=None, quantize_f32=False,
    )
    return res.ranking_df(spark).withColumn("relevance", F.round("relevance", 6))


def _jmi_event_sql(k: int = 4) -> str:
    """DuckDB oracle for q_jmi_event_features: shared event-matrix prefix
    + pairwise-MI table + the greedy JMI(sum) loop unrolled as CTE stages
    (cumulative score = Σ mi over the selected set; ties by candidate ord,
    matching np.argmax's first-max)."""
    feats = _EVENT_FEATS

    mi_rows = []
    for ia, fa in enumerate(feats):
        for ib, fb in enumerate(feats):
            if ia == ib:
                continue
            c = f"c_{min(ia, ib)}_{max(ia, ib)}"
            r2v = (
                f"CASE WHEN 1 - {c} * {c} >= 1e-8"
                f" THEN ry_{fb} * ry_{fb}"
                f" + (ry_{fa} - ry_{fb} * {c}) * (ry_{fa} - ry_{fb} * {c})"
                f" / (1 - {c} * {c})"
                f" ELSE ry_{fb} * ry_{fb} END"
            )
            mi_rows.append(
                f"SELECT '{fa}' AS fa, '{fb}' AS fb,"
                f" -0.5 * ln(1 - least(greatest({r2v}, 0.0), 0.99999)) AS mi"
                f" FROM st"
            )
    mis = "\n  UNION ALL ".join(mi_rows)

    stages = ["s1 AS (SELECT ord, feature, rel FROM rels ORDER BY rel DESC, ord LIMIT 1)"]
    sel_union = "SELECT feature FROM s1"
    for t in range(2, k + 1):
        stages.append(
            f"""p{t} AS (
  SELECT r.ord, r.feature, r.rel,
         (SELECT sum(m.mi) FROM mis m
          WHERE m.fa = r.feature AND m.fb IN ({sel_union})) AS score
  FROM rels r WHERE r.feature NOT IN ({sel_union})
), s{t} AS (SELECT ord, feature, rel FROM p{t} ORDER BY score DESC, ord LIMIT 1)"""
        )
        sel_union += f" UNION ALL SELECT feature FROM s{t}"
    final = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS rank, feature, round(rel, 6) AS relevance FROM s{t}"
        for t in range(1, k + 1)
    )
    return f"""
{_event_matrix_prefix(feats)}, mis AS (
  {mis}
),
{",".join(stages)}
{final}
"""


SQL_JMI_EVENT_FEATURES = _jmi_event_sql()


# ---------------------------------------------------------------------------
# Gaussian cached selection path (SURVEY.md D1-D4, F4, F6)
# ---------------------------------------------------------------------------

_GC_FEATS = ["l_quantity", "l_discount", "l_tax", "l_linenumber"]
_GC_K = 3


def _gc_run(spark, sf_dir, method: str, driver_max_cells: int | None = 0):
    """Shared Spark side of the cached-gaussian gate rows: build the copula
    cache over lineitem with a DETERMINISTIC row key, run select_cached.

    No column subset short of the full row is unique in the synthetic
    lineitem (sf0.001 even has a duplicate (ok, ln, pk, sk) tuple), so the
    key is a row_number over the full-column total order — identical and
    deterministic in the oracle. Single-task window: fine for a ≤60k-row
    gate fixture (this is fixture plumbing, not an engine path — the
    engine's scale answer for global ranks is the range-partitioned
    two-phase scan in operators/permute.py:_global_rank)."""
    from mrmr_spark.select.cache import build_cache, select_cached

    rk_order = [
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    ]
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rk", F.row_number().over(Window.orderBy(*rk_order))
    )
    # driver_max_cells=0 keeps the gate on the DISTRIBUTED rank pipeline by
    # default (the oracle's real target); the _driver row flips the backend
    cache = build_cache(
        li, _GC_FEATS, subsample=None, row_key_col="rk",
        driver_max_cells=driver_max_cells,
    )
    res = select_cached(
        cache, "l_extendedprice", _GC_K, method=method, top_m=len(_GC_FEATS)
    )
    out = res.ranking_df(spark).withColumn("relevance", F.round("relevance", 6))
    cache.unpersist()
    return out


def q_gaussian_mrmr_cached(spark, sf_dir):
    """The FULL gaussian cached-selection path end-to-end (build_cache →
    select_cached(method='mrmr_quot')): midranks → AS241 ndtri → weighted
    standardize → float32 quantize → fused Gram+r scan (clip 0.999999) →
    greedy |r|-ordered corr-prune at 0.95 → greedy gaussian-MI mRMR
    (quotient, FLOOR 1e-6). The oracle rebuilds every stage in DuckDB SQL,
    including the ndtri rational approximation (generated from the same
    AS241 constants the engine ships, functions/ndtri.py) and the f32
    quantization via CAST AS REAL. Tie order is deterministic on both
    sides via an explicit row key (build_cache(row_key_col=...));
    reference path: copula.py:85-117 + cefsplus.py:448-535."""
    return _gc_run(spark, sf_dir, "mrmr_quot")


def q_gaussian_mrmr_cached_driver(spark, sf_dir):
    """Same pipeline and the SAME SQL oracle as q_gaussian_mrmr_cached, but
    through the bounded DRIVER rank-gauss backend (copula.py
    rank_gauss_numpy — one collect, no melt shuffle). Hash-matching the
    shared oracle proves the two backends are result-identical end to end
    (the f32 quantize absorbs the sub-ulp sum-reassociation differences)."""
    return _gc_run(spark, sf_dir, "mrmr_quot", driver_max_cells=None)


def q_cefsplus_cached(spark, sf_dir):
    """CEFS+ (F5, the reference's log-det criterion, cefsplus.py:124-281)
    on the same cached copula pipeline: at each step pick argmax of
    log|Σ_{S∪f}| − log|Σ_{y,S∪f}| on the shrunk ((1−1e-6) off-diagonal)
    correlation structure. The engine runs Schur-complement bordering
    updates; the oracle evaluates the SAME determinants directly via
    generated cofactor expansions (p=4 → at most 4×4), equal when no
    eps floor binds (non-degenerate fixture; engine Schur s values are
    O(1) here). Step 1 is argmax relevance, like the engine."""
    return _gc_run(spark, sf_dir, "cefsplus")


def _ndtri_sql_exprs() -> tuple[str, str]:
    """(central, tail) SQL expressions for Wichura AS241 over columns
    ``qv`` (= u − 0.5), ``rc`` (= 0.180625 − qv²) and ``rt``
    (= sqrt(−ln(min(u, 1−u)))) — Horner forms generated from the engine's
    own coefficient arrays so oracle and kernel share one source of truth.
    repr() of each float64 coefficient round-trips exactly through the SQL
    parser."""
    import importlib

    # the package re-exports the ndtri *function* under the same name, so
    # resolve the module (which owns the coefficient arrays) explicitly
    nd = importlib.import_module("mrmr_spark.functions.ndtri")

    def horner(coef, x):
        expr = repr(float(coef[-1]))
        for c in coef[-2::-1]:
            expr = f"({expr} * {x} + {repr(float(c))})"
        return expr

    central = f"qv * {horner(nd._A, 'rc')} / {horner(nd._B, 'rc')}"
    near = f"{horner(nd._C, '(rt - 1.6)')} / {horner(nd._D, '(rt - 1.6)')}"
    far = f"{horner(nd._E, '(rt - 5.0)')} / {horner(nd._F, '(rt - 5.0)')}"
    tail = (
        f"(CASE WHEN qv < 0.0 THEN -1.0 ELSE 1.0 END)"
        f" * (CASE WHEN rt <= 5.0 THEN {near} ELSE {far} END)"
    )
    return central, tail


_GC_MI = "-0.5 * ln(1.0 - least({x} * {x}, 1.0 - 1e-12))"


def _gc_prefix_sql() -> str:
    """Shared DuckDB-oracle prefix for the cached-gaussian gate rows: raw
    table → midranks → AS241 ndtri → standardize → f32 quantize → clipped
    Gram (``st``, 1 row) → per-feature relevance/|r| ranking (``ordv``) →
    greedy corr-prune (``kept``). Weights are 1.0 so the midrank is
    (rows-before + 0.5)/n; the u clip [1e-6, 1−1e-6] is inactive at gate
    scale but kept for fidelity. Ends after ``kept`` — finishers append
    their greedy stages."""
    feats = _GC_FEATS
    p = len(feats)
    central, tail = _ndtri_sql_exprs()
    mi = _GC_MI

    melt = "\n  UNION ALL ".join(
        f"SELECT rk, {i} AS cid, f{i} AS v FROM base" for i in range(p)
    ) + f"\n  UNION ALL SELECT rk, {p} AS cid, fy AS v FROM base"

    zw_cols = ",\n    ".join(
        f"CAST(max(CASE WHEN cid = {i} THEN zf END) AS DOUBLE) AS z{i}"
        for i in range(p + 1)
    )

    # feature-feature corr + feature-target corr, both clipped ±0.999999
    def clip(e):
        return f"least(greatest({e}, -0.999999), 0.999999)"

    g_cols = []
    for i in range(p):
        for j in range(i + 1, p):
            g_cols.append(clip(f"sum(z{i} * z{j}) / sum(1.0)") + f" AS c_{i}_{j}")
        g_cols.append(clip(f"sum(z{i} * z{p}) / sum(1.0)") + f" AS ry_{i}")
    st_cols = ",\n    ".join(g_cols)

    rel_rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS cid, '{feats[i]}' AS feature, ry_{i} AS r FROM st"
        for i in range(p)
    )
    gp_rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS a, {j} AS b, c_{min(i, j)}_{max(i, j)} AS rho FROM st"
        for i in range(p)
        for j in range(p)
        if i != j
    )

    # greedy corr-prune: rank by |r| desc; rank-i kept unless |rho| >= 0.95
    # vs an already-kept lower rank (loops.py greedy_corr_prune)
    kept_stages = ["kp1 AS (SELECT cid, rnk, rel, r FROM ordv WHERE rnk = 1)"]
    kept_union = "SELECT cid FROM kp1"
    for i in range(2, p + 1):
        kept_stages.append(
            f"""kp{i} AS (
  SELECT o.cid, o.rnk, o.rel, o.r FROM ordv o WHERE o.rnk = {i} AND NOT EXISTS (
    SELECT 1 FROM gpairs g
    WHERE g.a = o.cid AND g.b IN ({kept_union}) AND abs(g.rho) >= 0.95))"""
        )
        kept_union += f" UNION ALL SELECT cid FROM kp{i}"
    kept = " UNION ALL ".join(f"SELECT * FROM kp{i}" for i in range(1, p + 1))

    return f"""
WITH base AS (
  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey,
           l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax) AS rk,
         CAST(l_quantity AS DOUBLE) AS f0,
         CAST(l_discount AS DOUBLE) AS f1,
         CAST(l_tax AS DOUBLE) AS f2,
         CAST(l_linenumber AS DOUBLE) AS f3,
         CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS fy
  FROM lineitem
), m AS (
  {melt}
), u AS (
  SELECT rk, cid,
    (COALESCE(sum(1.0) OVER (PARTITION BY cid ORDER BY v, rk
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) + 0.5)
      / sum(1.0) OVER (PARTITION BY cid) AS uraw
  FROM m
), uc AS (
  SELECT rk, cid, uu AS uc, uu - 0.5 AS qv,
         0.180625 - (uu - 0.5) * (uu - 0.5) AS rc,
         sqrt(-ln(CASE WHEN uu < 0.5 THEN uu ELSE 1.0 - uu END)) AS rt
  FROM (SELECT rk, cid, least(greatest(uraw, 1e-6), 1.0 - 1e-6) AS uu FROM u)
), zr AS (
  SELECT rk, cid,
    CASE WHEN abs(qv) <= 0.425 THEN {central} ELSE {tail} END AS zraw
  FROM uc
), zm AS (
  SELECT cid, sum(zraw) / sum(1.0) AS mu FROM zr GROUP BY cid
), zv AS (
  SELECT z.cid, sum((z.zraw - s.mu) * (z.zraw - s.mu)) / sum(1.0) AS var
  FROM zr z JOIN zm s ON z.cid = s.cid GROUP BY z.cid
), zq AS (
  SELECT z.rk, z.cid,
    CAST((z.zraw - s.mu)
         / (CASE WHEN v.var > 1e-12 THEN sqrt(v.var) ELSE 1.0 END) AS REAL) AS zf
  FROM zr z JOIN zm s ON z.cid = s.cid JOIN zv v ON z.cid = v.cid
), zw AS (
  SELECT rk,
    {zw_cols}
  FROM zq GROUP BY rk
), st AS MATERIALIZED (
  -- 1 row; MATERIALIZED so the ~16 downstream references (rels, gpairs)
  -- don't each re-execute the full rank/ndtri/Gram chain — inlined, that
  -- fans out enough concurrent parquet scans to exhaust the fd limit in
  -- the shared Spark+DuckDB gate process
  SELECT
    {st_cols}
  FROM zw
), rels AS (
  {rel_rows}
), relv AS (
  SELECT cid, feature, r, abs(r) AS abs_r,
         {mi.format(x="r")} AS rel
  FROM rels
), ordv AS (
  SELECT *, row_number() OVER (ORDER BY abs_r DESC, cid) AS rnk FROM relv
), gpairs AS (
  {gp_rows}
),
{",".join(kept_stages)},
kept AS ({kept})"""


def _gaussian_cached_sql(k: int = _GC_K) -> str:
    """DuckDB oracle for q_gaussian_mrmr_cached: the shared prefix + the
    greedy mRMR quotient loop — score = rel / max(mean gaussian-MI
    redundancy vs selected, 1e-6); ties by the pruned (|r|-desc) candidate
    order (loops.py mrmr_greedy(redundancy='gaussian_mi'))."""
    stages = ["s1 AS (SELECT cid, rnk, rel FROM kept ORDER BY rel DESC, rnk LIMIT 1)"]
    sel_union = "SELECT cid FROM s1"
    for t in range(2, k + 1):
        red = _GC_MI.format(x="g.rho")
        stages.append(
            f"""p{t} AS (
  SELECT kk.cid, kk.rnk, kk.rel,
         kk.rel / greatest(
           (SELECT sum({red}) FROM gpairs g
            WHERE g.a = kk.cid AND g.b IN ({sel_union})) / {float(t - 1)},
           1e-6) AS score
  FROM kept kk WHERE kk.cid NOT IN ({sel_union})
), s{t} AS (SELECT cid, rnk, rel FROM p{t} ORDER BY score DESC, rnk LIMIT 1)"""
        )
        sel_union += f" UNION ALL SELECT cid FROM s{t}"
    final = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS rank, r.feature, round(s{t}.rel, 6) AS relevance"
        f" FROM s{t} JOIN relv r ON r.cid = s{t}.cid"
        for t in range(1, k + 1)
    )
    return f"{_gc_prefix_sql()},\n{','.join(stages)}\n{final}\n"


def _det_sql(M: list[list[str]]) -> str:
    """Cofactor-expansion determinant of a matrix of SQL expressions —
    fine for the ≤4×4 matrices of the CEFS+ oracle (n! growth; never feed
    it anything bigger)."""
    n = len(M)
    if n == 1:
        return M[0][0]
    terms = []
    for j in range(n):
        minor = [row[:j] + row[j + 1:] for row in M[1:]]
        sign = "" if j % 2 == 0 else "-"
        terms.append(f"{sign}({M[0][j]}) * ({_det_sql(minor)})")
    return " + ".join(terms).replace("+ -", "- ")


def _cefsplus_cached_sql(k: int = _GC_K) -> str:
    """DuckDB oracle for q_cefsplus_cached: the shared prefix + the CEFS+
    log-det greedy (loops.py cefsplus_greedy) with the step scores
    evaluated as DIRECT determinants (generated cofactor expansions) of
    the shrunk correlation structure — equal to the engine's incremental
    Schur form when no eps floor binds. Step 1 = argmax relevance; step t
    picks argmax ln det(Σ_{S∪f}) − ln det(Σ_{y,S∪f})."""

    def rs(alias: str) -> str:
        # shrunk r: engine rs = (1 - 1e-6) * r
        return f"((1.0 - 1e-6) * {alias}.r)"

    def rho(x: str, y: str) -> str:
        # shrunk off-diagonal: engine Rs = (1 - 1e-6) * R, diag reset to 1
        return (
            f"((1.0 - 1e-6) * (SELECT g.rho FROM gpairs g"
            f" WHERE g.a = {x}.cid AND g.b = {y}.cid))"
        )

    stages = ["c1 AS (SELECT cid, rnk, rel, r FROM kept ORDER BY rel DESC, rnk LIMIT 1)"]
    for t in range(2, k + 1):
        prev = [f"a{i}" for i in range(1, t)]
        froms = ", ".join(f"c{i} {a}" for i, a in enumerate(prev, 1))
        notsel = " AND ".join(f"f.cid <> {a}.cid" for a in prev)
        syms = prev + ["f"]
        m_s = [
            ["1.0" if i == j else rho(syms[i], syms[j]) for j in range(len(syms))]
            for i in range(len(syms))
        ]
        m_ys = [["1.0"] + [rs(s) for s in syms]] + [
            [rs(syms[i])] + m_s[i] for i in range(len(syms))
        ]
        stages.append(
            f"""q{t} AS (
  SELECT f.cid, f.rnk, f.rel, f.r,
         ln(greatest({_det_sql(m_s)}, 1e-12))
           - ln(greatest({_det_sql(m_ys)}, 1e-12)) AS score
  FROM kept f, {froms}
  WHERE {notsel}
), c{t} AS (SELECT cid, rnk, rel, r FROM q{t} ORDER BY score DESC, rnk LIMIT 1)"""
        )
    final = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS rank, r.feature, round(c{t}.rel, 6) AS relevance"
        f" FROM c{t} JOIN relv r ON r.cid = c{t}.cid"
        for t in range(1, k + 1)
    )
    return f"{_gc_prefix_sql()},\n{','.join(stages)}\n{final}\n"


SQL_GAUSSIAN_MRMR_CACHED = _gaussian_cached_sql()
SQL_CEFSPLUS_CACHED = _cefsplus_cached_sql()


# ---------------------------------------------------------------------------
# Skew utilities + permutation invariants (SURVEY.md §2.I / G6)
# ---------------------------------------------------------------------------

def q_salted_agg(spark, sf_dir):
    """Two-stage skew-proof aggregation (skew.py salted_agg) oracled against
    the plain GROUP BY it must equal. Sums run on decimal(18,6) so the
    salted partial-merge reassociation is exact — double partials would be
    bit-order-dependent and could differ from the oracle's flat sum in the
    last ulp."""
    from mrmr_spark.operators.skew import salted_agg

    e = _events(spark, sf_dir).select(
        "user_id", F.col("value").cast("decimal(18,6)").alias("v")
    )
    out = salted_agg(
        e,
        "user_id",
        {
            "n": F.count(F.lit(1)),
            "s": F.sum("v"),
            "mn": F.min("v"),
            "mx": F.max("v"),
        },
        {
            "n": F.sum("n"),
            "s": F.sum("s"),
            "mn": F.min("mn"),
            "mx": F.max("mx"),
        },
        n_salts=16,
    )
    return out.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("s").cast("double").alias("sum_value"),
        F.col("mn").cast("double").alias("min_value"),
        F.col("mx").cast("double").alias("max_value"),
    )


SQL_SALTED_AGG = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_value,
       CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
FROM events
GROUP BY user_id
"""


def q_salted_join(spark, sf_dir):
    """Replicated-dim skew join (skew.py salted_broadcast_left, lineitem x
    part on partkey, 8 salt replicas) oracled against the plain equi-join:
    the salt must route rows without changing the join result."""
    from mrmr_spark.operators.skew import salted_broadcast_left

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").alias("partkey"),
        "l_quantity",
    )
    pt = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand", "p_retailprice"
    )
    j = salted_broadcast_left(li, pt, "partkey", n_salts=8)
    return j.select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        "partkey",
        "p_brand",
        r6(F.col("p_retailprice")).alias("p_retailprice"),
        r6(F.col("l_quantity") * F.col("p_retailprice")).alias("gross"),
    )


SQL_SALTED_JOIN = """
SELECT l_orderkey,
       l_linenumber,
       l_partkey AS partkey,
       p_brand,
       round(p_retailprice, 6) AS p_retailprice,
       round(l_quantity * p_retailprice, 6) AS gross
FROM lineitem
JOIN part ON l_partkey = p_partkey
"""


def q_permute_invariants(spark, sf_dir):
    """Within-group permutation (permute.py permute_column, the G6 kernel
    behind permutation importance) oracled via its multiset invariant: a
    valid within-group permutation leaves every per-group count / sum /
    min / max of the permuted column equal to the raw column's, so the
    oracle aggregates the RAW values. Decimal sums keep the comparison
    exact under the permuted add order. The 'actually moves rows' half of
    the contract is seed-deterministic but not SQL-expressible (xxhash64
    ordering); pytest covers it (test_permute invariants)."""
    from mrmr_spark.operators.permute import permute_column

    e = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", F.col("value").cast("decimal(18,6)").alias("v")
    )
    p = permute_column(
        e, "v", method="within_group", group="user_id",
        key_cols=["ts", "event_id"], seed=7,
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v_perm").cast("double").alias("sum_perm"),
        F.min("v_perm").cast("double").alias("min_perm"),
        F.max("v_perm").cast("double").alias("max_perm"),
    )


SQL_PERMUTE_INVARIANTS = """
SELECT user_id,
       count(*) AS n_rows,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_perm,
       CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_perm,
       CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_perm
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Corpus curation: decontamination / repetition stats / stratified sampling
# ---------------------------------------------------------------------------

def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination on `documents`: the eval set is the
    deterministic doc_id % 97 == 0 slice, n=3 word-grams (the synthetic
    corpus' 31-word vocabulary makes the published n=13 default
    collision-free; semantics are n-independent). Spark matches grams by
    the 128-bit double-xxhash64 fingerprint; the oracle joins the gram
    strings themselves — agreement also evidences collision-freeness."""
    from mrmr_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=3, mode="flag").select(
        "doc_id", "contaminated", F.col("n_hit_grams").cast("bigint").alias("n_hit_grams")
    )


SQL_DECONTAMINATE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_hit_grams
  FROM grams JOIN bench USING (g)
  WHERE doc_id % 97 <> 0
  GROUP BY doc_id
)
SELECT d.doc_id,
       h.doc_id IS NOT NULL AS contaminated,
       coalesce(h.n_hit_grams, 0) AS n_hit_grams
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (word 2- and 3-grams) —
    the fused Arrow kernel vs an unnest+GROUP BY oracle."""
    from mrmr_spark.operators.curation import with_repetition_stats

    d = _t(spark, sf_dir, "documents", spread=True)
    out = with_repetition_stats(d.select("doc_id", "text"), ns=(2, 3))
    cols = ["doc_id"]
    for n in (2, 3):
        cols += [
            # double, not bigint: the oracle's sum() comes back HUGEINT ->
            # pandas float64, and the driver's value-hash distinguishes
            # int64 300 from float64 300.0 — the one hash-red row of r05
            # (r05's 49 hash-green rows all have kind-matched dtypes; this
            # was the only int-vs-float row). Values are identical ints
            # either way (< 2^53).
            F.col(f"rep{n}_total").cast("double").alias(f"rep{n}_total"),
            r6(F.col(f"rep{n}_dup_frac")).alias(f"rep{n}_dup_frac"),
            r6(F.col(f"rep{n}_top_frac")).alias(f"rep{n}_top_frac"),
        ]
    return out.select(*cols)


def _sql_rep(n: int) -> str:
    # 1-based inclusive list slice: ts[i:i+n-1] is an n-gram; i ranges
    # over 1..len-n+1 = range(1, len(ts)-n+2)
    return f"""
g{n} AS (
  SELECT doc_id, array_to_string(ts[i:i+{n - 1}], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(ts) - {n - 2})) AS t(i)
  WHERE len(ts) >= {n}
),
c{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY doc_id, g),
a{n} AS (
  SELECT doc_id, sum(c) AS total,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         max(c) AS mx
  FROM c{n} GROUP BY doc_id
)"""


SQL_REPETITION_STATS = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
{_sql_rep(2)},
{_sql_rep(3)}
SELECT d.doc_id,
       coalesce(a2.total, 0) AS rep2_total,
       round(coalesce(a2.dup * 1.0 / a2.total, 0.0), 6) AS rep2_dup_frac,
       round(coalesce(a2.mx * 1.0 / a2.total, 0.0), 6) AS rep2_top_frac,
       coalesce(a3.total, 0) AS rep3_total,
       round(coalesce(a3.dup * 1.0 / a3.total, 0.0), 6) AS rep3_dup_frac,
       round(coalesce(a3.mx * 1.0 / a3.total, 0.0), 6) AS rep3_top_frac
FROM documents d
LEFT JOIN a2 USING (doc_id)
LEFT JOIN a3 USING (doc_id)
"""


def q_stratified_sample(spark, sf_dir):
    """Exact deterministic per-source sampling under the SQL-reproducible
    affine key family; quota 5 per source. The xxhash64 production family
    and the two-phase presample path are equality-tested in pytest."""
    from mrmr_spark.operators.curation import stratified_sample_exact

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample_exact(d, "source", 5, hash_fn="affine", keep_rank=True)
    return out.select(
        "doc_id", "source", F.col("sample_rank").cast("int").alias("sample_rank")
    )


SQL_STRATIFIED_SAMPLE = """
WITH k AS (
  SELECT doc_id, source,
         (doc_id * 2654435761) % 4294967296 AS skey
  FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY skey, doc_id) AS sample_rank
  FROM k
)
SELECT doc_id, source, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= 5
"""


def q_pack_documents(spark, sf_dir, budget: int = 256):
    """Concat-and-chunk token packing over `documents` in doc_id order —
    the range-partitioned two-phase prefix sum vs a plain window-cumsum
    oracle. Integer chunk arithmetic end to end."""
    from mrmr_spark.operators.curation import pack_documents

    d = _t(spark, sf_dir, "documents")
    return pack_documents(d, budget=budget).select(
        "doc_id", "n_tokens", "token_offset", "chunk_first", "chunk_last",
        "n_chunks", "chunk_pos",
    )


SQL_PACK_DOCUMENTS = """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS off
  FROM t
)
SELECT doc_id, n_tokens,
       off AS token_offset,
       off // 256 AS chunk_first,
       (off + greatest(n_tokens, 1) - 1) // 256 AS chunk_last,
       CAST((off + greatest(n_tokens, 1) - 1) // 256 - off // 256 + 1 AS INT) AS n_chunks,
       off % 256 AS chunk_pos
FROM c
"""


def q_quantize_embeddings(spark, sf_dir):
    """Per-vector symmetric int8 quantization + dequant diagnostics. The
    half-up rounding is written as floor(x/scale + 0.5) in BOTH engines
    (library round() families differ); sums/maxes over the int codes are
    exact, float diagnostics at r6 like every embedding row."""
    from mrmr_spark.operators.similarity import quantize_embeddings

    e = _t(spark, sf_dir, "embeddings", spread=True)
    out = quantize_embeddings(e, with_error_stats=True)
    q_sum = F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x)
    q_l1 = F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x))
    return out.select(
        "vec_id",
        r6("scale").alias("scale"),
        q_sum.alias("q_sum"),
        q_l1.alias("q_l1"),
        r6("max_abs_err").alias("max_abs_err"),
        r6("cos_dequant").alias("cos_dequant"),
    )


SQL_QUANTIZE_EMBEDDINGS = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
s AS (
  SELECT vec_id, x,
         list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
  FROM e
),
qv AS (
  SELECT vec_id, x, scale,
         CASE WHEN scale > 0 THEN
           list_transform(x, v -> CAST(greatest(-127, least(127, floor(v / scale + 0.5))) AS INT))
         ELSE list_transform(x, v -> 0) END AS q
  FROM s
),
d AS (
  SELECT vec_id, x, scale, q,
         list_transform(q, v -> v * scale) AS dq
  FROM qv
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
       round(list_max(list_transform(range(1, len(x) + 1), i -> abs(x[i] - dq[i]))), 6)
           AS max_abs_err,
       round(list_dot_product(x, dq)
             / (sqrt(list_dot_product(x, x)) * sqrt(list_dot_product(dq, dq))), 6)
           AS cos_dequant
FROM d
"""


def q_lm_score(spark, sf_dir):
    """CCNet-style bigram-LM quality scoring: model trained on the
    doc_id % 7 == 0 reference slice, every document scored (add-k=0.5).
    Runs in decimal_terms mode so the per-doc log-prob sum is
    order-independent; Spark joins hashed grams, the oracle joins gram
    strings — agreement doubles as 128-bit collision evidence."""
    from mrmr_spark.operators.curation import bigram_lm_counts, ngram_lm_score

    d = _t(spark, sf_dir, "documents", spread=True)
    model = bigram_lm_counts(d.where(F.col("doc_id") % 7 == 0))
    out = ngram_lm_score(d, model, add_k=0.5, decimal_terms=True)
    return out.select(
        "doc_id", "n_terms", r6("avg_logprob").alias("avg_logprob"), r6("ppl").alias("ppl")
    )


SQL_LM_SCORE = """
WITH rtok AS (SELECT string_split(text, ' ') AS ts FROM documents WHERE doc_id % 7 = 0),
uni AS (SELECT w AS g, count(*) AS cnt FROM (SELECT unnest(ts) AS w FROM rtok) GROUP BY w),
big AS (
  SELECT array_to_string(ts[i:i+1], ' ') AS g, count(*) AS cnt
  FROM rtok, LATERAL unnest(range(1, len(ts))) AS t(i)
  WHERE len(ts) >= 2
  GROUP BY 1
),
v AS (SELECT count(*) AS vs FROM uni),
terms AS (
  SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS bg, ts[i] AS pre
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       LATERAL unnest(range(1, len(ts))) AS t(i)
  WHERE len(ts) >= 2
),
lp AS (
  SELECT doc_id,
         CAST(ln((coalesce(b.cnt, 0) + 0.5) / (coalesce(u.cnt, 0) + 0.5 * v.vs))
              AS DECIMAL(28,12)) AS lp
  FROM terms
  LEFT JOIN big b ON terms.bg = b.g
  LEFT JOIN uni u ON terms.pre = u.g
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, count(*) AS n_terms,
         CAST(sum(lp) AS DOUBLE) / count(*) AS avg_lp
  FROM lp GROUP BY doc_id
)
SELECT doc_id, n_terms,
       round(avg_lp, 6) AS avg_logprob,
       round(exp(-avg_lp), 6) AS ppl
FROM agg
"""


def q_gopher_filter(spark, sf_dir):
    """Composite Gopher-rule quality filter (flag mode), thresholds tuned
    so every rule is exercised on the synthetic corpus (word band 30+,
    mean-word-length band [3,5]; repetition caps at the published
    values). Every rule boolean plus the conjunction is value-checked."""
    from mrmr_spark.operators.curation import gopher_quality_filter

    d = _t(spark, sf_dir, "documents")
    out = gopher_quality_filter(
        d.select("doc_id", "text"),
        min_words=30,
        min_mean_word_len=3.0,
        max_mean_word_len=5.0,
        mode="flag",
    )
    return out.select(
        "doc_id", "q_words", "q_word_len", "q_symbols", "q_stopwords",
        "q_rep2", "q_rep3", "keep",
    )


SQL_GOPHER_FILTER = f"""
WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
{_sql_rep(2)},
{_sql_rep(3)}
SELECT t.doc_id,
       len(ts) BETWEEN 30 AND 100000 AS q_words,
       (list_sum(list_transform(ts, w -> length(w))) * 1.0 / greatest(len(ts), 1))
           BETWEEN 3.0 AND 5.0 AS q_word_len,
       (length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
           / greatest(length(text), 1)) <= 0.1 AS q_symbols,
       len(list_filter(ts, w -> lower(w) IN
           ('the','and','of','to','a','in','is','it','for','on'))) >= 2 AS q_stopwords,
       coalesce(a2.mx * 1.0 / a2.total, 0.0) <= 0.20 AS q_rep2,
       coalesce(a3.dup * 1.0 / a3.total, 0.0) <= 0.18 AS q_rep3,
       (len(ts) BETWEEN 30 AND 100000)
         AND ((list_sum(list_transform(ts, w -> length(w))) * 1.0 / greatest(len(ts), 1))
              BETWEEN 3.0 AND 5.0)
         AND ((length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0
              / greatest(length(text), 1)) <= 0.1)
         AND (len(list_filter(ts, w -> lower(w) IN
              ('the','and','of','to','a','in','is','it','for','on'))) >= 2)
         AND (coalesce(a2.mx * 1.0 / a2.total, 0.0) <= 0.20)
         AND (coalesce(a3.dup * 1.0 / a3.total, 0.0) <= 0.18) AS keep
FROM tok t
LEFT JOIN a2 ON t.doc_id = a2.doc_id
LEFT JOIN a3 ON t.doc_id = a3.doc_id
"""


def q_weighted_sample(spark, sf_dir):
    """Quality-weighted sampling without replacement (Efraimidis–Spirakis
    exponential keys), weight = n_chars+1, top-3 per source under the
    SQL-reproducible affine uniform. A 1-ulp ln() divergence between
    libm implementations could in principle flip an ordering; hash
    agreement across 100 selected rows doubles as evidence it does not."""
    from mrmr_spark.operators.curation import weighted_sample_exact

    d = _t(spark, sf_dir, "documents").withColumn(
        "w", (F.col("n_chars") + 1).cast("double")
    )
    out = weighted_sample_exact(d, "w", 3, strata_col="source", hash_fn="affine")
    return out.select("doc_id", "source")


SQL_WEIGHTED_SAMPLE = """
WITH k AS (
  SELECT doc_id, source,
         CAST(n_chars + 1 AS DOUBLE) AS w,
         greatest(((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                  0.5 / 4294967296.0) AS u
  FROM documents
),
e AS (SELECT doc_id, source, -ln(u) / w AS ekey FROM k),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY ekey ASC, doc_id ASC) AS rk
  FROM e
)
SELECT doc_id, source FROM r WHERE rk <= 3
"""


def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment under the affine
    uniform; every (doc_id, split) pair value-checked."""
    from mrmr_spark.operators.curation import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(
        d.select("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}, hash_fn="affine"
    )


SQL_HASH_SPLIT = """
SELECT doc_id,
       CASE
         WHEN ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.8 THEN 'train'
         WHEN ((doc_id * 2654435761) % 4294967296) / 4294967296.0 < 0.9 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


def q_fim_transform(spark, sf_dir):
    """Fill-in-the-middle (Bavarian et al. 2022) under the affine hash
    family: half the documents re-rendered as
    <fim_prefix>{p}<fim_suffix>{s}<fim_middle>{m} with both cut points
    floor(u*(len+1)) re-derived in SQL — every rendered string and the
    applied flag value-checked per document."""
    from mrmr_spark.operators.curation import fim_transform

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return fim_transform(d, rate=0.5, mode="psm", hash_fn="affine")


SQL_FIM_TRANSFORM = """
WITH b AS (
  SELECT doc_id, text, length(text) AS n,
    ((doc_id * 2654435761 + 1 * 2654435769) % 4294967296) / 4294967296.0 AS u_sel,
    ((doc_id * 2654435761 + 2 * 2654435769) % 4294967296) / 4294967296.0 AS u1,
    ((doc_id * 2654435761 + 3 * 2654435769) % 4294967296) / 4294967296.0 AS u2
  FROM documents
),
p AS (
  SELECT *, CAST(floor(u1 * (n + 1)) AS BIGINT) AS p1,
            CAST(floor(u2 * (n + 1)) AS BIGINT) AS p2
  FROM b
),
s AS (SELECT *, least(p1, p2) AS lo, greatest(p1, p2) AS hi FROM p)
SELECT doc_id,
       u_sel < 0.5 AS fim_applied,
       CASE WHEN u_sel < 0.5 THEN
         '<fim_prefix>' || substr(text, 1, lo)
         || '<fim_suffix>' || substr(text, hi + 1, n - hi)
         || '<fim_middle>' || substr(text, lo + 1, hi - lo)
       ELSE text END AS text
FROM s
"""


def q_explode_chunks(spark, sf_dir, budget: int = 256):
    """The materialized training-chunk span table from pack_documents —
    one row per (chunk, doc) intersection, spans tiling every chunk."""
    from mrmr_spark.operators.curation import explode_chunks, pack_documents

    d = _t(spark, sf_dir, "documents")
    packed = pack_documents(d, budget=budget)
    return explode_chunks(packed, budget).select(
        "chunk_id", "doc_id", "doc_start", "span", "chunk_pos"
    )


SQL_EXPLODE_CHUNKS = """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS off
  FROM t
),
p AS (
  SELECT doc_id, n_tokens, off,
         off // 256 AS chunk_first,
         (off + greatest(n_tokens, 1) - 1) // 256 AS chunk_last
  FROM c
),
x AS (
  SELECT doc_id, n_tokens, off, ch AS chunk_id,
         greatest(ch * 256 - off, 0) AS doc_start,
         least((ch + 1) * 256 - off, n_tokens) AS doc_end
  FROM p, LATERAL unnest(range(chunk_first, chunk_last + 1)) AS u(ch)
  WHERE n_tokens > 0
)
SELECT chunk_id, doc_id, doc_start,
       doc_end - doc_start AS span,
       greatest(off - chunk_id * 256, 0) AS chunk_pos
FROM x
WHERE doc_end - doc_start > 0
"""


def q_lm_score_trigram(spark, sf_dir):
    """The order-3 LM path (trigram counts / bigram prefixes) — same
    decimal-terms contract as `lm_score`."""
    from mrmr_spark.operators.curation import bigram_lm_counts, ngram_lm_score

    d = _t(spark, sf_dir, "documents")
    model = bigram_lm_counts(d.where(F.col("doc_id") % 7 == 0), order=3)
    out = ngram_lm_score(d, model, add_k=0.5, decimal_terms=True)
    return out.select(
        "doc_id", "n_terms", r6("avg_logprob").alias("avg_logprob"), r6("ppl").alias("ppl")
    )


SQL_LM_SCORE_TRIGRAM = """
WITH rtok AS (SELECT string_split(text, ' ') AS ts FROM documents WHERE doc_id % 7 = 0),
uni AS (
  SELECT array_to_string(ts[i:i+1], ' ') AS g, count(*) AS cnt
  FROM rtok, LATERAL unnest(range(1, len(ts))) AS t(i)
  WHERE len(ts) >= 2
  GROUP BY 1
),
big AS (
  SELECT array_to_string(ts[i:i+2], ' ') AS g, count(*) AS cnt
  FROM rtok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
  GROUP BY 1
),
v AS (SELECT count(DISTINCT w) AS vs FROM (SELECT unnest(ts) AS w FROM rtok)),
terms AS (
  SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS bg,
         array_to_string(ts[i:i+1], ' ') AS pre
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       LATERAL unnest(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
),
lp AS (
  SELECT doc_id,
         CAST(ln((coalesce(b.cnt, 0) + 0.5) / (coalesce(u.cnt, 0) + 0.5 * v.vs))
              AS DECIMAL(28,12)) AS lp
  FROM terms
  LEFT JOIN big b ON terms.bg = b.g
  LEFT JOIN uni u ON terms.pre = u.g
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, count(*) AS n_terms,
         CAST(sum(lp) AS DOUBLE) / count(*) AS avg_lp
  FROM lp GROUP BY doc_id
)
SELECT doc_id, n_terms,
       round(avg_lp, 6) AS avg_logprob,
       round(exp(-avg_lp), 6) AS ppl
FROM agg
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction over `documents` with deterministic synthetic PII
    (emails/IPs/phones keyed off doc_id, ssn constant on the %5 slice,
    md5-hex "secrets" on the %7 slice) injected by the SAME expression
    in both engines. The redacted text and every per-kind count are
    value-checked; the patterns are the character-identical strings on
    both sides (Java regex ∩ RE2 portable subset — no lookaround, no
    backreferences; both engines match leftmost-first)."""
    from mrmr_spark.operators.pii import DEFAULT_KINDS, redact_pii

    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" mail user"),
                doc,
                F.lit("@ex.example.org ip 10.1."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(".9 tel 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.lit(" key "), F.md5(doc))
        ).otherwise(F.lit("")),
    )
    inj = d.select("doc_id", injected.alias("text"))
    out = redact_pii(inj)
    return out.select(
        "doc_id",
        "text",
        *[F.col(f"n_{k}").cast("int").alias(f"n_{k}") for k in DEFAULT_KINDS],
    )


def _pii_sql() -> str:
    """Build the oracle from the live PII_PATTERNS dict so the pattern
    strings can never drift between the engine and the oracle."""
    from mrmr_spark.operators.pii import DEFAULT_KINDS, PII_PATTERNS

    red = "text"
    for k in DEFAULT_KINDS:
        red = f"regexp_replace({red}, '{PII_PATTERNS[k]}', '[{k.upper()}]', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{PII_PATTERNS[k]}')) AS INT) AS n_{k}"
        for k in DEFAULT_KINDS
    )
    return f"""
WITH inj AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0 THEN
           ' mail user' || CAST(doc_id AS VARCHAR) || '@ex.example.org ip 10.1.'
           || CAST(doc_id % 250 AS VARCHAR) || '.9 tel 415-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN ' key ' || md5(CAST(doc_id AS VARCHAR))
         ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       {red} AS text,
       {counts}
FROM inj
"""


SQL_PII_REDACT = _pii_sql()


def q_temperature_sample(spark, sf_dir):
    """Temperature-based domain-mixture sampling (quota ∝ count^(1/T),
    T=2, largest-remainder seats, clamp to stratum size) over a skewed
    60/30/10 domain derived from doc_id — the affine key family makes
    the within-stratum fill order SQL-reproducible; the quota arithmetic
    itself is re-derived independently in the oracle's window
    functions."""
    from mrmr_spark.operators.curation import temperature_sample

    d = _t(spark, sf_dir, "documents")
    strata = (
        F.when(F.col("doc_id") % 10 < 6, F.lit("web"))
        .when(F.col("doc_id") % 10 < 9, F.lit("books"))
        .otherwise(F.lit("code"))
    )
    dd = d.select("doc_id", strata.alias("domain"))
    out = temperature_sample(dd, "domain", 60, 2.0, hash_fn="affine", keep_rank=True)
    return out.select(
        "doc_id", "domain", F.col("sample_rank").cast("int").alias("sample_rank")
    )


SQL_TEMPERATURE_SAMPLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 6 THEN 'web'
              WHEN doc_id % 10 < 9 THEN 'books'
              ELSE 'code' END AS domain
  FROM documents
),
c AS (SELECT domain, count(*) AS cnt FROM d GROUP BY domain),
w AS (SELECT domain, cnt, pow(CAST(cnt AS DOUBLE), 0.5) AS w FROM c),
i AS (SELECT domain, cnt, 60.0 * w / sum(w) OVER () AS ideal FROM w),
b AS (
  SELECT domain, cnt, CAST(floor(ideal) AS BIGINT) AS base,
         round(ideal - floor(ideal), 9) AS frac
  FROM i
),
r AS (
  SELECT domain, cnt, base,
         row_number() OVER (ORDER BY frac DESC, domain) AS rk,
         60 - sum(base) OVER () AS seats
  FROM b
),
q AS (
  SELECT domain,
         least(base + CASE WHEN rk <= seats THEN 1 ELSE 0 END, cnt) AS quota
  FROM r
),
k AS (
  SELECT doc_id, domain, (doc_id * 2654435761) % 4294967296 AS skey FROM d
),
rnk AS (
  SELECT k.doc_id, k.domain, q.quota,
         row_number() OVER (PARTITION BY k.domain ORDER BY skey, doc_id)
             AS sample_rank
  FROM k JOIN q ON k.domain = q.domain
)
SELECT doc_id, domain, CAST(sample_rank AS INT) AS sample_rank
FROM rnk WHERE sample_rank <= quota
"""


def q_duplicate_spans(spark, sf_dir):
    """Lee et al. 2021 exact substring dedup on `documents`: maximal
    token spans covered by 6-grams occurring >=2 times corpus-wide, the
    per-gram canonical (min doc_id, pos) occurrence exempt. The corpus'
    planted exact-duplicate docs surface as whole-document spans with
    the first copy span-free. Spark merges positions with a
    gaps-and-islands window over token-hash-slice fingerprints; the
    oracle re-derives the same spans from the gram STRINGS with
    windowed df/row_number — agreement also evidences fingerprint
    collision-freeness."""
    from mrmr_spark.operators.curation import duplicate_spans

    d = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return duplicate_spans(d, n=6).select(
        "doc_id",
        F.col("tok_start").cast("bigint").alias("tok_start"),
        F.col("tok_end").cast("bigint").alias("tok_end"),
        "n_grams",
    )


_SQL_SPANS_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(ts[i:i+5], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(ts) - 4)) AS t(i)
  WHERE len(ts) >= 6
),
ranked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY g) AS df,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
  FROM occ
),
dup AS (SELECT doc_id, pos FROM ranked WHERE df >= 2 AND rn > 1),
flag AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 6
              THEN 1 ELSE 0 END AS new
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         sum(new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flag
),
spans AS (
  SELECT doc_id, min(pos) AS tok_start, max(pos) + 6 AS tok_end,
         count(*) AS n_grams
  FROM isl GROUP BY doc_id, island
)"""

SQL_DUPLICATE_SPANS = f"""
WITH {_SQL_SPANS_CTE}
SELECT doc_id, tok_start, tok_end, n_grams FROM spans
"""


def q_duplicate_trim(spark, sf_dir):
    """End-to-end span dedup: duplicate_spans -> trim_duplicate_spans.
    Non-canonical copies of every duplicated passage are cut out of the
    text (tokens re-joined on the split char); canonical copies and
    span-free docs pass through byte-identical. The oracle rebuilds the
    kept tokens with an anti-semijoin against the span table and an
    ordered string_agg."""
    from mrmr_spark.operators.curation import duplicate_spans, trim_duplicate_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # persist_occ=False: the bench's count over the trim output relies
    # on left-join elimination, which an InMemoryRelation boundary in
    # the spans subtree would block (measured 0.4 s -> 1.8 s)
    out = trim_duplicate_spans(d, duplicate_spans(d, n=6, persist_occ=False))
    return out.select(
        "doc_id",
        "text",
        F.col("n_removed_tokens").cast("bigint").alias("n_removed_tokens"),
    )


SQL_DUPLICATE_TRIM = f"""
WITH {_SQL_SPANS_CTE},
tokpos AS (
  SELECT doc_id, ts[i] AS tokn, i - 1 AS pos, len(ts) AS ntok
  FROM tok, LATERAL unnest(range(1, len(ts) + 1)) AS t(i)
),
kept AS (
  SELECT tp.doc_id, tp.tokn, tp.pos
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id
      AND tp.pos >= s.tok_start AND tp.pos < s.tok_end)
),
rebuilt AS (
  SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
spanned AS (SELECT DISTINCT doc_id FROM spans)
SELECT d.doc_id,
       CASE WHEN sp.doc_id IS NULL THEN d.text
            ELSE coalesce(r.text, '') END AS text,
       CASE WHEN sp.doc_id IS NULL THEN 0
            ELSE len(string_split(d.text, ' ')) - coalesce(r.n_kept, 0)
            END AS n_removed_tokens
FROM documents d
LEFT JOIN spanned sp USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""


def q_dsir_logweights(spark, sf_dir):
    """DSIR hashed-ngram importance weights: target = the doc_id%13
    slice, raw = the rest (scored); 256 buckets over unigrams+bigrams
    under the SQL-reproducible md5_60 bucket family, decimal terms so
    the per-doc sums are order-independent. The oracle re-derives both
    multinomials and every per-gram log ratio in DuckDB."""
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_doc_bucket_counts,
        dsir_logweights,
    )

    d = _t(spark, sf_dir, "documents", spread=True)
    target = d.where(F.col("doc_id") % 13 == 0)
    pool = d.where(F.col("doc_id") % 13 != 0)
    tm = dsir_bucket_counts(target, ns=(1, 2), n_buckets=256, hash_fn="md5_60")
    # ONE explode+md5 pass over the pool serves both the raw model and the
    # scorer (was two); grouped decimal×int scoring is exactly the
    # per-occurrence decimal sum (pytest test_dsir_doc_counts_path_identical)
    dc = dsir_doc_bucket_counts(pool, ns=(1, 2), n_buckets=256, hash_fn="md5_60").persist()
    rm = dsir_bucket_counts(None, ns=(1, 2), n_buckets=256, hash_fn="md5_60", doc_counts=dc)
    out = dsir_logweights(pool, tm, rm, alpha=1.0, decimal_terms=True, doc_counts=dc)
    return out.select("doc_id", "n_features", r6(F.col("log_weight")).alias("log_weight"))


_SQL_DSIR_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
grams AS (
  SELECT doc_id, unnest(ts) AS g FROM tok
  UNION ALL
  SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(ts))) AS t(i)
  WHERE len(ts) >= 2
),
bkt AS (
  SELECT doc_id,
         ('0x' || substr(md5('1:' || g), 1, 15))::BIGINT % 256 AS bucket
  FROM grams
),
tcnt AS (
  SELECT bucket, count(*) AS ct FROM bkt WHERE doc_id % 13 = 0 GROUP BY bucket
),
rcnt AS (
  SELECT bucket, count(*) AS cr FROM bkt WHERE doc_id % 13 <> 0 GROUP BY bucket
),
tot AS (
  SELECT (SELECT CAST(sum(ct) AS DOUBLE) FROM tcnt) AS tt,
         (SELECT CAST(sum(cr) AS DOUBLE) FROM rcnt) AS tr
),
terms AS (
  SELECT b.doc_id,
         CAST(ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 256.0))
              - ln((coalesce(r.cr, 0) + 1.0) / (tot.tr + 256.0))
              AS DECIMAL(28,12)) AS lr
  FROM bkt b
  LEFT JOIN tcnt t USING (bucket)
  LEFT JOIN rcnt r USING (bucket)
  CROSS JOIN tot
  WHERE b.doc_id % 13 <> 0
),
lw AS (
  SELECT doc_id, count(*) AS n_features,
         CAST(sum(lr) AS DOUBLE) AS log_weight
  FROM terms GROUP BY doc_id
)"""

SQL_DSIR_LOGWEIGHTS = f"""
WITH {_SQL_DSIR_CTE}
SELECT doc_id, n_features, round(log_weight, 6) AS log_weight FROM lw
"""


def q_dsir_sample(spark, sf_dir):
    """End-to-end DSIR: importance weights (md5_60 buckets, decimal
    terms) -> Gumbel top-100 resampling under the affine uniform. As
    with `weighted_sample`, a 1-ulp ln() divergence could in principle
    flip an ordering; hash agreement over the selected set doubles as
    evidence it does not."""
    from mrmr_spark.operators.curation import (
        dsir_bucket_counts,
        dsir_doc_bucket_counts,
        dsir_logweights,
        dsir_sample,
    )

    d = _t(spark, sf_dir, "documents", spread=True)
    target = d.where(F.col("doc_id") % 13 == 0)
    pool = d.where(F.col("doc_id") % 13 != 0)
    tm = dsir_bucket_counts(target, ns=(1, 2), n_buckets=256, hash_fn="md5_60")
    # shared single-pass pool counts, as in q_dsir_logweights
    dc = dsir_doc_bucket_counts(pool, ns=(1, 2), n_buckets=256, hash_fn="md5_60").persist()
    rm = dsir_bucket_counts(None, ns=(1, 2), n_buckets=256, hash_fn="md5_60", doc_counts=dc)
    lw = dsir_logweights(pool, tm, rm, alpha=1.0, decimal_terms=True, doc_counts=dc)
    out = dsir_sample(lw, 100, hash_fn="affine")
    return out.select("doc_id", "n_features")


SQL_DSIR_SAMPLE = f"""
WITH {_SQL_DSIR_CTE},
keyed AS (
  SELECT doc_id, n_features,
         log_weight
         - ln(-ln(greatest(((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                           0.5 / 4294967296.0))) AS gkey
  FROM lw
)
SELECT doc_id, n_features
FROM keyed ORDER BY gkey DESC, doc_id ASC LIMIT 100
"""


def q_contamination_trim(spark, sf_dir):
    """Surgical decontamination end to end: the doc_id%97 slice is the
    benchmark (same split as the `decontaminate` row, n=3), and instead
    of dropping contaminated docs the benchmark-covered spans are
    located and trimmed out. Oracle: DuckDB re-derives the benchmark
    gram set by STRING, the hit positions, the gaps-and-islands merge
    and the anti-semijoin rebuild."""
    from mrmr_spark.operators.curation import (
        contamination_spans,
        trim_duplicate_spans,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    sp = contamination_spans(corpus, bench, n=3)
    return trim_duplicate_spans(corpus, sp).select(
        "doc_id",
        "text",
        F.col("n_removed_tokens").cast("bigint").alias("n_removed_tokens"),
    )


SQL_CONTAMINATION_TRIM = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
bgrams AS (
  SELECT DISTINCT array_to_string(ts[i:i+2], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i)
  WHERE doc_id % 97 = 0 AND len(ts) >= 3
),
occ AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(ts[i:i+2], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(ts) - 1)) AS t(i)
  WHERE doc_id % 97 <> 0 AND len(ts) >= 3
),
hit AS (SELECT doc_id, pos FROM occ JOIN bgrams USING (g)),
flag AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 3
              THEN 1 ELSE 0 END AS new
  FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
  SELECT doc_id, pos,
         sum(new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flag
),
spans AS (
  SELECT doc_id, min(pos) AS tok_start, max(pos) + 3 AS tok_end
  FROM isl GROUP BY doc_id, island
),
tokpos AS (
  SELECT doc_id, ts[i] AS tokn, i - 1 AS pos
  FROM tok, LATERAL unnest(range(1, len(ts) + 1)) AS t(i)
  WHERE doc_id % 97 <> 0
),
kept AS (
  SELECT tp.doc_id, tp.tokn, tp.pos
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id
      AND tp.pos >= s.tok_start AND tp.pos < s.tok_end)
),
rebuilt AS (
  SELECT doc_id, string_agg(tokn, ' ' ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
spanned AS (SELECT DISTINCT doc_id FROM spans)
SELECT d.doc_id,
       CASE WHEN sp.doc_id IS NULL THEN d.text
            ELSE coalesce(r.text, '') END AS text,
       CASE WHEN sp.doc_id IS NULL THEN 0
            ELSE len(string_split(d.text, ' ')) - coalesce(r.n_kept, 0)
            END AS n_removed_tokens
FROM documents d
LEFT JOIN spanned sp USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
WHERE d.doc_id % 97 <> 0
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup (cluster-scoped semantic dedup) on `embeddings`. Oracled
    like ann_ivf: the gate variant uses the normalized vec_id<16
    embeddings as centroids so DuckDB reconstructs the assignment, the
    within-cluster ranking (ascending centroid similarity — the paper's
    keep-the-atypical rule), the above-eps pair drops and the keep
    flags from scratch. Cosine is scale-invariant, so the oracle skips
    the centroid normalization; hash agreement across 500 rows doubles
    as evidence the cross-engine double ulps never flip a rank."""
    import numpy as np

    from mrmr_spark.operators.similarity import semdedup

    e = _t(spark, sf_dir, "embeddings", spread=True)
    cent_rows = (
        e.where(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    )
    C = np.array([r[0] for r in cent_rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    out = semdedup(e, dim=64, eps=0.30, centroids=C)
    return out.select(
        "vec_id",
        F.col("list_id").cast("bigint").alias("list_id"),
        r6(F.col("centroid_sim")).alias("centroid_sim"),
        "keep",
    )


SQL_SEMDEDUP = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cents AS (
  SELECT vec_id AS list_id, e AS c FROM base WHERE vec_id < 16
), cos AS (
  SELECT b.vec_id, c.list_id,
         list_dot_product(b.e, c.c)
           / (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(c.c, c.c)))
           AS csim
  FROM base b CROSS JOIN cents c
), asg AS (
  SELECT vec_id, list_id, csim FROM (
    SELECT vec_id, list_id, csim,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, list_id ASC) AS rn
    FROM cos
  ) WHERE rn = 1
), ranked AS (
  SELECT vec_id, list_id, csim,
         row_number() OVER (PARTITION BY list_id ORDER BY csim ASC, vec_id ASC) AS rk
  FROM asg
), drops AS (
  SELECT DISTINCT hi.vec_id
  FROM ranked lo
  JOIN ranked hi ON lo.list_id = hi.list_id AND lo.rk < hi.rk
  JOIN base bl ON bl.vec_id = lo.vec_id
  JOIN base bh ON bh.vec_id = hi.vec_id
  WHERE list_dot_product(bl.e, bh.e)
          / (sqrt(list_dot_product(bl.e, bl.e)) * sqrt(list_dot_product(bh.e, bh.e)))
        > 0.30
)
SELECT r.vec_id, r.list_id, round(r.csim, 6) AS centroid_sim,
       d.vec_id IS NULL AS keep
FROM ranked r LEFT JOIN drops d USING (vec_id)
"""


def q_tfidf_terms(spark, sf_dir):
    """Corpus TF-IDF with per-document top-5 terms — every (doc, term)
    row's tf/df/score/rank value-checked against an independent SQL
    restatement (ties broken lexically on both sides, so ranks are
    fully deterministic)."""
    from mrmr_spark.operators.curation import tfidf_top_terms

    d = _t(spark, sf_dir, "documents", spread=True)
    out = tfidf_top_terms(d, k=5)
    return out.select(
        "doc_id", "term", "tf", "df", r6(F.col("score")).alias("score"), "rank"
    )


SQL_TFIDF_TERMS = """
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE length(term) > 0
  GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
s AS (
  SELECT doc_id, tf.term AS term, tf, df,
         tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS score
  FROM tf JOIN dft USING (term), n
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM s
)
SELECT doc_id, term, tf, df, round(score, 6) AS score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


def q_mix_budget(spark, sf_dir):
    """Deterministic per-source token-budget mixing under the affine
    uniform — one mapped budget, one zero budget (source dropped), the
    rest on the default; the kept set and both token columns are
    value-checked row-for-row."""
    from mrmr_spark.operators.curation import mix_to_token_budget

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = mix_to_token_budget(
        d, {"src0": 400, "src1": 700, "src2": 0}, hash_fn="affine", default_budget=200
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


SQL_MIX_BUDGET = """
WITH k AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         ((doc_id * 2654435761) % 4294967296) AS u,
         CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700
                     WHEN 'src2' THEN 0 ELSE 200 END AS budget
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens, budget,
         CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY u ASC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM k
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c
WHERE cum_tokens - n_tokens < budget
"""

# The line-layer fixtures synthesize newlines deterministically inside the
# query itself — ` the ` becomes a line break via plain (non-regex) replace,
# the character-identical transformation on both engines — because the
# driver corpus is single-line text. Short lines over the small vocabulary
# collide across documents, so the boilerplate (max_df) path is actually
# exercised, not vacuously green.


def q_common_lines(spark, sf_dir):
    """RefinedWeb-style boilerplate-line removal: every line occurring in
    >= 3 documents is dropped and the document rebuilt; rewritten text and
    removal counts value-checked. The engine keys lines by their 128-bit
    fingerprint; the oracle keys on the normalized line string itself, so
    the row also checks that no fingerprint collides."""
    from mrmr_spark.operators.lines import remove_common_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    return remove_common_lines(d, max_df=3)


SQL_COMMON_LINES = """
WITH l AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS t FROM documents),
p AS (
  SELECT doc_id,
         generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos,
         lower(trim(unnest(string_split(t, chr(10))))) AS norm
  FROM l
),
f AS (SELECT doc_id, pos, norm FROM p WHERE length(norm) >= 1),
freq AS (
  SELECT norm FROM (SELECT norm, count(DISTINCT doc_id) AS df FROM f GROUP BY norm)
  WHERE df >= 3
),
d AS (
  SELECT doc_id, list_sort(list(pos)) AS dp, CAST(count(*) AS BIGINT) AS nrem
  FROM f JOIN freq USING (norm) GROUP BY doc_id
),
o AS (
  SELECT l.doc_id,
         CASE WHEN d.dp IS NULL THEN l.t
              ELSE coalesce(array_to_string(
                     list_filter(string_split(l.t, chr(10)),
                                 (x, i) -> NOT list_contains(d.dp, i - 1)),
                     chr(10)), '')
         END AS text,
         coalesce(d.nrem, 0) AS n_removed_lines
  FROM l LEFT JOIN d USING (doc_id)
)
SELECT doc_id, text, n_removed_lines FROM o
"""


def q_c4_lines(spark, sf_dir):
    """C4-style per-line filtering (min words + blocklist; the terminal-
    punctuation clause is off because the synthetic corpus has no
    punctuation — pytest covers it on a punctuated fixture). Rebuilt text
    and kept/dropped counts value-checked."""
    from mrmr_spark.operators.lines import c4_line_filter

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    return c4_line_filter(
        d, min_words=4, require_terminal_punct=False, blocklist=("spark",)
    )


SQL_C4_LINES = """
WITH l AS (SELECT doc_id, string_split(replace(text, ' the ', chr(10)), chr(10)) AS lines
           FROM documents),
k AS (
  SELECT doc_id, lines,
         list_filter(lines,
                     x -> len(string_split(trim(x), ' ')) >= 4
                          AND NOT contains(lower(x), 'spark')) AS kept
  FROM l
)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS text,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped_lines
FROM k
"""


def _inject_urls(d):
    """Deterministic synthetic URLs keyed off doc_id (same convention as
    the pii_redact row's injected PII): five authority shapes — plain
    host, two-label public suffix, explicit port, dotless host, and
    userinfo — two schemes, and a query string on the %3 slice."""
    doc = F.col("doc_id")
    host = F.element_at(
        F.array(
            F.lit("news.example.com"),
            F.lit("blog.sample.co.uk"),
            F.lit("shop.example.org:8080"),
            F.lit("localhost"),
            F.lit("user@sub.data.example.net"),
        ),
        (doc % 5 + 1).cast("int"),
    )
    return d.select(
        "doc_id",
        "text",
        F.concat(
            F.when(doc % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
            F.lit("://"),
            host,
            F.lit("/p/"),
            doc.cast("string"),
            F.when(doc % 3 == 0, F.lit("?q=x")).otherwise(F.lit("")),
        ).alias("url"),
    )


# The oracle's CASE tables state the EXPECTED parse results by
# construction (ground truth), not by re-running the regexes — so the
# whole regex pipeline is checked against an independent derivation.
_SQL_URL_TRUTH = """
  SELECT doc_id,
         CASE doc_id % 2 WHEN 0 THEN 'https' ELSE 'http' END AS scheme,
         CASE doc_id % 5 WHEN 0 THEN 'news.example.com'
                         WHEN 1 THEN 'blog.sample.co.uk'
                         WHEN 2 THEN 'shop.example.org'
                         WHEN 3 THEN 'localhost'
                         ELSE 'sub.data.example.net' END AS host,
         '/p/' || doc_id AS path,
         CASE doc_id % 5 WHEN 0 THEN 'example.com'
                         WHEN 1 THEN 'sample.co.uk'
                         WHEN 2 THEN 'example.org'
                         WHEN 3 THEN 'localhost'
                         ELSE 'example.net' END AS registered_domain,
         CASE doc_id % 5 WHEN 0 THEN 'com'
                         WHEN 1 THEN 'uk'
                         WHEN 2 THEN 'org'
                         WHEN 3 THEN 'localhost'
                         ELSE 'net' END AS tld
  FROM documents
"""


def q_url_parts(spark, sf_dir):
    """URL parsing over synthetic per-doc URLs: scheme/host/path/
    registered-domain/tld all value-checked against the oracle's
    by-construction ground truth (port stripped, userinfo stripped,
    two-label public suffix honored, dotless host is its own domain)."""
    from mrmr_spark.operators.web import url_parts

    d = _inject_urls(_t(spark, sf_dir, "documents"))
    return url_parts(d).select(
        "doc_id", "scheme", "host", "path", "registered_domain", "tld"
    )


SQL_URL_PARTS = f"""
SELECT doc_id, scheme, host, path, registered_domain, tld
FROM ({_SQL_URL_TRUTH})
"""


def q_domain_stats(spark, sf_dir):
    """Domain blocklist + per-domain rollup: parse -> block one
    registered domain -> aggregate docs/tokens/chars per domain."""
    from mrmr_spark.operators.web import domain_stats, filter_by_domains, url_parts

    d = _inject_urls(_t(spark, sf_dir, "documents", spread=True))
    kept = filter_by_domains(url_parts(d), ["sample.co.uk"], mode="block")
    out = domain_stats(kept)
    return out.select(
        "registered_domain", "n_docs", "n_tokens", "n_chars",
        r6(F.col("mean_tokens")).alias("mean_tokens"),
    )


SQL_DOMAIN_STATS = f"""
WITH truth AS ({_SQL_URL_TRUTH}),
j AS (
  SELECT t.registered_domain, d.text
  FROM truth t JOIN documents d USING (doc_id)
  WHERE t.registered_domain <> 'sample.co.uk'
)
SELECT registered_domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       round(sum(len(string_split(text, ' '))) * 1.0 / count(*), 6) AS mean_tokens
FROM j GROUP BY registered_domain
"""


def q_pareto_sample(spark, sf_dir):
    """GPT-3's Pareto quality admission (Brown et al. 2020 App. A) made
    deterministic: score = type-token ratio, draw = Pareto(9) from the
    affine hash uniform; the draw, the score, and every keep decision
    value-checked. (The trained-LR classifier feeding this in production
    is pytest-only — LBFGS isn't SQL — but the admission rule, the novel
    part, is fully oracled.)"""
    from mrmr_spark.operators.quality_model import pareto_quality_sample

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = d.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) / F.size(toks).cast("double")).alias(
            "quality_score"
        ),
    )
    out = pareto_quality_sample(scored, hash_fn="affine", mode="flag")
    return out.select(
        "doc_id",
        r6(F.col("quality_score")).alias("quality_score"),
        r6(F.col("pareto_x")).alias("pareto_x"),
        "kept",
    )


SQL_PARETO_SAMPLE = """
WITH t AS (
  SELECT doc_id,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS score
  FROM documents
),
u AS (
  SELECT doc_id, score,
         greatest(((doc_id * 2654435761) % 4294967296) / 4294967296.0,
                  0.5 / 4294967296.0) AS u
  FROM t
),
x AS (SELECT doc_id, score, pow(1.0 - u, -1.0 / 9.0) - 1.0 AS px FROM u)
SELECT doc_id, round(score, 6) AS quality_score, round(px, 6) AS pareto_x,
       score > 1.0 - px AS kept
FROM x
"""


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch training-order permutation: the epoch keys
    for epochs 0 and 1 value-checked per document under the affine
    family (the order IS the key, so checking keys checks the
    permutation; the distributed range-sort is exercised by running
    through the operator)."""
    from mrmr_spark.operators.curation import epoch_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    frames = [
        epoch_shuffle(d, e, hash_fn="affine").select(
            "doc_id", F.lit(e).alias("epoch"), "epoch_key"
        )
        for e in (0, 1)
    ]
    return frames[0].unionByName(frames[1])


SQL_EPOCH_SHUFFLE = """
SELECT doc_id, e AS epoch,
       (doc_id * 2654435761 + e * 2246822519) % 4294967296 AS epoch_key
FROM documents, LATERAL unnest([0, 1]) AS t(e)
"""


def q_normalize_url(spark, sf_dir):
    """URL canonicalization over injected messy URLs (mixed-case
    authority, default and explicit ports, tracking params, fragments,
    an unparseable pass-through) — the normalized form value-checked
    against the oracle's by-construction expected strings."""
    from mrmr_spark.operators.web import normalize_url

    doc = F.col("doc_id").cast("string")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTPS://News.Example.COM:443/p/"), doc,
                     F.lit("?utm_source=x&id="), doc, F.lit("#frag")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("http://a.example.com:80/p/"), doc,
                     F.lit("?gclid=1&keep=2")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://shop.example.org:8080/p/"), doc,
                     F.lit("?a=1")),
        )
        .otherwise(F.concat(F.lit("/relative/"), doc))
        .alias("url"),
    )
    return normalize_url(d).select("doc_id", "url_norm")


SQL_NORMALIZE_URL = """
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'https://news.example.com/p/' || doc_id || '?id=' || doc_id
         WHEN 1 THEN 'http://a.example.com/p/' || doc_id || '?keep=2'
         WHEN 2 THEN 'https://shop.example.org:8080/p/' || doc_id || '?a=1'
         ELSE '/relative/' || doc_id
       END AS url_norm
FROM documents
"""


def q_sliding_chunks(spark, sf_dir):
    """Per-document overlapping window chunking (size 40, stride 25):
    every chunk's index/start/span/text value-checked — including the
    no-redundant-tail stop rule and the short final chunk."""
    from mrmr_spark.operators.curation import sliding_chunks

    d = _t(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return sliding_chunks(d, size=40, stride=25).select(
        "doc_id", "chunk_idx", "tok_start", "n_tokens", "chunk_text"
    )


SQL_SLIDING_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
s AS (
  SELECT doc_id, toks, n,
         greatest(CAST(ceil((n - 40) * 1.0 / 25) AS BIGINT) * 25, 0) AS last
  FROM t
),
x AS (
  SELECT doc_id, toks, n, g AS tok_start, g // 25 AS chunk_idx
  FROM s, LATERAL unnest(generate_series(0, last, 25)) AS u(g)
  WHERE g < n
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(least(40, n - tok_start) AS BIGINT) AS n_tokens,
       array_to_string(
         list_slice(toks, tok_start + 1, tok_start + least(40, n - tok_start)),
         ' ') AS chunk_text
FROM x
"""


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing, exact rank mode: per-language
    percent_rank over a deterministic score (char length as the ppl
    proxy) with the doc_id tiebreak, thirds cut at 1/3 and 2/3 — every
    document's bucket value-checked."""
    from mrmr_spark.operators.curation import perplexity_buckets

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("double").alias("ppl")
    )
    return perplexity_buckets(d, group_col="lang").select(
        "doc_id", "lang", "ppl_bucket"
    )


SQL_PPL_BUCKETS = """
WITH s AS (
  SELECT doc_id, lang,
         percent_rank() OVER (
           PARTITION BY lang
           ORDER BY CAST(length(text) AS DOUBLE), doc_id) AS pr
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN pr < 1.0 / 3 THEN 'head'
            WHEN pr < 2.0 / 3 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM s
"""


def q_ppl_buckets_cut(spark, sf_dir):
    """The production CCNet split end to end: per-language cut values
    from the exact interpolating percentile (fractions 0.25/0.5 —
    exact-double idx, so Spark percentile and DuckDB quantile_cont are
    bit-identical), broadcast-joined back and applied as a pure
    projection — the zero-shuffle 100 TB bucketing path."""
    from mrmr_spark.operators.curation import perplexity_buckets, perplexity_cuts

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("double").alias("ppl")
    )
    cuts = perplexity_cuts(d, fractions=(0.25, 0.5), group_col="lang")
    return perplexity_buckets(d, cuts=cuts, group_col="lang").select(
        "doc_id", "lang", "ppl_bucket"
    )


SQL_PPL_BUCKETS_CUT = """
WITH s AS (
  SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS ppl FROM documents
),
c AS (
  SELECT lang, quantile_cont(ppl, [0.25, 0.5]) AS cuts FROM s GROUP BY lang
)
SELECT s.doc_id, s.lang,
       CASE WHEN s.ppl <= cuts[1] THEN 'head'
            WHEN s.ppl <= cuts[2] THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM s JOIN c USING (lang)
"""


def q_bm25_topk(spark, sf_dir):
    """Lexical BM25 top-10 retrieval end to end: queries are the first
    four tokens of documents 0-2, scored with Lucene's BM25 over the
    whole corpus (df/N/avgdl recomputed from the same parquet), per-term
    contributions summed as DECIMAL(28,12) so the value hash is
    partition-order-independent; rank ties break on doc_id."""
    from mrmr_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents", spread=True)
    queries = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 4), " ").alias("query"),
    )
    return bm25_topk(docs, queries, k=10).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


SQL_BM25_TOPK = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(ts)) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
qt AS (
  SELECT q_id, unnest(qts) AS term
  FROM (
    SELECT doc_id AS q_id,
           list_distinct(list_filter(string_split(text, ' ')[1:4],
                                     t -> t <> '')) AS qts
    FROM documents WHERE doc_id < 3
  )
),
terms AS (SELECT DISTINCT term FROM qt),
posts AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM toks),
matched AS (
  SELECT p.doc_id, p.dl, p.term, count(*) AS tf
  FROM posts p JOIN terms USING (term)
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, count(*) AS df FROM matched GROUP BY term),
contrib AS (
  SELECT qt.q_id, m.doc_id,
         CAST(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * ((CAST(m.tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(m.tf AS DOUBLE)
                    + 1.2 * (1.0 - 0.75 + 0.75 * m.dl / s.avgdl)))
              AS DECIMAL(28,12)) AS c
  FROM matched m
  JOIN dfs d USING (term)
  JOIN qt USING (term)
  CROSS JOIN stats s
),
scored AS (
  SELECT q_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT q_id, doc_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY score DESC, doc_id ASC) AS rank,
         score
  FROM scored
)
SELECT q_id, doc_id, rank, score FROM ranked WHERE rank <= 10
"""


def q_bm25_indexed(spark, sf_dir):
    """The indexed BM25 path against the SAME oracle as bm25_topk:
    build the (postings, stats) inverted index once, search with the
    literal term-IN predicate — results must be bit-identical to the
    direct path (same formula, decimal summation, tiebreak), proving
    index build + indexed search end to end."""
    from mrmr_spark.operators.retrieval import bm25_build_index, bm25_topk_indexed

    docs = _t(spark, sf_dir, "documents", spread=True)
    queries = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 4), " ").alias("query"),
    )
    postings, stats = bm25_build_index(docs)
    return bm25_topk_indexed(postings, stats, queries, k=10).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval end to end: the sparse run (BM25 top-10 over the
    documents text, the bm25_topk row's construction) and the dense run
    (cosine kNN top-10 over the embeddings table, the knn_cosine row's
    construction — vec_id and doc_id share the 0..N-1 id space) fused by
    reciprocal-rank fusion at the published k=60. Per-run contributions
    are summed as DECIMAL(28,12) on both engines, so fused scores and
    the fused ranking are bit-identical; ties break on ascending id."""
    from mrmr_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents", spread=True)
    queries = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 4), " ").alias("query"),
    )
    sparse = bm25_topk(docs, queries, k=10).select("q_id", "doc_id", "rank")
    dense = q_knn_cosine(spark, sf_dir, k=10, n_queries=3).select(
        "q_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([sparse, dense], k=60).withColumn(
        "rank", F.col("rank").cast("bigint")
    )


SQL_RRF_FUSION = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(ts)) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
qt AS (
  SELECT q_id, unnest(qts) AS term
  FROM (
    SELECT doc_id AS q_id,
           list_distinct(list_filter(string_split(text, ' ')[1:4],
                                     t -> t <> '')) AS qts
    FROM documents WHERE doc_id < 3
  )
),
terms AS (SELECT DISTINCT term FROM qt),
posts AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM toks),
matched AS (
  SELECT p.doc_id, p.dl, p.term, count(*) AS tf
  FROM posts p JOIN terms USING (term)
  GROUP BY 1, 2, 3
),
dfs AS (SELECT term, count(*) AS df FROM matched GROUP BY term),
contrib AS (
  SELECT qt.q_id, m.doc_id,
         CAST(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * ((CAST(m.tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(m.tf AS DOUBLE)
                    + 1.2 * (1.0 - 0.75 + 0.75 * m.dl / s.avgdl)))
              AS DECIMAL(28,12)) AS c
  FROM matched m
  JOIN dfs d USING (term)
  JOIN qt USING (term)
  CROSS JOIN stats s
),
bm25_scored AS (
  SELECT q_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
  FROM contrib GROUP BY 1, 2
),
sparse AS (
  SELECT q_id, doc_id, rank FROM (
    SELECT q_id, doc_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM bm25_scored
  ) WHERE rank <= 10
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 3),
sims AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(q.q_emb, e.emb)
           / (sqrt(list_dot_product(q.q_emb, q.q_emb))
              * sqrt(list_dot_product(e.emb, e.emb))) AS sim
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
),
dense AS (
  SELECT q_id, vec_id AS doc_id, rank FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY sim DESC, vec_id ASC) AS rank
    FROM sims
  ) WHERE rank <= 10
),
unioned AS (
  SELECT q_id, doc_id,
         CAST(CAST(1.0 AS DOUBLE) / (60.0 + rank) AS DECIMAL(28,12)) AS c
  FROM sparse
  UNION ALL
  SELECT q_id, doc_id,
         CAST(CAST(1.0 AS DOUBLE) / (60.0 + rank) AS DECIMAL(28,12)) AS c
  FROM dense
),
fused AS (SELECT q_id, doc_id, sum(c) AS s FROM unioned GROUP BY 1, 2)
SELECT q_id, doc_id, round(CAST(s AS DOUBLE), 6) AS rrf_score,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY s DESC, doc_id ASC) AS rank
FROM fused
"""


def q_strip_html(spark, sf_dir):
    """WET-style HTML -> text extraction against a BY-CONSTRUCTION
    truth: wrap each document's (tag-free, single-spaced, verified)
    text in a full HTML shell — style + script blocks (one uppercase,
    one containing '<' and an entity), a comment, heading and paragraph
    tags, an '&amp;' entity injected via literal replace — and assert
    the extractor returns exactly 'Title ' + the entity-decoded text.
    The oracle never runs the extraction regexes: it states the
    expected string directly."""
    from mrmr_spark.operators.html import strip_html

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><STYLE type="text/css">p {color:red}</STYLE>'
                '<script>if (1<2) { alert("&amp;"); }</script></head>'
                "<body><!-- hidden\n comment --><h1>Title</h1><p>"
            ),
            F.replace(F.col("text"), F.lit(" the "), F.lit(" &amp; ")),
            F.lit(
                '</p><br/><SCRIPT src="x.js">var a = "<p>";</SCRIPT></body></html>'
            ),
        ).alias("text"),
    )
    return strip_html(d).select("doc_id", F.col("text").alias("clean"))


SQL_STRIP_HTML = """
SELECT doc_id, 'Title ' || replace(text, ' the ', ' & ') AS clean
FROM documents
"""


def q_term_blocklist(spark, sf_dir):
    """C4 bad-words blocklist as a flag pass: per-document count of
    blocked token occurrences + keep boolean, literal-predicate mode
    (the pure-projection production shape), case-insensitive."""
    from mrmr_spark.operators.curation import filter_by_terms

    d = _t(spark, sf_dir, "documents")
    return filter_by_terms(d, ["slow", "MERGE"], mode="flag").select(
        "doc_id", "n_blocked_terms", "keep"
    )


SQL_TERM_BLOCKLIST = """
SELECT doc_id,
       len(list_filter(string_split(text, ' '),
                       t -> lower(t) IN ('slow', 'merge'))) AS n_blocked_terms,
       len(list_filter(string_split(text, ' '),
                       t -> lower(t) IN ('slow', 'merge'))) = 0 AS keep
FROM documents
"""


def q_dedup_incremental(spark, sf_dir):
    """Incremental cross-corpus EXACT dedup against a BY-CONSTRUCTION
    reference snapshot: re-id'd, UPPER-CASED copies of every doc_id % 5
    == 2 document (so the 128-bit fingerprint's lower(trim()) must do
    real work, and drops are guaranteed at every SF). The survivor set
    is every new doc whose normalized text is not a % 5 == 2 text; the
    oracle is a NOT EXISTS on lower(trim(text)) — no fingerprints."""
    from mrmr_spark.operators.dedup import dedup_against

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.upper("text").alias("text"),
    )
    return dedup_against(d, ref, mode="exact").select("doc_id", "lang", "source")


SQL_DEDUP_INCREMENTAL = """
SELECT n.doc_id, n.lang, n.source
FROM documents n
WHERE NOT EXISTS (
    SELECT 1 FROM documents r
    WHERE r.doc_id % 5 = 2
      AND lower(trim(r.text)) = lower(trim(n.text))
  )
"""


def q_cross_candidates(spark, sf_dir):
    """Cross-corpus MinHash-LSH candidates under hash_fn='md5_60': even
    doc_ids are the new snapshot, odd the reference; the oracle
    recomputes shingles, 64 seeded min-hashes, 16x4 banding, the
    new-x-ref band join and the Jaccard estimate entirely in SQL."""
    from mrmr_spark.operators.dedup import cross_corpus_candidates

    d = _t(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 2 == 0)
    ref = d.where(F.col("doc_id") % 2 == 1)
    out = cross_corpus_candidates(new, ref, min_jaccard=0.35, hash_fn="md5_60")
    return out.select("new_id", "ref_id", r6("est_jaccard").alias("est_jaccard"))


SQL_CROSS_CANDIDATES = """
WITH sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, length(text) - 4),
                                     i -> substr(text, i, 5))) AS sh
        FROM documents WHERE length(text) >= 5)
), seeds AS (
  SELECT unnest(generate_series(0, 63)) AS seed
), sig AS (
  SELECT doc_id, seed,
         min(('0x' || substr(md5(seed::VARCHAR || ':' || sh), 1, 15))::BIGINT) AS mh
  FROM sh CROSS JOIN seeds
  GROUP BY doc_id, seed
), bandkeys AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS key
  FROM sig GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
  FROM bandkeys a
  JOIN bandkeys b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
), est AS (
  SELECT a.doc_id AS new_id, b.doc_id AS ref_id, count(*) / 64.0 AS est_jaccard
  FROM sig a
  JOIN sig b ON a.seed = b.seed AND a.mh = b.mh
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
)
SELECT c.new_id, c.ref_id, round(e.est_jaccard, 6) AS est_jaccard
FROM cand c
JOIN est e ON c.new_id = e.new_id AND c.ref_id = e.ref_id
WHERE e.est_jaccard >= 0.35
"""


def q_shard_sized(spark, sf_dir):
    """Exact-size training-shard assignment: global rank under the total
    order (n_chars, doc_id) via the two-phase range/offset pattern (no
    single-task window), shard = rank // 64 — every row's rank AND shard
    value-checked against a plain SQL row_number."""
    from mrmr_spark.sources.shards import sized_shards

    d = _t(spark, sf_dir, "documents")
    pin = []
    out = sized_shards(
        d, 64, order_by=["n_chars"], rank_col="rank", pin=pin
    ).select("doc_id", F.col("shard").cast("bigint"), F.col("rank").cast("bigint"))
    return out


SQL_SHARD_SIZED = """
SELECT doc_id,
       (row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 64 AS shard,
       row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank
FROM documents
"""


def q_shard_hash(spark, sf_dir):
    """Hash-sharding under the md5_60 family: shard = pmod(h(doc_id), 8),
    the zero-shuffle streaming-safe assignment, recomputed in DuckDB."""
    from mrmr_spark.sources.shards import hash_shards

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_shards(d, 8, hash_fn="md5_60").select(
        "doc_id", F.col("shard").cast("bigint")
    )


SQL_SHARD_HASH = """
SELECT doc_id,
       ('0x' || substr(md5('0:' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard
FROM documents
"""


def q_corpus_report(spark, sf_dir):
    """Dataset-card rollup per (source, lang): doc/token/char totals,
    mean tokens per doc, and each group's share of corpus tokens —
    every cell value-checked against a plain SQL GROUP BY."""
    from mrmr_spark.operators.curation import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents"), by=["source", "lang"])


SQL_CORPUS_REPORT = """
WITH g AS (
  -- sum(BIGINT) is HUGEINT in DuckDB -> float64 in pandas; cast back to
  -- BIGINT so the value hash sees the same integer type Spark emits
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens, n_chars,
       round(n_tokens * 1.0 / n_docs, 6) AS mean_doc_tokens,
       round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS token_share
FROM g
"""


def q_word_counts(spark, sf_dir):
    """Corpus word-frequency table — the one corpus-bounded scan of BPE
    tokenizer training (operators/tokenizer.py)."""
    from mrmr_spark.operators.tokenizer import word_counts

    return word_counts(_t(spark, sf_dir, "documents"))


SQL_WORD_COUNTS = """
SELECT tok AS word, count(*) AS "count"
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok
"""


#: fixed literal merge list for the BPE gate rows: encode/pair-count
#: correctness is a property of the merge-application machinery, not of any
#: particular trained list, and a literal keeps the oracle a static SQL
#: string (the driver-trained list for THIS corpus is pytest-oracled
#: against the recount-from-scratch trainer in test_tokenizer_embedding).
GATE_BPE_MERGES = [
    ("t", "h"),
    ("th", "e"),
    ("the", "</w>"),
    ("a", "n"),
    ("s", "c"),
    ("sc", "an"),
    ("e", "r"),
    ("er", "</w>"),
]

_SEPC = "chr(31)"
_SEP2 = "chr(31)||chr(31)"


def _bpe_wrap_sql(word_expr: str) -> str:
    """word → the \\x1f-wrapped symbol string (chars + '</w>'): every symbol
    individually wrapped, adjacent symbols sharing a \\x1f\\x1f boundary, so
    a merge of (a, b) is one literal replace()."""
    return (
        f"{_SEPC} || array_to_string(list_append(list_transform("
        f"generate_series(1, length({word_expr})), i -> substring({word_expr}, i, 1)),"
        f" '</w>'), {_SEP2}) || {_SEPC}"
    )


def _bpe_chain_sql(expr: str, merges) -> str:
    """Nested replace() chain applying the merges in rank order — replace()
    is left-to-right non-overlapping in both engines (the BPE merge rule)."""
    for a, b in merges:
        pat = f"{_SEPC}||'{a}'||{_SEP2}||'{b}'||{_SEPC}"
        rep = f"{_SEPC}||'{a}{b}'||{_SEPC}"
        expr = f"replace({expr}, {pat}, {rep})"
    return expr


def q_bpe_pair_counts(spark, sf_dir):
    """Corpus-weighted adjacent symbol-pair counts after a fixed merge list
    — the distributed form of the statistic BPE training maximizes. The
    engine encodes each word with the Python word kernel; the oracle
    re-derives the symbols through the replace-chain SQL."""
    from mrmr_spark.operators.tokenizer import bpe_pair_counts, word_counts

    wc = word_counts(_t(spark, sf_dir, "documents"))
    return bpe_pair_counts(wc, GATE_BPE_MERGES)


def _bpe_pair_counts_sql(merges) -> str:
    chain = _bpe_chain_sql(_bpe_wrap_sql("word"), merges)
    return f"""
WITH wc AS (
  SELECT tok AS word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
),
merged AS (SELECT cnt, {chain} AS s FROM wc),
syms AS (SELECT cnt, string_split(trim(s, {_SEPC}), {_SEP2}) AS sy FROM merged),
pairs AS (
  SELECT cnt, sy[i] AS sym_a, sy[i + 1] AS sym_b
  FROM syms, LATERAL unnest(generate_series(1, len(sy) - 1)) AS t(i)
)
SELECT sym_a, sym_b, CAST(sum(cnt) AS BIGINT) AS pair_count
FROM pairs GROUP BY 1, 2
"""


SQL_BPE_PAIR_COUNTS = _bpe_pair_counts_sql(GATE_BPE_MERGES)


def q_bpe_encode(spark, sf_dir):
    """BPE-encode the corpus under the fixed merge list — the engine runs
    its one encoder (a mapInPandas stage with a memoized per-partition word
    cache); the oracle re-derives the encoding through the pure
    replace-chain SQL, an independent implementation."""
    from mrmr_spark.operators.tokenizer import bpe_encode

    d = _t(spark, sf_dir, "documents", spread=True)
    out = bpe_encode(d, GATE_BPE_MERGES)
    n = F.size("bpe_tokens")
    return out.select(
        "doc_id",
        F.array_join("bpe_tokens", " ").alias("bpe_text"),
        n.cast("bigint").alias("n_bpe_tokens"),
    )


def _bpe_encode_sql(merges) -> str:
    # per word: wrapped symbols -> merge chain -> tokens joined by ' '
    # (trim the outer \x1f, turn the \x1f\x1f boundaries into spaces; word
    # symbols can't contain spaces because words come from a space split)
    chain = _bpe_chain_sql(_bpe_wrap_sql("w"), merges)
    per_word = f"replace(trim({chain}, {_SEPC}), {_SEP2}, ' ')"
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '') AS words
  FROM documents
),
enc AS (
  SELECT doc_id,
         array_to_string(list_transform(words, w -> {per_word}), ' ') AS bpe_text
  FROM w
)
SELECT doc_id, bpe_text,
       CASE WHEN bpe_text = '' THEN 0
            ELSE len(string_split(bpe_text, ' ')) END::BIGINT AS n_bpe_tokens
FROM enc
"""


SQL_BPE_ENCODE = _bpe_encode_sql(GATE_BPE_MERGES)


def q_hashed_embedding(spark, sf_dir):
    """Feature-hashing text embedding (dim 16, poly hash family — the
    ANSI-SQL-reproducible twin of the xxhash64 default; the one Arrow
    kernel is pytest-checked against a Python oracle for poly and against
    Spark's own xxhash64 for the default). Exploded to one row per
    (doc, bucket) so EVERY coordinate is value-checked."""
    from mrmr_spark.operators.embedding import hashed_embedding

    d = _t(spark, sf_dir, "documents", spread=True)
    # the Arrow kernel poly-hashes each distinct token once per batch
    out = hashed_embedding(d, dim=16, hash_fn="poly", out_col="emb")
    return out.select(
        "doc_id", F.posexplode("emb").alias("bucket", "value")
    ).select("doc_id", F.col("bucket").cast("int").alias("bucket"), r6("value").alias("value"))


SQL_HASHED_EMBEDDING = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(list_reduce(list_transform(generate_series(1, length(tok)),
                i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT)),
              (acc, c) -> (acc * 257 + c) % 2147483647) % 16 AS INT) AS bucket,
         CASE WHEN list_reduce(list_transform(generate_series(1, length(tok)),
                i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT)),
              (acc, c) -> (acc * 263 + c) % 2147483647) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
),
sums AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS s FROM hashed GROUP BY 1, 2),
grid AS (
  SELECT d.doc_id, b.bucket
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bucket) b
),
dense AS (
  SELECT g.doc_id, g.bucket, coalesce(s.s, 0) AS s
  FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.bucket = g.bucket
),
normed AS (
  SELECT doc_id, bucket, s,
         sqrt(sum(CAST(s AS DOUBLE) * s) OVER (PARTITION BY doc_id)) AS nrm
  FROM dense
)
SELECT doc_id, bucket,
       round(CASE WHEN nrm > 0 THEN s / nrm ELSE CAST(s AS DOUBLE) END, 6) AS value
FROM normed
"""


def _chat_events(spark, sf_dir):
    """Events re-shaped as a transcript: conv = user, stable order =
    (ts, event_id), role = event_type, text = props — both engines derive
    the same frame, so the chat rows exercise rendering, not reshaping."""
    return _events(spark, sf_dir).select(
        F.col("user_id").alias("conv_id"),
        "ts",
        "event_id",
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
    )


def q_chat_render(spark, sf_dir):
    """SFT chat-template rendering: one training string per conversation
    under the stable turn order (north-rule per-turn text equality — the
    oracle's ordered string_agg must byte-match every conversation)."""
    from mrmr_spark.operators.chat import render_conversations

    out = render_conversations(
        _chat_events(spark, sf_dir),
        conv_col="conv_id",
        order_cols=("ts", "event_id"),
        out_col="chat_text",
    )
    return out.select("conv_id", "chat_text", "n_turns")


SQL_CHAT_RENDER = """
SELECT user_id AS conv_id,
       string_agg('<|' || event_type || '|>' || chr(10) || coalesce(props, '')
                  || chr(10) || '<|end|>' || chr(10),
                  '' ORDER BY ts, event_id) AS chat_text,
       count(*) AS n_turns
FROM events
GROUP BY user_id
"""


def q_chat_spans(spark, sf_dir):
    """Per-turn loss-mask spans in the rendered conversation, computed
    WITHOUT rendering (template-constant lengths + one running-offset
    window); the oracle re-derives every offset from a window cumsum, so
    any drift between the renderer and the span math hash-mismatches."""
    from mrmr_spark.operators.chat import turn_spans

    out = turn_spans(
        _chat_events(spark, sf_dir),
        conv_col="conv_id",
        order_cols=("ts", "event_id"),
        assistant_role="click",
    )
    return out.select(
        "conv_id", "event_id", "role", "text_start", "text_end", "loss_mask"
    )


# template-constant lengths mirror chat.DEFAULT_HEADER ("<|{role}|>\n" ->
# pre "<|" len 2, post "|>\n" len 3) and DEFAULT_FOOTER ("\n<|end|>\n" len 9)
SQL_CHAT_SPANS = """
WITH t AS (
  SELECT user_id AS conv_id, ts, event_id, event_type AS role,
         2 + length(event_type) + 3 + length(coalesce(props, '')) + 9 AS turn_len,
         length(coalesce(props, '')) AS text_len
  FROM events
),
off AS (
  SELECT conv_id, event_id, role, text_len,
         coalesce(sum(turn_len) OVER (PARTITION BY conv_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS turn_start
  FROM t
)
SELECT conv_id, event_id, role,
       CAST(turn_start + 2 + length(role) + 3 AS BIGINT) AS text_start,
       CAST(turn_start + 2 + length(role) + 3 + text_len AS BIGINT) AS text_end,
       role = 'click' AS loss_mask
FROM off
"""


def q_token_loss_mask(spark, sf_dir):
    """Per-TOKEN loss masks over the rendered conversations (the SFT
    pipeline's last step): render -> turn spans -> BPE with offset mapping
    -> span containment. The engine runs the mapInPandas offset kernel; the
    oracle re-derives the whole chain (render string_agg, word offsets via
    a window cumsum, the replace-chain encode, within-word symbol offsets,
    containment EXISTS) in DuckDB — so one row checks rendering, span math,
    tokenization AND the mask rule against each other. Bounded to the
    user_id % 29 = 3 conversation slice (token rows ~ corpus characters)."""
    from mrmr_spark.operators.chat import token_loss_mask

    ev = _chat_events(spark, sf_dir).where(F.col("conv_id") % 29 == 3)
    return token_loss_mask(
        ev, GATE_BPE_MERGES, order_cols=("ts", "event_id"), assistant_role="click"
    )


def _token_loss_mask_sql(merges) -> str:
    chain = _bpe_chain_sql(_bpe_wrap_sql("word"), merges)
    return f"""
WITH r AS (
  SELECT user_id AS conv_id,
         string_agg('<|' || event_type || '|>' || chr(10) || coalesce(props, '')
                    || chr(10) || '<|end|>' || chr(10),
                    '' ORDER BY ts, event_id) AS chat_text
  FROM events WHERE user_id % 29 = 3 GROUP BY user_id
),
w AS (
  SELECT conv_id, i, ws[i] AS word
  FROM (SELECT conv_id, string_split(chat_text, ' ') AS ws FROM r),
       LATERAL unnest(generate_series(1, len(ws))) AS t(i)
),
woff AS (
  SELECT conv_id, i, word,
         coalesce(sum(length(word) + 1) OVER (PARTITION BY conv_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wstart
  FROM w
),
sy AS (
  SELECT conv_id, i, wstart,
         string_split(trim({chain} , {_SEPC}), {_SEP2}) AS syms
  FROM woff WHERE word <> ''
),
tok AS (
  SELECT conv_id, i, j, syms[j] AS token, wstart,
         length(syms[j]) - CASE WHEN syms[j] LIKE '%</w>' THEN 4 ELSE 0 END AS clen
  FROM sy, LATERAL unnest(generate_series(1, len(syms))) AS t(j)
),
toff AS (
  SELECT conv_id, i, j, token, clen,
         wstart + coalesce(sum(clen) OVER (PARTITION BY conv_id, i ORDER BY j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
  FROM tok
),
seq AS (
  SELECT conv_id,
         row_number() OVER (PARTITION BY conv_id ORDER BY i, j) - 1 AS tok_idx,
         token, tok_start, tok_start + clen AS tok_end
  FROM toff
),
sp0 AS (
  SELECT user_id AS conv_id, ts, event_id, event_type AS role,
         2 + length(event_type) + 3 + length(coalesce(props, '')) + 9 AS turn_len,
         length(coalesce(props, '')) AS text_len
  FROM events WHERE user_id % 29 = 3
),
sp1 AS (
  -- offsets run over ALL turns (the cumsum must include non-click turn
  -- lengths); the click filter happens only after the window
  SELECT conv_id, role,
         coalesce(sum(turn_len) OVER (PARTITION BY conv_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + 2 + length(role) + 3 AS s,
         text_len
  FROM sp0
),
spans AS (
  SELECT conv_id, s, s + text_len AS e FROM sp1 WHERE role = 'click'
)
SELECT q.conv_id, CAST(q.tok_idx AS BIGINT) AS tok_idx, q.token,
       CAST(q.tok_start AS BIGINT) AS tok_start,
       CAST(q.tok_end AS BIGINT) AS tok_end,
       EXISTS (SELECT 1 FROM spans sp WHERE sp.conv_id = q.conv_id
               AND CASE WHEN q.tok_end > q.tok_start
                        THEN q.tok_start >= sp.s AND q.tok_end <= sp.e
                        ELSE q.tok_start >= sp.s AND q.tok_start < sp.e END
              ) AS loss_mask
FROM seq q
"""


SQL_TOKEN_LOSS_MASK = _token_loss_mask_sql(GATE_BPE_MERGES)


# --- product quantization (Jégou 2011) ---------------------------------------
# Gate variant skips k-means like the ann_ivf row: the m=4 sub-codebooks are
# the dim/4-wide slices of the embeddings of vec_id < 8 (ksub=8) — a
# deterministic, data-dependent codebook DuckDB reconstructs with list
# slicing, so the oracle independently re-derives the per-subspace argmin
# codes AND the ADC lookup-table sums. Production pq_train runs real
# per-subspace Lloyd k-means; only the codebook source differs.

_PQ_M, _PQ_KSUB, _PQ_DIM = 4, 8, 64


def _pq_gate_books(spark, sf_dir):
    import numpy as np

    e = _t(spark, sf_dir, "embeddings")
    rows = (
        e.where(F.col("vec_id") < _PQ_KSUB)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    V = np.array([r[0] for r in rows], dtype=np.float64)
    dsub = _PQ_DIM // _PQ_M
    return np.stack([V[:, j * dsub : (j + 1) * dsub] for j in range(_PQ_M)])


def q_pq_codes(spark, sf_dir):
    """PQ encode: per (vector, subspace) nearest-codebook-centroid code.
    The oracle orders candidate centroids by DuckDB's exact
    ``list_distance`` (sqrt of the same sum — monotone, so the argmin is
    identical) with the same lowest-code tie-break."""
    from mrmr_spark.operators.similarity import pq_encode

    e = _t(spark, sf_dir, "embeddings")
    out = pq_encode(e, _pq_gate_books(spark, sf_dir))
    return out.select(
        "vec_id", F.posexplode("code").alias("j", "code")
    ).select("vec_id", "j", F.col("code").cast("int").alias("code"))


def q_pq_search(spark, sf_dir):
    """ADC top-5 (squared-L2) of queries vec_id < 10 over the PQ-coded
    corpus. The oracle rebuilds the codes, evaluates the 4 subspace
    lookup terms as ``list_distance^2`` (double rounding ~2^-52, far
    below the r6 comparison) and sums them in the kernel's
    ascending-subspace order."""
    from mrmr_spark.operators.similarity import pq_encode, pq_search

    e = _t(spark, sf_dir, "embeddings")
    B = _pq_gate_books(spark, sf_dir)
    codes = pq_encode(e, B)
    q = e.where(F.col("vec_id") < 10)
    out = pq_search(codes, q, B, k=5, metric="l2")
    return out.select("q_id", "vec_id", "rank", r6("adist").alias("adist"))


def _pq_sql_prefix() -> str:
    dsub = _PQ_DIM // _PQ_M
    vals = ",".join(f"({j})" for j in range(_PQ_M))
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), subs AS (
  SELECT vec_id, m.j, e[m.j*{dsub}+1 : m.j*{dsub}+{dsub}] AS s
  FROM base CROSS JOIN (VALUES {vals}) m(j)
), cents AS (
  SELECT j, vec_id AS code, s AS c FROM subs WHERE vec_id < {_PQ_KSUB}
), codes AS (
  SELECT vec_id, j, code FROM (
    SELECT s.vec_id, s.j, c.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY list_distance(s.s, c.c), c.code) AS rn
    FROM subs s JOIN cents c USING (j)
  ) WHERE rn = 1
)"""


SQL_PQ_CODES = _pq_sql_prefix() + """
SELECT vec_id, CAST(j AS INT) AS j, CAST(code AS INT) AS code FROM codes
"""

SQL_PQ_SEARCH = _pq_sql_prefix() + f"""
, terms AS (
  SELECT q.vec_id AS q_id, v.vec_id, v.j, list_distance(q.s, c.c)^2 AS t
  FROM codes v
  JOIN cents c ON c.j = v.j AND c.code = v.code
  JOIN subs q ON q.j = v.j AND q.vec_id < 10
  WHERE v.vec_id <> q.vec_id
), adist AS (
  SELECT q_id, vec_id,
         {" + ".join(f"sum(CASE WHEN j={j} THEN t END)" for j in range(_PQ_M))}
           AS adist
  FROM terms GROUP BY q_id, vec_id
)
SELECT q_id, vec_id, rank, round(adist, 6) AS adist FROM (
  SELECT q_id, vec_id, adist,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS INT)
           AS rank
  FROM adist
) WHERE rank <= 5
"""


# --- Bloom-filter membership (Bloom 1970) ------------------------------------
# Reference set = documents with doc_id % 3 == 0. The filter is built under
# the md5_60 family so DuckDB reconstructs the IDENTICAL bit array (word-by-
# word) and probes it — false positives must agree bit-for-bit, which makes
# this row a bit-level proof of the whole construction. n_bits is sized small
# (2048) so false positives actually occur at sf0.01+ (at sf0.1 the array is
# ~90% saturated — hundreds of FPs, all of which must match). is_dup is the
# verified (exact) answer; the oracle computes it as a plain IN.

_BLOOM_BITS, _BLOOM_K, _BLOOM_SEED = 2048, 3, 7


def q_bloom_membership(spark, sf_dir):
    from mrmr_spark.operators.bloom import bloom_filter_against

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 3 == 0)
    out = bloom_filter_against(
        d, ref, n_bits=_BLOOM_BITS, k_hashes=_BLOOM_K, seed=_BLOOM_SEED,
        hash_fn="md5_60", verify=True,
    )
    return out.select("doc_id", "maybe_dup", "is_dup")


def _bloom_sql() -> str:
    nb, k, seed = _BLOOM_BITS, _BLOOM_K, _BLOOM_SEED
    vals = ",".join(f"({i})" for i in range(k))

    def h(txt, i):
        return (
            f"('0x' || substr(md5(CAST({seed * 1000} + {i} AS VARCHAR) "
            f"|| ':' || {txt}), 1, 15))::BIGINT % {nb}"
        )

    return f"""
WITH ref AS (
  SELECT DISTINCT text FROM documents WHERE doc_id % 3 = 0
), pos AS (
  SELECT {h('text', 'i.i')} AS p
  FROM ref CROSS JOIN (VALUES {vals}) i(i)
), words AS (
  -- DuckDB checks 1 << 63 as overflow; bit 63 is min-int64 directly
  SELECT p // 64 AS w,
         bit_or(CASE WHEN p % 64 = 63
                     THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                     ELSE (1::BIGINT << CAST(p % 64 AS INT)) END) AS word
  FROM pos GROUP BY 1
), probe AS (
  SELECT d.doc_id, d.text, {h('d.text', 'i.i')} AS p
  FROM documents d CROSS JOIN (VALUES {vals}) i(i)
), maybe AS (
  SELECT doc_id,
         bool_and(COALESCE((w.word >> CAST(p % 64 AS INT)) & 1, 0) = 1)
           AS maybe_dup
  FROM probe LEFT JOIN words w ON w.w = p // 64
  GROUP BY doc_id
)
SELECT m.doc_id, m.maybe_dup,
       (d.text IN (SELECT text FROM ref)) AS is_dup
FROM maybe m JOIN documents d USING (doc_id)
"""


SQL_BLOOM_MEMBERSHIP = _bloom_sql()


# --- preference pairs (DPO/RLHF data prep) -----------------------------------


def q_preference_pairs(spark, sf_dir):
    """best_worst preference pairs per (source, lang) group over the
    documents table with n_chars as the stand-in reward. Oracle:
    the same two windows in DuckDB."""
    from mrmr_spark.operators.chat import preference_pairs

    d = _t(spark, sf_dir, "documents")
    return preference_pairs(
        d, ["source", "lang"], "n_chars", id_col="doc_id", min_margin=1.0
    )


SQL_PREFERENCE_PAIRS = """
WITH base AS (
  SELECT source, lang, doc_id, CAST(n_chars AS DOUBLE) AS s
  FROM documents WHERE n_chars IS NOT NULL
), ranked AS (
  SELECT source, lang, doc_id, s,
         row_number() OVER (PARTITION BY source, lang ORDER BY s DESC, doc_id) AS rb,
         row_number() OVER (PARTITION BY source, lang ORDER BY s ASC, doc_id) AS rw
  FROM base
)
SELECT b.source, b.lang,
       b.doc_id AS chosen_id, w.doc_id AS rejected_id,
       b.s AS chosen_score, w.s AS rejected_score,
       b.s - w.s AS margin
FROM (SELECT * FROM ranked WHERE rb = 1) b
JOIN (SELECT * FROM ranked WHERE rw = 1) w USING (source, lang)
WHERE b.doc_id <> w.doc_id AND b.s - w.s >= 1.0
"""


def q_preference_all_pairs(spark, sf_dir):
    """all_pairs strategy on a bounded slice (doc_id < 60): every ordered
    pair with margin >= 40 inside a (source, lang) group."""
    from mrmr_spark.operators.chat import preference_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    return preference_pairs(
        d, ["source", "lang"], "n_chars", id_col="doc_id",
        strategy="all_pairs", min_margin=40.0,
    )


SQL_PREFERENCE_ALL_PAIRS = """
WITH base AS (
  SELECT source, lang, doc_id, CAST(n_chars AS DOUBLE) AS s
  FROM documents WHERE n_chars IS NOT NULL AND doc_id < 60
)
SELECT a.source, a.lang,
       a.doc_id AS chosen_id, b.doc_id AS rejected_id,
       a.s AS chosen_score, b.s AS rejected_score,
       a.s - b.s AS margin
FROM base a JOIN base b USING (source, lang)
WHERE a.doc_id <> b.doc_id AND a.s - b.s >= 40.0 AND a.s - b.s > 0
"""


# --- unigram-LM tokenizer (Kudo 2018) -----------------------------------------
# Gate variant skips EM like the PQ/IVF rows skip k-means: the vocabulary is a
# deterministic statistic both engines derive from the data — ALL single chars
# + the top-20 multi-char substrings (length 2-4) by frequency-weighted
# occurrence count (ties by piece asc), logp = ln(weight/total). The oracle
# then finds the best segmentation of every distinct word by FULL PATH
# ENUMERATION in a recursive CTE (bounded: max word length 8), under the same
# (score desc, token-string asc) total order the engine's Viterbi DP uses —
# so this row proves the DP itself, not just the arithmetic. Production
# unigram_train runs the EM + prune loop; only the vocabulary source differs.

_UNI_TOP, _UNI_MAXLEN = 20, 4


def _unigram_gate_model(spark, sf_dir):
    import math

    from mrmr_spark.operators.tokenizer import word_counts
    from mrmr_spark.operators.unigram import substring_counts

    d = _t(spark, sf_dir, "documents")
    wc = word_counts(d)
    sc = substring_counts(wc, max_len=_UNI_MAXLEN)
    chars = sc.where(F.length("piece") == 1)
    multi = (
        sc.where(F.length("piece") >= 2)
        .orderBy(F.col("weight").desc(), F.col("piece").asc())
        .limit(_UNI_TOP)
    )
    rows = chars.unionByName(multi).collect()
    total = float(sum(r["weight"] for r in rows))
    logp = {r["piece"]: math.log(r["weight"] / total) for r in rows}
    return wc, {"logp": logp, "max_piece_len": _UNI_MAXLEN}


def q_unigram_segment(spark, sf_dir):
    from mrmr_spark.operators.unigram import unigram_encode

    wc, model = _unigram_gate_model(spark, sf_dir)
    enc = unigram_encode(
        wc.select("word"), model, text_col="word", out_col="t", with_score=True
    )
    return enc.select(
        "word",
        F.array_join("t", " ").alias("toks"),
        r6("t_score").alias("score"),
    )


SQL_UNIGRAM_SEGMENT = f"""
WITH RECURSIVE wc AS (
  SELECT word, count(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE word <> '' GROUP BY 1
), nums(n) AS (
  SELECT unnest(range(1, 9))
), subs AS (
  SELECT substr(w.word, i.n, l.n) AS piece, sum(w.cnt) AS wt
  FROM wc w
  JOIN nums i ON i.n <= length(w.word)
  JOIN nums l ON l.n <= {_UNI_MAXLEN} AND i.n + l.n <= length(w.word) + 1
  GROUP BY 1
), vocab0 AS (
  SELECT piece, wt FROM subs WHERE length(piece) = 1
  UNION ALL
  SELECT piece, wt FROM (
    SELECT piece, wt, row_number() OVER (ORDER BY wt DESC, piece) AS rn
    FROM subs WHERE length(piece) >= 2
  ) WHERE rn <= {_UNI_TOP}
), vocab AS (
  SELECT piece, length(piece) AS len,
         ln(CAST(wt AS DOUBLE) / (SELECT CAST(sum(wt) AS DOUBLE) FROM vocab0))
           AS logp
  FROM vocab0
), paths AS (
  SELECT word, 0 AS pos, CAST(0 AS DOUBLE) AS score, '' AS toks FROM wc
  UNION ALL
  SELECT p.word, p.pos + v.len, p.score + v.logp,
         CASE WHEN p.toks = '' THEN v.piece ELSE p.toks || ' ' || v.piece END
  FROM paths p JOIN vocab v ON substr(p.word, p.pos + 1, v.len) = v.piece
  WHERE p.pos + v.len <= length(p.word)
)
SELECT word, toks, round(score, 6) AS score FROM (
  SELECT word, toks, score,
         row_number() OVER (PARTITION BY word ORDER BY score DESC, toks) AS rn
  FROM paths WHERE pos = length(word)
) WHERE rn = 1
"""


# --- PCA / whitening over the embedding column -------------------------------
# Two rows: the training STATISTIC (sample covariance — the one distributed
# pass pca_train makes) oracled against DuckDB covar_samp over unnested
# coordinates, and the PROJECTION kernel (the 10^12-row path) under a
# fixed SQL-reproducible model: components = the embedding rows vec_id < k,
# mean = the vec_id = k row (same data-as-parameters construction as the
# PQ rows). The engine side runs the DEFAULT Arrow GEMM backend, so the
# row doubles as backend evidence for the pure-Column twin the SQL mirrors.

_PCA_K = 4


def q_embedding_cov(spark, sf_dir):
    """Sample covariance (ddof=1) of the 64-dim embedding column — the
    Chan-merged single-scan moments statistic behind pca_train."""
    from mrmr_spark.operators.pca import covariance_matrix

    cov = covariance_matrix(_t(spark, sf_dir, "embeddings"), _PQ_DIM)
    rows = [
        (i, j, round(float(cov[i, j]), 6))
        for i in range(_PQ_DIM)
        for j in range(_PQ_DIM)
    ]
    return spark.createDataFrame(rows, "i int, j int, cov double")


SQL_EMBEDDING_COV = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
idx AS (SELECT unnest(generate_series(0, {_PQ_DIM - 1})) AS i),
u AS (SELECT vec_id, i, emb[i + 1] AS v FROM e CROSS JOIN idx)
SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
       round(covar_samp(a.v, b.v), 6) AS cov
FROM u a JOIN u b ON a.vec_id = b.vec_id
GROUP BY a.i, b.i
"""


def q_pca_project(spark, sf_dir):
    import numpy as np

    from mrmr_spark.operators.pca import pca_project

    e = _t(spark, sf_dir, "embeddings")
    params = (
        e.where(F.col("vec_id") <= _PCA_K)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        .collect()
    )
    W = np.stack([np.asarray(r.e, dtype=np.float64) for r in params[:_PCA_K]])
    mu = np.asarray(params[_PCA_K].e, dtype=np.float64)
    out = pca_project(e, mean=mu, components=W)
    return out.select(
        "vec_id", F.posexplode("pca").alias("j", "y")
    ).select("vec_id", F.col("j").cast("int").alias("j"), r6("y").alias("y"))


SQL_PCA_PROJECT = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
w AS (SELECT CAST(vec_id AS INT) AS j, emb AS w FROM e WHERE vec_id < {_PCA_K}),
mu AS (SELECT emb AS mu FROM e WHERE vec_id = {_PCA_K})
SELECT e.vec_id, w.j,
       round(list_dot_product(e.emb, w.w) - list_dot_product(mu.mu, w.w), 6) AS y
FROM e CROSS JOIN w CROSS JOIN mu
"""


# --- Conversation prefix dedup ------------------------------------------------
# Retry/regeneration logs: an aborted attempt's transcript is the first k
# turns of the completed one. Both engines plant the duplicates from the
# events table itself (half-length 'r-' copies for uid % 5, full 'd-' copies
# for uid % 11), then the engine's 128-bit chain construction (verify=True —
# the exact positional re-check also runs) must agree with an independent
# cumulative-string-prefix oracle on every keep flag AND the covered_by
# representative (longest cover, then smallest id).


def q_prefix_dedup(spark, sf_dir):
    from pyspark.sql import Window as W

    from mrmr_spark.operators.dedup import prefix_dedup

    ev = _chat_events(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("ts", "event_id")
    t = ev.select(
        "conv_id",
        (F.row_number().over(w) - 1).alias("pos"),
        F.count("*").over(W.partitionBy("conv_id")).alias("_n"),
        "role",
        "text",
    )
    cid = F.col("conv_id").cast("string")
    base = t.select(F.concat(F.lit("conv-"), cid).alias("conv"), "pos", "role", "text")
    rplant = t.where(
        (F.col("conv_id") % 5 == 0)
        & (F.col("pos") < F.greatest(F.lit(1), F.floor(F.col("_n") / 2)))
    ).select(F.concat(F.lit("r-conv-"), cid).alias("conv"), "pos", "role", "text")
    dplant = t.where(F.col("conv_id") % 11 == 0).select(
        F.concat(F.lit("d-conv-"), cid).alias("conv"), "pos", "role", "text"
    )
    corpus = base.unionByName(rplant).unionByName(dplant)
    return prefix_dedup(
        corpus, conv_col="conv", order_cols=("pos",), content_cols=("role", "text"),
        verify=True,
    )


SQL_PREFIX_DEDUP = """
WITH t AS (
  SELECT user_id AS uid,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
         count(*) OVER (PARTITION BY user_id) AS n,
         event_type AS role, props AS text
  FROM events
), corpus AS (
  SELECT 'conv-' || uid AS conv, pos, role, text FROM t
  UNION ALL
  SELECT 'r-conv-' || uid, pos, role, text FROM t
  WHERE uid % 5 = 0 AND pos < greatest(1, n // 2)
  UNION ALL
  SELECT 'd-conv-' || uid, pos, role, text FROM t WHERE uid % 11 = 0
), cum AS (
  SELECT conv, pos + 1 AS pos1,
         string_agg(coalesce(role, chr(0)) || chr(31) || coalesce(text, chr(0)) || chr(30), '')
           OVER (PARTITION BY conv ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM corpus
), f AS (
  SELECT conv, max(pos1) AS n_turns, max_by(s, pos1) AS sfull FROM cum GROUP BY conv
), cand AS (
  SELECT a.conv, b.conv AS bconv, b.n_turns AS bn
  FROM f a
  JOIN cum c ON c.s = a.sfull AND c.pos1 = a.n_turns AND c.conv <> a.conv
  JOIN f b ON b.conv = c.conv
  WHERE b.n_turns > a.n_turns OR (b.n_turns = a.n_turns AND b.conv < a.conv)
), cov AS (
  SELECT conv, bconv FROM (
    SELECT conv, bconv,
           row_number() OVER (PARTITION BY conv ORDER BY bn DESC, bconv ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT f.conv, CAST(f.n_turns AS INT) AS n_turns,
       cov.bconv IS NULL AS keep, cov.bconv AS covered_by
FROM f LEFT JOIN cov ON cov.conv = f.conv
"""


def q_length_batches(spark, sf_dir):
    """Length-bucketed padded-batch assembly over documents (longest-first,
    batch 32) + per-batch padding stats — the exact global rank is the
    two-phase range pattern; the oracle re-derives it with a plain window
    row_number, so range-boundary/offset drift hash-mismatches."""
    from mrmr_spark.operators.curation import batch_by_length, batch_padding_stats

    d = _t(spark, sf_dir, "documents", spread=True)
    pin: list = []
    out = batch_padding_stats(
        batch_by_length(d, 32, len_col="n_chars", pin=pin), len_col="n_chars"
    ).select(
        "batch", "n_rows", "max_len", "sum_len", "padded_tokens",
        r6("pad_frac").alias("pad_frac"),
    )
    res = out.toPandas()
    for s in pin:
        s.unpersist()
    return spark.createDataFrame(
        res,
        "batch int, n_rows long, max_len long, sum_len long, "
        "padded_tokens long, pad_frac double",
    )


SQL_LENGTH_BATCHES = """
WITH r AS (
  SELECT doc_id, coalesce(n_chars, 0) AS len,
         row_number() OVER (ORDER BY coalesce(n_chars, 0) DESC, doc_id) - 1 AS rk
  FROM documents
), b AS (
  SELECT CAST(rk // 32 AS INT) AS batch, len FROM r
)
SELECT batch, count(*) AS n_rows, max(len) AS max_len, sum(len) AS sum_len,
       count(*) * max(len) - sum(len) AS padded_tokens,
       round(CASE WHEN count(*) * max(len) > 0
                  THEN (count(*) * max(len) - sum(len))::DOUBLE
                       / (count(*) * max(len))
                  ELSE 0.0 END, 6) AS pad_frac
FROM b GROUP BY batch
"""


def q_fewshot_prompts(spark, sf_dir):
    """k-shot eval-prompt assembly under the md5_60 family: eval slice
    doc_id % 17 = 5, pool = the rest, one deterministic 3-exemplar block
    per source; the oracle re-deals the block from the same hash order and
    re-renders every prompt byte-for-byte."""
    from mrmr_spark.operators.chat import fewshot_prompts

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 17 == 5)
    pool = d.where(F.col("doc_id") % 17 != 5)
    out = fewshot_prompts(ev, pool, 3, seed=5, hash_fn="md5_60")
    return out.select("doc_id", "source", "prompt", "n_shots")


SQL_FEWSHOT_PROMPTS = """
WITH pool AS (
  SELECT source, doc_id, coalesce(text, '') AS inp, coalesce(lang, '') AS tgt,
         ('0x' || substr(md5('5:' || doc_id), 1, 15))::BIGINT AS h
  FROM documents WHERE doc_id % 17 <> 5
), ex AS (
  SELECT source, inp, tgt,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM pool
), blk AS (
  SELECT source,
         string_agg('Q: ' || inp || chr(10) || 'A: ' || tgt || chr(10) || chr(10),
                    '' ORDER BY rn) AS block,
         CAST(count(*) AS INT) AS n_shots
  FROM ex WHERE rn <= 3 GROUP BY source
)
SELECT e.doc_id, e.source,
       coalesce(b.block, '') || 'Q: ' || coalesce(e.text, '') || chr(10) || 'A:'
         AS prompt,
       coalesce(b.n_shots, 0) AS n_shots
FROM documents e LEFT JOIN blk b USING (source)
WHERE e.doc_id % 17 = 5
"""


def q_interleave_mix(spark, sf_dir):
    """Weighted-fair-queueing source interleave over documents (src0 at 4x,
    src3 at 2x, rest 1x) under the md5_60 family — the oracle re-derives
    the ENTIRE stream order (every global position) from plain windows,
    so rank-phase or key-arithmetic drift anywhere hash-mismatches."""
    from mrmr_spark.operators.curation import interleave_sources

    d = _t(spark, sf_dir, "documents", spread=True)
    pin: list = []
    out = interleave_sources(
        d, {"src0": 4.0, "src3": 2.0}, seed=0, hash_fn="md5_60", pin=pin
    ).select("doc_id", "source", "global_pos")
    res = out.toPandas()
    for s in pin:
        s.unpersist()
    return spark.createDataFrame(res, "doc_id long, source string, global_pos long")


SQL_INTERLEAVE_MIX = """
WITH h AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('0:' || doc_id), 1, 15))::BIGINT AS hh
  FROM documents
), r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS r
  FROM h
), k AS (
  SELECT doc_id, source,
         r / CASE source WHEN 'src0' THEN 4.0 WHEN 'src3' THEN 2.0 ELSE 1.0 END
           AS key
  FROM r
)
SELECT doc_id, source,
       row_number() OVER (ORDER BY key, source, doc_id) - 1 AS global_pos
FROM k
"""


def q_qa_scores(spark, sf_dir):
    """SQuAD-style EM + token-F1 over constructed (pred, ref) pairs:
    doc_id%3=0 exact, %3=1 the first 8 words (partial recall), %3=2 the
    word-reversed text (EM 0 but F1 1 — the multiset-overlap check). The
    oracle recomputes normalization, per-token multiset counts and the
    no-answer conventions from unnest+GROUP BY."""
    from mrmr_spark.operators.textstats import qa_scores

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ref = (
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .when(F.col("doc_id") % 3 == 1, F.array_join(F.slice(toks, 1, 8), " "))
        .otherwise(F.array_join(F.reverse(toks), " "))
    )
    pairs = d.select("doc_id", F.col("text").alias("pred"), ref.alias("ref"))
    out = qa_scores(pairs)
    return out.select(
        "doc_id", "exact_match", "n_pred", "n_ref",
        r6("precision").alias("precision"), r6("recall").alias("recall"),
        r6("f1").alias("f1"),
    )


SQL_QA_SCORES = """
WITH pairs AS (
  SELECT doc_id, text AS pred,
         CASE WHEN doc_id % 3 = 0 THEN text
              WHEN doc_id % 3 = 1
                THEN array_to_string(string_split(text, ' ')[1:8], ' ')
              ELSE array_to_string(list_reverse(string_split(text, ' ')), ' ')
         END AS ref
  FROM documents
), n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
             lower(coalesce(pred, '')), '[^a-z0-9 ]', ' ', 'g'),
             '\\b(a|an|the)\\b', ' ', 'g'), ' +', ' ', 'g')) AS p,
         trim(regexp_replace(regexp_replace(regexp_replace(
             lower(coalesce(ref, '')), '[^a-z0-9 ]', ' ', 'g'),
             '\\b(a|an|the)\\b', ' ', 'g'), ' +', ' ', 'g')) AS r
  FROM pairs
), sz AS (
  SELECT doc_id, p, r,
         len(list_filter(string_split(p, ' '), x -> x <> '')) AS np,
         len(list_filter(string_split(r, ' '), x -> x <> '')) AS nr
  FROM n
), pc AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(list_filter(string_split(p, ' '), x -> x <> '')) AS tok
    FROM n
  ) GROUP BY doc_id, tok
), rc AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(list_filter(string_split(r, ' '), x -> x <> '')) AS tok
    FROM n
  ) GROUP BY doc_id, tok
), com AS (
  SELECT pc.doc_id, sum(least(pc.c, rc.c)) AS common
  FROM pc JOIN rc ON pc.doc_id = rc.doc_id AND pc.tok = rc.tok
  GROUP BY pc.doc_id
), sc AS (
  SELECT s.doc_id,
         CAST(s.p = s.r AS INT) AS exact_match,
         CAST(s.np AS INT) AS n_pred, CAST(s.nr AS INT) AS n_ref,
         CASE WHEN s.np = 0 AND s.nr = 0 THEN 1.0
              WHEN s.np > 0 THEN coalesce(c.common, 0)::DOUBLE / s.np
              ELSE 0.0 END AS precision,
         CASE WHEN s.np = 0 AND s.nr = 0 THEN 1.0
              WHEN s.nr > 0 THEN coalesce(c.common, 0)::DOUBLE / s.nr
              ELSE 0.0 END AS recall
  FROM sz s LEFT JOIN com c ON c.doc_id = s.doc_id
)
SELECT doc_id, exact_match, n_pred, n_ref,
       round(precision, 6) AS precision, round(recall, 6) AS recall,
       round(CASE WHEN n_pred = 0 AND n_ref = 0 THEN 1.0
                  WHEN precision + recall > 0
                    THEN 2.0 * precision * recall / (precision + recall)
                  ELSE 0.0 END, 6) AS f1
FROM sc
"""


def q_pass_at_k(spark, sf_dir):
    """Unbiased pass@k over synthetic per-problem sample counts derived
    from documents (n = 20 + doc_id%30, c = n_chars%(n+1)); the oracle
    re-derives the same left-folded product, so both the estimator math
    and the c=0 / n-c<k conventions are value-checked row by row."""
    from mrmr_spark.operators.textstats import pass_at_k

    d = _t(spark, sf_dir, "documents")
    n = (F.lit(20) + F.col("doc_id") % 30).cast("long")
    probs = d.select(
        "doc_id", n.alias("n_samples"),
        (F.col("n_chars") % (n + 1)).cast("long").alias("n_correct"),
    )
    out = pass_at_k(probs, ks=(1, 5))
    return out.select(
        "doc_id", "n_samples", "n_correct",
        r6("pass_at_1").alias("pass_at_1"), r6("pass_at_5").alias("pass_at_5"),
    )


def _passk_sql_term(k: int) -> str:
    prod = " * ".join(f"((n - c - {i})::DOUBLE / (n - {i}))" for i in range(k))
    return (
        f"CASE WHEN c <= 0 THEN 0.0 WHEN n - c < {k} THEN 1.0 "
        f"ELSE 1.0 - {prod} END"
    )


SQL_PASS_AT_K = f"""
WITH p AS (
  SELECT doc_id, 20 + doc_id % 30 AS n,
         n_chars % (20 + doc_id % 30 + 1) AS c
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples, CAST(c AS BIGINT) AS n_correct,
       round({_passk_sql_term(1)}, 6) AS pass_at_1,
       round({_passk_sql_term(5)}, 6) AS pass_at_5
FROM p
"""


def _bleu_pairs(spark, sf_dir):
    """Shared (pred, ref) construction for the BLEU rows: pred = first 20
    tokens; ref per doc_id%3 = identical / first-12 truncation (BP=1, low
    precision) / reversed (unigram-perfect, higher orders collapse)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pred = F.array_join(F.slice(toks, 1, 20), " ")
    ref = (
        F.when(F.col("doc_id") % 3 == 0, pred)
        .when(F.col("doc_id") % 3 == 1, F.array_join(F.slice(toks, 1, 12), " "))
        .otherwise(F.array_join(F.reverse(F.slice(toks, 1, 20)), " "))
    )
    return d.select("doc_id", pred.alias("pred"), ref.alias("ref"))


def q_bleu_scores(spark, sf_dir):
    """Sentence BLEU-4 over constructed (pred, ref) pairs. The oracle
    recomputes every clipped n-gram match count with list lambdas (the
    same distinct-gram multiset-min the Arrow kernel counts) plus the
    brevity penalty and the repeated-sqrt geometric mean, so the value
    check covers all 4 gram orders and the zero conventions row by row."""
    from mrmr_spark.operators.evalmetrics import bleu_scores

    out = bleu_scores(_bleu_pairs(spark, sf_dir))
    return out.select(
        "doc_id", "n_pred", "n_ref",
        "match_1", "total_1", "match_2", "total_2",
        "match_3", "total_3", "match_4", "total_4",
        r6("brevity_penalty").alias("brevity_penalty"), r6("bleu").alias("bleu"),
    )


def _bleu_sql_grams(arr: str, n: int) -> str:
    return (
        f"list_transform(range(1, len({arr}) - {n} + 2), "
        f"i -> array_to_string(list_slice({arr}, i, i + {n} - 1), ' '))"
    )


def _bleu_sql_terms() -> str:
    """Per-order gram/match/total columns as chained CTE select items."""
    parts = []
    for n in range(1, 5):
        cg, rg = _bleu_sql_grams("tp", n), _bleu_sql_grams("tr", n)
        parts.append(
            f"coalesce(list_sum(list_transform(list_distinct({cg}), g -> "
            f"least(len(list_filter({cg}, x -> x = g)), "
            f"len(list_filter({rg}, x -> x = g))))), 0) AS m{n}, "
            f"greatest(len(tp) - {n} + 1, 0) AS t{n}"
        )
    return ",\n         ".join(parts)


_BLEU_SQL_PAIRS = """
pairs AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS pred,
         CASE WHEN doc_id % 3 = 0
                THEN array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
              WHEN doc_id % 3 = 1
                THEN array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
              ELSE array_to_string(
                     list_reverse(list_slice(string_split(text, ' '), 1, 20)), ' ')
         END AS ref
  FROM documents
), tk AS (
  SELECT doc_id,
         list_filter(string_split(pred, ' '), x -> x <> '') AS tp,
         list_filter(string_split(ref, ' '), x -> x <> '') AS tr
  FROM pairs
), m AS (
  SELECT doc_id, len(tp) AS np, len(tr) AS nr,
         {terms}
  FROM tk
)"""

#: engine-mirroring BLEU final expressions: the exp brevity penalty and a
#: left-assoc product of the four precisions under repeated sqrt (both
#: mirror the engine's Column expression op for op)
_BLEU_SQL_BP = """CASE WHEN np = 0 THEN 0.0 WHEN np >= nr THEN 1.0
            ELSE exp(1.0 - nr::DOUBLE / np::DOUBLE) END"""

_BLEU_SQL_BLEU = f"""CASE WHEN m1 > 0 AND t1 > 0 AND m2 > 0 AND t2 > 0
                 AND m3 > 0 AND t3 > 0 AND m4 > 0 AND t4 > 0
            THEN ({_BLEU_SQL_BP})
                 * sqrt(sqrt(1.0 * (m1::DOUBLE / t1) * (m2::DOUBLE / t2)
                                 * (m3::DOUBLE / t3) * (m4::DOUBLE / t4)))
            ELSE 0.0 END"""

SQL_BLEU_SCORES = f"""
WITH {_BLEU_SQL_PAIRS.format(terms=_bleu_sql_terms())}
SELECT doc_id, CAST(np AS INT) AS n_pred, CAST(nr AS INT) AS n_ref,
       CAST(m1 AS INT) AS match_1, CAST(t1 AS INT) AS total_1,
       CAST(m2 AS INT) AS match_2, CAST(t2 AS INT) AS total_2,
       CAST(m3 AS INT) AS match_3, CAST(t3 AS INT) AS total_3,
       CAST(m4 AS INT) AS match_4, CAST(t4 AS INT) AS total_4,
       round({_BLEU_SQL_BP}, 6) AS brevity_penalty,
       round({_BLEU_SQL_BLEU}, 6) AS bleu
FROM m
"""


def q_corpus_bleu(spark, sf_dir):
    """Corpus BLEU-4 over the same pairs: the integer match/total sums
    are associative (partitioning-independent by construction) and the
    oracle re-applies the identical one-shot formula to its own sums."""
    from mrmr_spark.operators.evalmetrics import bleu_scores, corpus_bleu

    out = corpus_bleu(bleu_scores(_bleu_pairs(spark, sf_dir)))
    return out.select(
        "n_pred", "n_ref",
        "match_1", "total_1", "match_2", "total_2",
        "match_3", "total_3", "match_4", "total_4",
        r6("brevity_penalty").alias("brevity_penalty"), r6("bleu").alias("bleu"),
    )


SQL_CORPUS_BLEU = f"""
WITH {_BLEU_SQL_PAIRS.format(terms=_bleu_sql_terms())}, agg AS (
  SELECT CAST(sum(np) AS BIGINT) AS np, CAST(sum(nr) AS BIGINT) AS nr,
         CAST(sum(m1) AS BIGINT) AS m1, CAST(sum(t1) AS BIGINT) AS t1,
         CAST(sum(m2) AS BIGINT) AS m2, CAST(sum(t2) AS BIGINT) AS t2,
         CAST(sum(m3) AS BIGINT) AS m3, CAST(sum(t3) AS BIGINT) AS t3,
         CAST(sum(m4) AS BIGINT) AS m4, CAST(sum(t4) AS BIGINT) AS t4
  FROM m
)
SELECT np AS n_pred, nr AS n_ref,
       m1 AS match_1, t1 AS total_1, m2 AS match_2, t2 AS total_2,
       m3 AS match_3, t3 AS total_3, m4 AS match_4, t4 AS total_4,
       round({_BLEU_SQL_BP}, 6) AS brevity_penalty,
       round({_BLEU_SQL_BLEU}, 6) AS bleu
FROM agg
"""


def q_rouge_l(spark, sf_dir):
    """ROUGE-L from its one Arrow kernel (pred = first 12 tokens, ref =
    a 4-token rotation, doc_id%7 subset) against a recursive-CTE oracle
    that runs the same prefix-max LCS recurrence independently in SQL —
    a DP value check row by row (a Python-DP oracle test runs on top)."""
    from mrmr_spark.operators.evalmetrics import rouge_l_scores

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    toks = F.split(F.col("text"), " ")
    pred = F.array_join(F.slice(toks, 1, 12), " ")
    ref = F.array_join(F.concat(F.slice(toks, 5, 8), F.slice(toks, 1, 4)), " ")
    pairs = d.select("doc_id", pred.alias("pred"), ref.alias("ref"))
    out = rouge_l_scores(pairs)
    return out.select(
        "doc_id", "lcs", "n_pred", "n_ref",
        r6("rouge_l_precision").alias("rouge_l_precision"),
        r6("rouge_l_recall").alias("rouge_l_recall"),
        r6("rouge_l_f").alias("rouge_l_f"),
    )


SQL_ROUGE_L = """
WITH RECURSIVE base AS (
  SELECT doc_id,
         list_slice(string_split(text, ' '), 1, 12) AS tp,
         list_concat(list_slice(string_split(text, ' '), 5, 12),
                     list_slice(string_split(text, ' '), 1, 4)) AS tr
  FROM documents WHERE doc_id % 7 = 0
), sz AS (
  SELECT doc_id, tp, tr, len(tp) AS np, len(tr) AS nr FROM base
), dp AS (
  SELECT doc_id, tp, tr, np, nr, 0 AS i,
         list_transform(range(0, nr + 1), x -> 0) AS d
  FROM sz
  UNION ALL
  SELECT doc_id, tp, tr, np, nr, i + 1,
         list_prepend(0, list_transform(range(1, nr + 1), j ->
             greatest(
               list_extract(d, j + 1),
               list_max(list_transform(range(1, j + 1), k ->
                 list_extract(d, k)
                 + CASE WHEN list_extract(tr, k) = list_extract(tp, i + 1)
                        THEN 1 ELSE 0 END)))))
  FROM dp WHERE i < np
), fin AS (
  SELECT doc_id, np, nr,
         coalesce(list_extract(d, nr + 1), 0) AS lcs
  FROM dp WHERE i = np
)
SELECT doc_id, CAST(lcs AS INT) AS lcs,
       CAST(np AS INT) AS n_pred, CAST(nr AS INT) AS n_ref,
       round(CASE WHEN np > 0 THEN lcs::DOUBLE / np ELSE 0.0 END, 6)
         AS rouge_l_precision,
       round(CASE WHEN nr > 0 THEN lcs::DOUBLE / nr ELSE 0.0 END, 6)
         AS rouge_l_recall,
       round(CASE WHEN (CASE WHEN nr > 0 THEN lcs::DOUBLE / nr ELSE 0.0 END)
                     + (CASE WHEN np > 0 THEN lcs::DOUBLE / np ELSE 0.0 END) > 0
                  THEN 2.0 * (CASE WHEN np > 0 THEN lcs::DOUBLE / np ELSE 0.0 END)
                           * (CASE WHEN nr > 0 THEN lcs::DOUBLE / nr ELSE 0.0 END)
                       / ((CASE WHEN nr > 0 THEN lcs::DOUBLE / nr ELSE 0.0 END)
                          + (CASE WHEN np > 0 THEN lcs::DOUBLE / np ELSE 0.0 END))
                  ELSE 0.0 END, 6) AS rouge_l_f
FROM fin
"""


def q_wer(spark, sf_dir):
    """Word error rate from its one Arrow kernel (same pred/ref pairs as
    the rouge row) against a recursive-CTE oracle running the same
    prefix-min edit-distance recurrence independently in SQL — an
    exact-integer DP value check row by row (a Python-DP oracle test runs
    on top)."""
    from mrmr_spark.operators.evalmetrics import wer_scores

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    toks = F.split(F.col("text"), " ")
    pred = F.array_join(F.slice(toks, 1, 12), " ")
    ref = F.array_join(F.concat(F.slice(toks, 5, 8), F.slice(toks, 1, 4)), " ")
    pairs = d.select("doc_id", pred.alias("pred"), ref.alias("ref"))
    out = wer_scores(pairs)
    return out.select(
        "doc_id", "edit_dist", "n_pred", "n_ref", r6("wer").alias("wer")
    )


SQL_WER = """
WITH RECURSIVE base AS (
  SELECT doc_id,
         list_slice(string_split(text, ' '), 1, 12) AS tp,
         list_concat(list_slice(string_split(text, ' '), 5, 12),
                     list_slice(string_split(text, ' '), 1, 4)) AS tr
  FROM documents WHERE doc_id % 7 = 0
), sz AS (
  SELECT doc_id, tp, tr, len(tp) AS np, len(tr) AS nr FROM base
), dp AS (
  SELECT doc_id, tp, tr, np, nr, 0 AS i,
         list_transform(range(0, nr + 1), x -> x) AS d
  FROM sz
  UNION ALL
  SELECT doc_id, tp, tr, np, nr, i + 1,
         list_transform(range(0, nr + 1), j ->
           j + list_min(list_transform(range(0, j + 1), k ->
             CASE WHEN k = 0 THEN list_extract(d, 1) + 1
                  ELSE least(
                    list_extract(d, k + 1) + 1,
                    list_extract(d, k)
                    + CASE WHEN list_extract(tr, k) = list_extract(tp, i + 1)
                           THEN 0 ELSE 1 END)
             END - k)))
  FROM dp WHERE i < np
), fin AS (
  SELECT doc_id, np, nr, list_extract(d, nr + 1) AS dist
  FROM dp WHERE i = np
)
SELECT doc_id, CAST(dist AS INT) AS edit_dist,
       CAST(np AS INT) AS n_pred, CAST(nr AS INT) AS n_ref,
       round(CASE WHEN nr > 0 THEN dist::DOUBLE / nr::DOUBLE
                  WHEN np = 0 THEN 0.0 END, 6) AS wer
FROM fin
"""


def q_bt_ratings(spark, sf_dir):
    """Bradley-Terry MM fit over a constructed 20-item comparison set
    (source vs a derived opponent, winner by n_chars parity). The oracle
    unrolls ALL 15 MM iterations as CTEs with the same 1e-12-quantized
    integer-summed denominators, so every float step of the driver loop
    is value-checked — rating drift at any iteration hash-mismatches."""
    from mrmr_spark.operators.evalmetrics import bradley_terry

    d = _t(spark, sf_dir, "documents")
    a = F.col("source")
    b = F.concat(F.lit("src"), ((F.col("doc_id") * 7 + 3) % 20).cast("string"))
    cmp = d.where(a != b).select(
        F.when(F.col("n_chars") % 2 == 0, a).otherwise(b).alias("winner"),
        F.when(F.col("n_chars") % 2 == 0, b).otherwise(a).alias("loser"),
    )
    out = bradley_terry(cmp, iters=15, prior=0.5)
    return out.select("item", "wins", "games", r6("rating").alias("rating"))


def _bt_sql_iter(t: int) -> str:
    # MATERIALIZED: each iteration joins the previous one TWICE — default
    # CTE inlining would expand the base scan 2^15 times (fd exhaustion)
    return f"""it{t} AS MATERIALIZED (
  SELECT w.item,
         least(greatest(
           floor((w.wins + 0.5) / (d.den / 1e12) * 1e12 + 0.5) / 1e12,
           1e-6), 1e6) AS th
  FROM witems w JOIN (
    SELECT p.item,
           CAST(SUM(CAST(floor(p.n / (ta.th + tb.th) * 1e12 + 0.5) AS HUGEINT))
                + CAST(floor(2 * 0.5 / (min(ta.th) + 1) * 1e12 + 0.5) AS HUGEINT)
             AS DOUBLE) AS den
    FROM pairn p
    JOIN it{t - 1} ta ON ta.item = p.item
    JOIN it{t - 1} tb ON tb.item = p.opp
    GROUP BY p.item
  ) d ON d.item = w.item
)"""


SQL_BT_RATINGS = f"""
WITH cmp AS MATERIALIZED (
  SELECT CASE WHEN n_chars % 2 = 0 THEN source ELSE cand END AS w,
         CASE WHEN n_chars % 2 = 0 THEN cand ELSE source END AS l
  FROM (SELECT doc_id, source, n_chars,
               'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS cand
        FROM documents)
  WHERE source <> cand
), sym AS MATERIALIZED (
  SELECT w AS item, l AS opp FROM cmp UNION ALL SELECT l, w FROM cmp
), pairn AS MATERIALIZED (
  SELECT item, opp, count(*)::DOUBLE AS n FROM sym GROUP BY 1, 2
), witems AS MATERIALIZED (
  SELECT s.item, coalesce(wn.wins, 0) AS wins, g.games
  FROM (SELECT DISTINCT item FROM sym) s
  LEFT JOIN (SELECT w AS item, count(*) AS wins FROM cmp GROUP BY 1) wn
    USING (item)
  JOIN (SELECT item, count(*) AS games FROM sym GROUP BY 1) g USING (item)
), it0 AS MATERIALIZED (
  SELECT item, CAST(1.0 AS DOUBLE) AS th FROM witems
), {', '.join(_bt_sql_iter(t) for t in range(1, 16))}
SELECT w.item, CAST(w.wins AS BIGINT) AS wins, CAST(w.games AS BIGINT) AS games,
       round(t.th, 6) AS rating
FROM witems w JOIN it15 t USING (item)
"""


def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa over events as an annotation frame (item = user_id
    bucket, label = event_type): the oracle re-derives per-item pairwise
    agreement, the retained-item marginals and both DECIMAL-summed means
    independently."""
    from mrmr_spark.operators.evalmetrics import fleiss_kappa

    ev = _events(spark, sf_dir)
    rat = ev.select(
        (F.col("user_id") % 40).alias("item"), F.col("event_type").alias("label")
    )
    out = fleiss_kappa(rat)
    return out.select(
        "n_items", "n_ratings",
        r6("p_bar").alias("p_bar"), r6("p_e").alias("p_e"),
        r6("kappa").alias("kappa"),
    )


SQL_FLEISS_KAPPA = """
WITH cnt AS (
  SELECT user_id % 40 AS i, event_type AS l, count(*) AS c
  FROM events GROUP BY 1, 2
), per AS (
  SELECT i, sum(c) AS n_i, sum(c * (c - 1)) AS s_i
  FROM cnt GROUP BY 1 HAVING sum(c) >= 2
), it AS (
  SELECT count(*) AS n_items, sum(n_i) AS n_ratings,
         sum(CAST(s_i::DOUBLE / (n_i::DOUBLE * (n_i - 1)::DOUBLE)
                  AS DECIMAL(28,12))) AS p_sum
  FROM per
), mg AS (
  SELECT l, sum(c) AS t_l FROM cnt JOIN per USING (i) GROUP BY l
), tot AS (
  SELECT sum(t_l) AS n FROM mg
), pe AS (
  SELECT CAST(sum(CAST((t_l::DOUBLE / n::DOUBLE) * (t_l::DOUBLE / n::DOUBLE)
                       AS DECIMAL(28,12))) AS DOUBLE) AS p_e
  FROM mg, tot
)
SELECT CAST(n_items AS BIGINT) AS n_items, CAST(n_ratings AS BIGINT) AS n_ratings,
       round(CAST(p_sum AS DOUBLE) / n_items::DOUBLE, 6) AS p_bar,
       round(p_e, 6) AS p_e,
       round(CASE WHEN p_e < 1.0
                  THEN (CAST(p_sum AS DOUBLE) / n_items::DOUBLE - p_e)
                       / (1.0 - p_e) END, 6) AS kappa
FROM it, pe
"""


def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between event_type and a derived second rater
    (agrees on event_id%3=0, else a deterministic label swap) — the
    oracle recomputes the exact P_o ratio and the DECIMAL-summed P_e."""
    from mrmr_spark.operators.evalmetrics import cohens_kappa

    ev = _events(spark, sf_dir)
    swap = (
        F.when(F.col("event_type") == "click", F.lit("view"))
        .when(F.col("event_type") == "view", F.lit("click"))
        .otherwise(F.lit("error"))
    )
    b = F.when(F.col("event_id") % 3 == 0, F.col("event_type")).otherwise(swap)
    pairs = ev.select(F.col("event_type").alias("label_a"), b.alias("label_b"))
    out = cohens_kappa(pairs)
    return out.select(
        "n", "agree",
        r6("p_o").alias("p_o"), r6("p_e").alias("p_e"),
        r6("kappa").alias("kappa"),
    )


SQL_COHENS_KAPPA = """
WITH base AS (
  SELECT event_type AS a,
         CASE WHEN event_id % 3 = 0 THEN event_type
              ELSE CASE WHEN event_type = 'click' THEN 'view'
                        WHEN event_type = 'view' THEN 'click'
                        ELSE 'error' END
         END AS b
  FROM events
), tot AS (
  SELECT count(*) AS n,
         sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
  FROM base
), ma AS (
  SELECT a AS l, count(*) AS ca FROM base GROUP BY 1
), mb AS (
  SELECT b AS l, count(*) AS cb FROM base GROUP BY 1
), mg AS (
  SELECT coalesce(ma.ca, 0) AS ca, coalesce(mb.cb, 0) AS cb
  FROM ma FULL OUTER JOIN mb USING (l)
), pe AS (
  SELECT CAST(sum(CAST(ca::DOUBLE / n::DOUBLE * (cb::DOUBLE / n::DOUBLE)
                       AS DECIMAL(28,12))) AS DOUBLE) AS p_e
  FROM mg, tot
)
SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
       round(agree::DOUBLE / n::DOUBLE, 6) AS p_o,
       round(p_e, 6) AS p_e,
       round(CASE WHEN p_e < 1.0
                  THEN (agree::DOUBLE / n::DOUBLE - p_e) / (1.0 - p_e) END, 6)
         AS kappa
FROM tot, pe
"""


#: shared score/label construction for the classifier-eval rows: two
#: integer hashes of event_id — score = h1/1000 (1000 distinct values ->
#: heavy ties for the midrank path), label correlated with score through
#: the pure-integer comparison 2*h2 < 600 + h1 (mirrors exactly in SQL)
def _clf_frame(spark, sf_dir):
    ev = _events(spark, sf_dir)
    h1 = (F.col("event_id") * 37 + 11) % 1000
    h2 = (F.col("event_id") * 53 + 7) % 1000
    return ev.select(
        (h1 / F.lit(1000.0)).alias("score"),
        F.when(2 * h2 < 600 + h1, 1).otherwise(0).alias("label"),
    )


_CLF_SQL_BASE = """
q AS (
  SELECT h1 / 1000.0 AS s,
         CASE WHEN 2 * h2 < 600 + h1 THEN 1 ELSE 0 END AS y
  FROM (SELECT (event_id * 37 + 11) % 1000 AS h1,
               (event_id * 53 + 7) % 1000 AS h2
        FROM events)
)"""


def q_roc_auc(spark, sf_dir):
    """Exact tie-aware ROC-AUC (midrank / Mann-Whitney form) — the oracle
    re-derives the integer numerator S2 from a window cumsum over the
    per-score groups, so the two-phase range prefix sum, the tie midranks
    and the final one-division formula are all value-checked."""
    from mrmr_spark.operators.evalmetrics import roc_auc

    pin: list = []
    out = roc_auc(_clf_frame(spark, sf_dir), pin=pin)
    res = out.select("n", "n_pos", "n_neg", r6("auc").alias("auc")).toPandas()
    for h in pin:
        h.unpersist()
    return spark.createDataFrame(
        res, "n long, n_pos long, n_neg long, auc double"
    )


SQL_ROC_AUC = f"""
WITH {_CLF_SQL_BASE},
g AS (
  SELECT s, count(*) AS c, sum(y) AS p FROM q GROUP BY 1
), cum AS (
  SELECT c, p,
         coalesce(sum(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM g
), a AS (
  SELECT CAST(sum(CAST(p * (2 * cb + c + 1) AS HUGEINT)) AS HUGEINT) AS s2,
         CAST(sum(p) AS BIGINT) AS np, CAST(sum(c) AS BIGINT) AS n
  FROM cum
)
SELECT n, np AS n_pos, n - np AS n_neg,
       round(CASE WHEN np > 0 AND n - np > 0
                  THEN (s2::DOUBLE - np::DOUBLE * (np + 1)::DOUBLE)
                       / (2.0 * np::DOUBLE * (n - np)::DOUBLE) END, 6) AS auc
FROM a
"""


def q_calibration_bins(spark, sf_dir):
    """Per-bin reliability table (10 bins): the oracle recomputes the bin
    assignment (floor with the 1.0 clamp), the DECIMAL-summed mean
    confidence and the exact accuracy ratio per bin."""
    from mrmr_spark.operators.evalmetrics import calibration_report

    d = _clf_frame(spark, sf_dir).withColumnRenamed("score", "prob")
    out = calibration_report(d, n_bins=10)
    return out.select(
        "bin", "n", r6("conf").alias("conf"), r6("acc").alias("acc")
    )


_CLF_SQL_BINS = f"""
WITH {_CLF_SQL_BASE},
b AS (
  SELECT CAST(least(floor(s * 10), 9) AS INT) AS bin, s, y FROM q
), g AS (
  SELECT bin, count(*) AS n,
         sum(CAST(s AS DECIMAL(28,12))) AS ps, sum(y) AS pos
  FROM b GROUP BY 1
)"""

SQL_CALIBRATION_BINS = f"""{_CLF_SQL_BINS}
SELECT bin, CAST(n AS BIGINT) AS n,
       round(CAST(ps AS DOUBLE) / n::DOUBLE, 6) AS conf,
       round(pos::DOUBLE / n::DOUBLE, 6) AS acc
FROM g
"""


def q_ece(spark, sf_dir):
    """Expected calibration error over the same report — the oracle sums
    the identical DECIMAL-quantized (n_b/N)·|acc−conf| terms from its own
    re-derived bins."""
    from mrmr_spark.operators.evalmetrics import (
        calibration_report,
        expected_calibration_error,
    )

    d = _clf_frame(spark, sf_dir).withColumnRenamed("score", "prob")
    out = expected_calibration_error(calibration_report(d, n_bins=10))
    return out.select("n", r6("ece").alias("ece"))


SQL_ECE = f"""{_CLF_SQL_BINS}, t AS (
  SELECT sum(n) AS nn FROM g
)
SELECT CAST(t.nn AS BIGINT) AS n,
       round(CAST(sum(CAST(g.n::DOUBLE / t.nn::DOUBLE
                           * abs(pos::DOUBLE / g.n::DOUBLE
                                 - CAST(ps AS DOUBLE) / g.n::DOUBLE)
                           AS DECIMAL(28,12))) AS DOUBLE), 6) AS ece
FROM g, t GROUP BY t.nn
"""


def _clf_pred_frame(spark, sf_dir):
    """(label, pred) construction shared by the multi-class rows: the
    cohens_kappa label swap on event_id%3 != 0 (5 classes, asymmetric
    confusion — 'purchase'/'signup' collapse into predicted 'error')."""
    ev = _events(spark, sf_dir)
    swap = (
        F.when(F.col("event_type") == "click", F.lit("view"))
        .when(F.col("event_type") == "view", F.lit("click"))
        .otherwise(F.lit("error"))
    )
    pred = F.when(F.col("event_id") % 3 == 0, F.col("event_type")).otherwise(swap)
    return ev.select(F.col("event_type").alias("label"), pred.alias("pred"))


_CLF_PRED_SQL = """
base AS (
  SELECT event_type AS l,
         CASE WHEN event_id % 3 = 0 THEN event_type
              ELSE CASE WHEN event_type = 'click' THEN 'view'
                        WHEN event_type = 'view' THEN 'click'
                        ELSE 'error' END
         END AS p
  FROM events
), cm AS (
  SELECT l, p, count(*) AS c FROM base GROUP BY 1, 2
), sup AS (
  SELECT l AS class, sum(c) AS support FROM cm GROUP BY 1
), prd AS (
  SELECT p AS class, sum(c) AS predicted FROM cm GROUP BY 1
), tp AS (
  SELECT l AS class, c AS tp FROM cm WHERE l = p
), r AS (
  SELECT j.class, j.support, j.predicted, coalesce(tp.tp, 0) AS tp,
         CASE WHEN j.predicted > 0
              THEN coalesce(tp.tp, 0)::DOUBLE / j.predicted::DOUBLE
              ELSE 0.0 END AS prec,
         CASE WHEN j.support > 0
              THEN coalesce(tp.tp, 0)::DOUBLE / j.support::DOUBLE
              ELSE 0.0 END AS rec
  FROM (SELECT coalesce(s.class, pr.class) AS class,
               coalesce(s.support, 0) AS support,
               coalesce(pr.predicted, 0) AS predicted
        FROM sup s FULL OUTER JOIN prd pr ON s.class = pr.class) j
  LEFT JOIN tp ON tp.class = j.class
)"""


def q_classification_report(spark, sf_dir):
    """Per-class precision/recall/F1 — the oracle rebuilds the confusion
    matrix and every class rollup from plain GROUP BYs."""
    from mrmr_spark.operators.evalmetrics import classification_report

    out = classification_report(_clf_pred_frame(spark, sf_dir))
    return out.select(
        "class", "support", "predicted", "tp",
        r6("precision").alias("precision"), r6("recall").alias("recall"),
        r6("f1").alias("f1"),
    )


SQL_CLASSIFICATION_REPORT = f"""
WITH {_CLF_PRED_SQL}
SELECT class, CAST(support AS BIGINT) AS support,
       CAST(predicted AS BIGINT) AS predicted, CAST(tp AS BIGINT) AS tp,
       round(prec, 6) AS precision, round(rec, 6) AS recall,
       round(CASE WHEN prec + rec > 0
                  THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END, 6) AS f1
FROM r
"""


def q_classification_summary(spark, sf_dir):
    """Accuracy + DECIMAL-summed macro means over the same report."""
    from mrmr_spark.operators.evalmetrics import (
        classification_report,
        classification_summary,
    )

    out = classification_summary(classification_report(_clf_pred_frame(spark, sf_dir)))
    return out.select(
        "n", "n_classes", r6("accuracy").alias("accuracy"),
        r6("macro_precision").alias("macro_precision"),
        r6("macro_recall").alias("macro_recall"),
        r6("macro_f1").alias("macro_f1"),
    )


SQL_CLASSIFICATION_SUMMARY = f"""
WITH {_CLF_PRED_SQL}, f AS (
  SELECT class, support, tp, prec, rec,
         CASE WHEN prec + rec > 0
              THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
  FROM r WHERE support > 0
), a AS (
  SELECT CAST(sum(support) AS BIGINT) AS n, count(*) AS n_classes,
         CAST(sum(tp) AS BIGINT) AS tps,
         sum(CAST(prec AS DECIMAL(28,12))) AS mp,
         sum(CAST(rec AS DECIMAL(28,12))) AS mr,
         sum(CAST(f1 AS DECIMAL(28,12))) AS mf
  FROM f
)
SELECT n, CAST(n_classes AS BIGINT) AS n_classes,
       round(tps::DOUBLE / n::DOUBLE, 6) AS accuracy,
       round(CAST(mp AS DOUBLE) / n_classes::DOUBLE, 6) AS macro_precision,
       round(CAST(mr AS DOUBLE) / n_classes::DOUBLE, 6) AS macro_recall,
       round(CAST(mf AS DOUBLE) / n_classes::DOUBLE, 6) AS macro_f1
FROM a
"""


def q_psi_report(spark, sf_dir):
    """PSI drift between the even/odd event_id halves, with a planted
    a-only category so the eps clamp is exercised — the oracle recomputes
    shares, the log terms and the DECIMAL-summed total per category."""
    from mrmr_spark.operators.evalmetrics import psi_report

    ev = _events(spark, sf_dir)
    cat = F.when(
        (F.col("event_id") % 97 == 0) & (F.col("event_id") % 2 == 0),
        F.lit("rare_burst"),
    ).otherwise(F.col("event_type"))
    half = ev.select(cat.alias("cat"), (F.col("event_id") % 2).alias("_h"))
    a = half.where(F.col("_h") == 0).select("cat")
    b = half.where(F.col("_h") == 1).select("cat")
    out = psi_report(a, b, "cat")
    return out.select(
        "category", "n_a", "n_b",
        r6("share_a").alias("share_a"), r6("share_b").alias("share_b"),
        r6("psi_term").alias("psi_term"), r6("psi").alias("psi"),
    )


SQL_PSI_REPORT = """
WITH src AS (
  SELECT CASE WHEN event_id % 97 = 0 AND event_id % 2 = 0
              THEN 'rare_burst' ELSE event_type END AS cat,
         event_id % 2 AS h
  FROM events
), ca AS (
  SELECT cat AS category, count(*) AS n_a FROM src WHERE h = 0 GROUP BY 1
), cb AS (
  SELECT cat AS category, count(*) AS n_b FROM src WHERE h = 1 GROUP BY 1
), j AS (
  SELECT coalesce(ca.category, cb.category) AS category,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb ON ca.category = cb.category
), t AS (
  SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j
), sh AS (
  SELECT category, n_a, n_b,
         greatest(n_a::DOUBLE / ta::DOUBLE, 1e-6) AS sa,
         greatest(n_b::DOUBLE / tb::DOUBLE, 1e-6) AS sb
  FROM j, t
), sc AS (
  SELECT category, n_a, n_b, sa, sb, (sa - sb) * ln(sa / sb) AS term FROM sh
)
SELECT category, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(sa, 6) AS share_a, round(sb, 6) AS share_b,
       round(term, 6) AS psi_term,
       round(CAST((SELECT sum(CAST(term AS DECIMAL(28,12))) FROM sc)
                  AS DOUBLE), 6) AS psi
FROM sc
"""


def q_majority_vote(spark, sf_dir):
    """Self-consistency vote over constructed per-problem samples
    (problem = user_id bucket, answer = event_type with a value-derived
    abstention) — the oracle re-derives the modal answer with the same
    count-then-lexicographic tie-break via a window."""
    from mrmr_spark.operators.evalmetrics import majority_vote

    ev = _events(spark, sf_dir)
    samples = ev.select(
        (F.col("user_id") % 60).alias("problem_id"),
        F.when(F.col("value") < 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("answer"),
    )
    out = majority_vote(samples)
    return out.select(
        "problem_id", "answer", "vote_count", "n_samples", "n_distinct",
        r6("vote_share").alias("vote_share"),
    )


SQL_MAJORITY_VOTE = """
WITH s AS (
  SELECT user_id % 60 AS q,
         CASE WHEN value < 0 THEN '' ELSE event_type END AS a
  FROM events
), c AS (
  SELECT q, a, count(*) AS c FROM s GROUP BY 1, 2
), r AS (
  SELECT q, a, c,
         row_number() OVER (PARTITION BY q ORDER BY c DESC, a ASC) AS rn,
         sum(c) OVER (PARTITION BY q) AS n,
         count(*) OVER (PARTITION BY q) AS k
  FROM c
)
SELECT q AS problem_id, a AS answer, CAST(c AS BIGINT) AS vote_count,
       CAST(n AS BIGINT) AS n_samples, CAST(k AS BIGINT) AS n_distinct,
       round(c::DOUBLE / n::DOUBLE, 6) AS vote_share
FROM r WHERE rn = 1
"""


def q_win_rates(spark, sf_dir):
    """Head-to-head matrix over the bt_ratings comparison set — the
    oracle rebuilds every canonical-pair cell from plain GROUP BYs, so
    the two rows (global BT fit + its per-cell evidence) cross-check."""
    from mrmr_spark.operators.evalmetrics import pairwise_win_rates

    d = _t(spark, sf_dir, "documents")
    a = F.col("source")
    b = F.concat(F.lit("src"), ((F.col("doc_id") * 7 + 3) % 20).cast("string"))
    cmp = d.where(a != b).select(
        F.when(F.col("n_chars") % 2 == 0, a).otherwise(b).alias("winner"),
        F.when(F.col("n_chars") % 2 == 0, b).otherwise(a).alias("loser"),
    )
    out = pairwise_win_rates(cmp)
    return out.select(
        "item_a", "item_b", "n", "wins_a", "wins_b",
        r6("win_rate_a").alias("win_rate_a"),
    )


SQL_WIN_RATES = """
WITH cmp AS (
  SELECT CASE WHEN n_chars % 2 = 0 THEN source ELSE cand END AS w,
         CASE WHEN n_chars % 2 = 0 THEN cand ELSE source END AS l
  FROM (SELECT doc_id, source, n_chars,
               'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS cand
        FROM documents)
  WHERE source <> cand
), p AS (
  SELECT least(w, l) AS item_a, greatest(w, l) AS item_b,
         CASE WHEN w = least(w, l) THEN 1 ELSE 0 END AS wa
  FROM cmp
), g AS (
  SELECT item_a, item_b, count(*) AS n, sum(wa) AS wins_a
  FROM p GROUP BY 1, 2
)
SELECT item_a, item_b, CAST(n AS BIGINT) AS n, CAST(wins_a AS BIGINT) AS wins_a,
       CAST(n - wins_a AS BIGINT) AS wins_b,
       round(wins_a::DOUBLE / n::DOUBLE, 6) AS win_rate_a
FROM g
"""


def q_distinct_ngrams(spark, sf_dir):
    """Distinct-n diversity per source over documents (orders 1-2): the
    oracle re-derives total and distinct gram counts per (source, n)
    from unnest + GROUP BY — exact integers plus one ratio."""
    from mrmr_spark.operators.evalmetrics import distinct_ngrams

    d = _t(spark, sf_dir, "documents")
    out = distinct_ngrams(d, problem_col="source", text_col="text", ns=(1, 2))
    return out.select(
        "source", "n", "n_samples", "total_grams", "distinct_grams",
        r6("distinct_ratio").alias("distinct_ratio"),
    )


SQL_DISTINCT_NGRAMS = """
WITH toks AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT source, 1 AS n, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT source, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
  FROM toks
), agg AS (
  SELECT source, n, count(*) AS total_grams,
         count(DISTINCT gram) AS distinct_grams
  FROM g GROUP BY 1, 2
), cnt AS (
  SELECT source, count(*) AS n_samples FROM documents GROUP BY 1
), orders AS (
  SELECT source, n_samples, 1 AS n FROM cnt
  UNION ALL SELECT source, n_samples, 2 AS n FROM cnt
)
SELECT o.source, CAST(o.n AS INT) AS n, CAST(o.n_samples AS BIGINT) AS n_samples,
       CAST(coalesce(a.total_grams, 0) AS BIGINT) AS total_grams,
       CAST(coalesce(a.distinct_grams, 0) AS BIGINT) AS distinct_grams,
       round(CASE WHEN coalesce(a.total_grams, 0) > 0
                  THEN a.distinct_grams::DOUBLE / a.total_grams::DOUBLE END,
             6) AS distinct_ratio
FROM orders o LEFT JOIN agg a ON o.source = a.source AND o.n = a.n
"""


def q_win_rate_ci(spark, sf_dir):
    """Wilson score intervals over the win-rate matrix: the oracle
    re-derives center/half-width with the identical z literal and the
    same clamps — total-dominance cells (p̂ = 1) keep a proper lower
    bound, which is the point of Wilson over Wald."""
    from mrmr_spark.operators.evalmetrics import (
        pairwise_win_rates, win_rate_intervals,
    )

    d = _t(spark, sf_dir, "documents")
    a = F.col("source")
    b = F.concat(F.lit("src"), ((F.col("doc_id") * 7 + 3) % 20).cast("string"))
    cmp = d.where(a != b).select(
        F.when(F.col("n_chars") % 2 == 0, a).otherwise(b).alias("winner"),
        F.when(F.col("n_chars") % 2 == 0, b).otherwise(a).alias("loser"),
    )
    out = win_rate_intervals(pairwise_win_rates(cmp))
    return out.select(
        "item_a", "item_b", "n", "wins_a", "wins_b",
        r6("win_rate_a").alias("win_rate_a"),
        r6("ci_lo").alias("ci_lo"), r6("ci_hi").alias("ci_hi"),
    )


_WILSON_Z = 1.959963984540054

SQL_WIN_RATE_CI = f"""
WITH cmp AS (
  SELECT CASE WHEN n_chars % 2 = 0 THEN source ELSE cand END AS w,
         CASE WHEN n_chars % 2 = 0 THEN cand ELSE source END AS l
  FROM (SELECT doc_id, source, n_chars,
               'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS cand
        FROM documents)
  WHERE source <> cand
), p AS (
  SELECT least(w, l) AS item_a, greatest(w, l) AS item_b,
         CASE WHEN w = least(w, l) THEN 1 ELSE 0 END AS wa
  FROM cmp
), g AS (
  SELECT item_a, item_b, count(*) AS n, sum(wa) AS wins_a
  FROM p GROUP BY 1, 2
), sc AS (
  SELECT item_a, item_b, n, wins_a,
         wins_a::DOUBLE / n::DOUBLE AS p_hat, n::DOUBLE AS nd
  FROM g
)
SELECT item_a, item_b, CAST(n AS BIGINT) AS n, CAST(wins_a AS BIGINT) AS wins_a,
       CAST(n - wins_a AS BIGINT) AS wins_b,
       round(p_hat, 6) AS win_rate_a,
       round(GREATEST((p_hat + {_WILSON_Z!r} * {_WILSON_Z!r} / (2.0 * nd))
                        / (1.0 + {_WILSON_Z!r} * {_WILSON_Z!r} / nd)
                      - {_WILSON_Z!r} / (1.0 + {_WILSON_Z!r} * {_WILSON_Z!r} / nd)
                        * sqrt(p_hat * (1.0 - p_hat) / nd
                               + {_WILSON_Z!r} * {_WILSON_Z!r} / (4.0 * nd * nd)),
                      0.0), 6) AS ci_lo,
       round(LEAST((p_hat + {_WILSON_Z!r} * {_WILSON_Z!r} / (2.0 * nd))
                     / (1.0 + {_WILSON_Z!r} * {_WILSON_Z!r} / nd)
                   + {_WILSON_Z!r} / (1.0 + {_WILSON_Z!r} * {_WILSON_Z!r} / nd)
                     * sqrt(p_hat * (1.0 - p_hat) / nd
                            + {_WILSON_Z!r} * {_WILSON_Z!r} / (4.0 * nd * nd)),
                   1.0), 6) AS ci_hi
FROM sc
"""


def q_mcnemar(spark, sf_dir):
    """McNemar discordant-count test between two derived binary outcome
    columns over events: all four cell counts and the continuity-
    corrected statistic are exact — the oracle recomputes each from the
    same CASE expressions."""
    from mrmr_spark.operators.evalmetrics import mcnemar_test

    ev = _events(spark, sf_dir)
    d = ev.select(
        (F.col("event_id") % 2 == 0).cast("int").alias("value_a"),
        (F.col("event_id") % 3 == 0).cast("int").alias("value_b"),
    )
    out = mcnemar_test(d)
    return out.select(
        "n", "both_correct", "both_wrong", "a_only", "b_only",
        r6("statistic").alias("statistic"),
    )


SQL_MCNEMAR = """
WITH v AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS b
  FROM events
), agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS both_correct,
         sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS both_wrong,
         sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS a_only,
         sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS b_only
  FROM v
)
SELECT CAST(n AS BIGINT) AS n, CAST(both_correct AS BIGINT) AS both_correct,
       CAST(both_wrong AS BIGINT) AS both_wrong,
       CAST(a_only AS BIGINT) AS a_only, CAST(b_only AS BIGINT) AS b_only,
       round(CASE WHEN a_only + b_only > 0
                  THEN GREATEST(abs(a_only - b_only) - 1, 0)::DOUBLE
                       * GREATEST(abs(a_only - b_only) - 1, 0)::DOUBLE
                       / (a_only + b_only)::DOUBLE END, 6) AS statistic
FROM agg
"""


def _chrf_pairs(spark, sf_dir):
    """Shared (pred, ref) construction for the chrF rows: doc_id%5 subset
    (the per-order clipped-gram folds are quadratic in gram count — the
    48-char truncation bounds them), ref per doc_id%3 = identical /
    30-char truncation / reversed characters."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    pred = F.substring(F.col("text"), 1, 48)
    ref = (
        F.when(F.col("doc_id") % 3 == 0, pred)
        .when(F.col("doc_id") % 3 == 1, F.substring(F.col("text"), 1, 30))
        .otherwise(F.reverse(pred))
    )
    return d.select("doc_id", pred.alias("pred"), ref.alias("ref"))


def q_chrf_scores(spark, sf_dir):
    """Per-row chrF2 (character 1..6-gram F): the oracle recomputes the
    whitespace stripping, every substr-built gram set, the clipped match
    counts and the order-averaged P/R harmonic mean op for op."""
    from mrmr_spark.operators.evalmetrics import chrf_scores

    out = chrf_scores(_chrf_pairs(spark, sf_dir))
    cols = ["doc_id"]
    for n in range(1, 7):
        cols += [f"match_{n}", f"total_c_{n}", f"total_r_{n}"]
    return out.select(*cols, r6("chrf").alias("chrf"))


def _chrf_sql_grams(s: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({s}) - {n} + 1, 0) + 1), "
        f"i -> substr({s}, CAST(i AS INT), {n}))"
    )


def _chrf_sql_terms() -> str:
    parts = []
    for n in range(1, 7):
        cg, rg = _chrf_sql_grams("sp", n), _chrf_sql_grams("sr", n)
        parts.append(
            f"coalesce(list_sum(list_transform(list_distinct({cg}), g -> "
            f"least(len(list_filter({cg}, x -> x = g)), "
            f"len(list_filter({rg}, x -> x = g))))), 0) AS m{n}, "
            f"greatest(len(sp) - {n} + 1, 0) AS tc{n}, "
            f"greatest(len(sr) - {n} + 1, 0) AS tr{n}"
        )
    return ",\n         ".join(parts)


def _chrf_sql_score(src: str) -> str:
    """Order-averaged chrF2 from m{n}/tc{n}/tr{n} columns, mirroring the
    engine's left-associative sum and 5PR/(4P+R) formula."""
    ps = " + ".join(
        f"CASE WHEN tc{n} > 0 THEN m{n}::DOUBLE / tc{n}::DOUBLE ELSE 0.0 END"
        for n in range(1, 7)
    )
    rs = " + ".join(
        f"CASE WHEN tr{n} > 0 THEN m{n}::DOUBLE / tr{n}::DOUBLE ELSE 0.0 END"
        for n in range(1, 7)
    )
    return f"""sc AS (
  SELECT *, (0.0 + {ps}) / 6.0 AS p, (0.0 + {rs}) / 6.0 AS r FROM {src}
)"""


_CHRF_SQL_PAIRS = """
pairs AS (
  SELECT doc_id, substr(text, 1, 48) AS pred,
         CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 48)
              WHEN doc_id % 3 = 1 THEN substr(text, 1, 30)
              ELSE reverse(substr(text, 1, 48)) END AS ref
  FROM documents WHERE doc_id % 5 = 0
), st AS (
  SELECT doc_id, regexp_replace(pred, '\\s+', '', 'g') AS sp,
         regexp_replace(ref, '\\s+', '', 'g') AS sr
  FROM pairs
), m AS (
  SELECT doc_id,
         {terms}
  FROM st
)"""

_CHRF_SQL_SELECT_STATS = ", ".join(
    f"CAST(m{n} AS INT) AS match_{n}, CAST(tc{n} AS INT) AS total_c_{n}, "
    f"CAST(tr{n} AS INT) AS total_r_{n}"
    for n in range(1, 7)
)

SQL_CHRF_SCORES = f"""
WITH {_CHRF_SQL_PAIRS.format(terms=_chrf_sql_terms())}, {_chrf_sql_score("m")}
SELECT doc_id, {_CHRF_SQL_SELECT_STATS},
       round(CASE WHEN 4.0 * p + r > 0
                  THEN (1.0 + 4.0) * p * r / (4.0 * p + r)
                  ELSE 0.0 END, 6) AS chrf
FROM sc
"""


def q_corpus_chrf(spark, sf_dir):
    """Corpus chrF2 over the same pairs: integer stat sums (associative)
    re-scored once by the oracle's own aggregation."""
    from mrmr_spark.operators.evalmetrics import chrf_scores, corpus_chrf

    out = corpus_chrf(chrf_scores(_chrf_pairs(spark, sf_dir)))
    cols = []
    for n in range(1, 7):
        cols += [f"match_{n}", f"total_c_{n}", f"total_r_{n}"]
    return out.select(*cols, r6("chrf").alias("chrf"))


_CHRF_SQL_AGG = ", ".join(
    f"CAST(sum(m{n}) AS BIGINT) AS m{n}, CAST(sum(tc{n}) AS BIGINT) AS tc{n}, "
    f"CAST(sum(tr{n}) AS BIGINT) AS tr{n}"
    for n in range(1, 7)
)

SQL_CORPUS_CHRF = f"""
WITH {_CHRF_SQL_PAIRS.format(terms=_chrf_sql_terms())}, agg AS (
  SELECT {_CHRF_SQL_AGG} FROM m
), {_chrf_sql_score("agg")}
SELECT {_CHRF_SQL_SELECT_STATS},
       round(CASE WHEN 4.0 * p + r > 0
                  THEN (1.0 + 4.0) * p * r / (4.0 * p + r)
                  ELSE 0.0 END, 6) AS chrf
FROM sc
"""


def q_krippendorff(spark, sf_dir):
    """Krippendorff's alpha (nominal) over the fleiss annotation frame:
    the oracle re-derives the integer per-item disagreement numerators
    (n_i² − Σc²), the DECIMAL-summed D_o, and the exact-integer D_e."""
    from mrmr_spark.operators.evalmetrics import krippendorff_alpha

    ev = _events(spark, sf_dir)
    rat = ev.select(
        (F.col("user_id") % 40).alias("item"), F.col("event_type").alias("label")
    )
    out = krippendorff_alpha(rat)
    return out.select(
        "n_items", "n_ratings",
        r6("d_o").alias("d_o"), r6("d_e").alias("d_e"),
        r6("alpha").alias("alpha"),
    )


SQL_KRIPPENDORFF = """
WITH cnt AS (
  SELECT user_id % 40 AS i, event_type AS l, count(*) AS c
  FROM events GROUP BY 1, 2
), per AS (
  SELECT i, sum(c) AS n_i, sum(c * c) AS sq_i
  FROM cnt GROUP BY 1 HAVING sum(c) >= 2
), it AS (
  SELECT count(*) AS n_items, sum(n_i) AS n_ratings,
         sum(CAST(CAST(n_i * n_i - sq_i AS DOUBLE)
                  / CAST(n_i - 1 AS DOUBLE) AS DECIMAL(28,12))) AS do_sum
  FROM per
), mg AS (
  SELECT l, sum(c) AS t_l FROM cnt JOIN per USING (i) GROUP BY l
), sq AS (
  SELECT sum(CAST(t_l AS HUGEINT) * t_l) AS t2 FROM mg
), fin AS (
  SELECT n_items, n_ratings,
         CAST(do_sum AS DOUBLE) / n_ratings::DOUBLE AS d_o,
         (n_ratings::DOUBLE * n_ratings::DOUBLE - CAST(t2 AS DOUBLE))
         / (n_ratings::DOUBLE * (n_ratings::DOUBLE - 1.0)) AS d_e
  FROM it, sq
)
SELECT CAST(n_items AS BIGINT) AS n_items, CAST(n_ratings AS BIGINT) AS n_ratings,
       round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
       round(CASE WHEN d_e > 0 THEN 1.0 - d_o / d_e END, 6) AS alpha
FROM fin
"""


def _boot_value_col():
    """Deterministic per-doc score in [0,1): ((doc_id·37+11) mod 997)/997."""
    return F.pmod(F.col("doc_id") * 37 + 11, F.lit(997)).cast("double") / F.lit(997.0)


def _boot_value_b_col():
    return (
        F.pmod(F.col("doc_id") * 53 + 7, F.lit(997)).cast("double") / F.lit(997.0)
    ) * F.lit(0.9)


_BOOT_N, _BOOT_SEED = 50, 7


def q_bootstrap_reps(spark, sf_dir):
    """Poisson-bootstrap replicate means on the affine (ANSI-SQL) weight
    family: the oracle recomputes every per-(row, replicate) uniform with
    the same Knuth modular arithmetic, inverts the same 12 Poisson(1) CDF
    literals, and re-aggregates the DECIMAL-quantized weighted sums — so
    weight generation, the replicate keying and the mean quantization are
    all value-checked replicate by replicate."""
    from mrmr_spark.operators.evalmetrics import bootstrap_replicates

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _boot_value_col().alias("value")
    )
    out = bootstrap_replicates(
        d, "value", "doc_id", n_boot=_BOOT_N, seed=_BOOT_SEED, hash_fn="affine"
    )
    return out.select("replicate", "n_eff", r6("est").alias("est"))


def _boot_sql_weight(u: str) -> str:
    from mrmr_spark.operators.evalmetrics import _POIS1_CDF

    return " + ".join(
        f"(CASE WHEN {u} >= {c!r} THEN 1 ELSE 0 END)" for c in _POIS1_CDF
    )


def _boot_sql_reps(x_expr: str) -> str:
    """Shared CTE text: vals(doc_id, x) -> reps(b, n_eff, num) under the
    affine family at n_boot=50, seed=7 (mirrors evalmetrics._boot_uniform
    + _poisson1_weight + _replicates_of term quantization)."""
    return f"""vals AS (
  SELECT doc_id, {x_expr} AS x FROM documents
), wb AS (
  SELECT x, b,
         CAST((((doc_id * {_BOOT_N} + b) % 2147483648) * 2654435761
               + {_BOOT_SEED}) % 4294967296 AS DOUBLE) / 4294967296.0 AS u
  FROM vals CROSS JOIN (SELECT unnest(range({_BOOT_N})) AS b) r
), ww AS (
  SELECT x, b, {_boot_sql_weight("u")} AS w FROM wb
), reps AS (
  SELECT b, SUM(w) AS n_eff, SUM(CAST(w * x AS DECIMAL(28,12))) AS num
  FROM ww GROUP BY b
)"""


_BOOT_SQL_X = "((doc_id * 37 + 11) % 997) / 997.0"
_BOOT_SQL_D = f"{_BOOT_SQL_X} - (((doc_id * 53 + 7) % 997) / 997.0) * 0.9"

SQL_BOOTSTRAP_REPS = f"""
WITH {_boot_sql_reps(_BOOT_SQL_X)}
SELECT CAST(b AS INT) AS replicate, CAST(n_eff AS BIGINT) AS n_eff,
       round(CASE WHEN n_eff > 0
                  THEN CAST(num AS DOUBLE) / CAST(n_eff AS DOUBLE) END, 6) AS est
FROM reps
"""

#: order-statistic CI + se CTEs over the replicate frame (mirrors
#: evalmetrics._ci_stats op for op, incl. the exact alpha/2 double literals)
_BOOT_SQL_CI = f"""flt AS (
  SELECT b, CAST(num AS DOUBLE) / CAST(n_eff AS DOUBLE) AS est
  FROM reps WHERE n_eff > 0
), ranked AS (
  SELECT est, ROW_NUMBER() OVER (ORDER BY est, b) AS rk FROM flt
), s AS (
  SELECT COUNT(*) AS bb,
         SUM(CAST(est AS DECIMAL(28,12))) AS s1,
         SUM(CAST(est * est AS DECIMAL(28,12))) AS s2,
         SUM(CASE WHEN est <= 0 THEN 1 ELSE 0 END) AS nle
  FROM flt
), k AS (
  SELECT bb, nle,
         CASE WHEN bb >= 2 THEN
           sqrt(GREATEST((CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / bb)
                         / (bb - 1), 0.0))
         END AS se,
         CAST(GREATEST(CEIL(bb * {0.05 / 2.0!r}), 1) AS INT) AS klo,
         CAST(LEAST(CEIL(bb * {1.0 - 0.05 / 2.0!r}), bb) AS INT) AS khi
  FROM s
)"""


def q_bootstrap_ci(spark, sf_dir):
    """Percentile-bootstrap CI of the mean: the oracle re-runs the full
    replicate construction, then mirrors the order-statistic rank picks
    (⌈B·α/2⌉ / ⌈B·(1−α/2)⌉ with the identical double literals) and the
    DECIMAL-summed se — the CI endpoints are exact replicate values, not
    interpolations, which is what makes this row hash-checkable."""
    from mrmr_spark.operators.evalmetrics import bootstrap_mean_ci

    d = _t(spark, sf_dir, "documents", spread=True).select(
        "doc_id", _boot_value_col().alias("value")
    )
    pin: list = []
    out = bootstrap_mean_ci(
        d, "value", "doc_id", n_boot=_BOOT_N, seed=_BOOT_SEED,
        alpha=0.05, hash_fn="affine", pin=pin,
    )
    res = out.select(
        "n", r6("mean").alias("mean"), "b", r6("se").alias("se"),
        r6("ci_lo").alias("ci_lo"), r6("ci_hi").alias("ci_hi"),
    ).toPandas()
    for h in pin:
        h.unpersist()
    return spark.createDataFrame(
        res, "n long, mean double, b long, se double, ci_lo double, ci_hi double"
    )


SQL_BOOTSTRAP_CI = f"""
WITH {_boot_sql_reps(_BOOT_SQL_X)}, {_BOOT_SQL_CI},
obs AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean
  FROM vals
)
SELECT obs.n AS n, round(obs.mean, 6) AS mean, CAST(k.bb AS BIGINT) AS b,
       round(k.se, 6) AS se, round(lo.est, 6) AS ci_lo, round(hi.est, 6) AS ci_hi
FROM obs, k
JOIN ranked lo ON lo.rk = k.klo
JOIN ranked hi ON hi.rk = k.khi
"""


def q_paired_bootstrap(spark, sf_dir):
    """Paired-bootstrap significance test (Koehn 2004) between two
    constructed per-doc systems: the per-row difference bootstraps with
    shared weights, and the oracle re-derives the one-sided add-one
    p-value from its own replicate count — p, delta, se and both CI
    endpoints hash-match."""
    from mrmr_spark.operators.evalmetrics import paired_bootstrap_test

    d = _t(spark, sf_dir, "documents", spread=True).select(
        "doc_id",
        _boot_value_col().alias("value_a"),
        _boot_value_b_col().alias("value_b"),
    )
    pin: list = []
    out = paired_bootstrap_test(
        d, "value_a", "value_b", "doc_id", n_boot=_BOOT_N, seed=_BOOT_SEED,
        alpha=0.05, hash_fn="affine", pin=pin,
    )
    res = out.select(
        "n", r6("delta").alias("delta"), "b", r6("se").alias("se"),
        r6("p_value").alias("p_value"),
        r6("ci_lo").alias("ci_lo"), r6("ci_hi").alias("ci_hi"),
    ).toPandas()
    for h in pin:
        h.unpersist()
    return spark.createDataFrame(
        res,
        "n long, delta double, b long, se double, p_value double, "
        "ci_lo double, ci_hi double",
    )


SQL_PAIRED_BOOTSTRAP = f"""
WITH {_boot_sql_reps(_BOOT_SQL_D)}, {_BOOT_SQL_CI},
obs AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS delta
  FROM vals
)
SELECT obs.n AS n, round(obs.delta, 6) AS delta, CAST(k.bb AS BIGINT) AS b,
       round(k.se, 6) AS se,
       round(CAST(1 + k.nle AS DOUBLE) / CAST(k.bb + 1 AS DOUBLE), 6) AS p_value,
       round(lo.est, 6) AS ci_lo, round(hi.est, 6) AS ci_hi
FROM obs, k
JOIN ranked lo ON lo.rk = k.klo
JOIN ranked hi ON hi.rk = k.khi
"""


QUERIES = {
    "sessionize": q_sessionize,
    "lag_lead": q_lag_lead,
    "rolling_rows": q_rolling_rows,
    "rolling_time": q_rolling_time,
    "asof_join": q_asof_join,
    "anchors_first_last": q_anchors_first_last,
    "anchors_daily": q_anchors_daily,
    "anchors_quantile": q_anchors_quantile,
    "session_stats": q_session_stats,
    "error_window": q_error_window,
    "feature_matrix": q_feature_matrix,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_per_customer": q_top_orders_per_customer,
    "dedup_exact": q_dedup_exact,
    "token_stats": q_token_stats,
    "lang_heuristic": q_lang_heuristic,
    "ngram_jaccard": q_ngram_jaccard,
    "winnow_pairs": q_winnow_pairs,
    "winnow_verified": q_winnow_verified,
    "dedup_clusters": q_dedup_clusters,
    "dedup_corpus": q_dedup_corpus,
    "knn_cosine": q_knn_cosine,
    "fstat_relevance": q_fstat_relevance,
    "ks_relevance": q_ks_relevance,
    "mrmr_event_features": q_mrmr_event_features,
    "minhash_dedup": q_minhash_dedup,
    "simhash_pairs": q_simhash_pairs,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "embedding_near_dup": q_embedding_near_dup,
    "text_quality": q_text_quality,
    "media_features": q_media_features,
    "target_encoding": q_target_encoding,
    "copula_midrank": q_copula_midrank,
    "corr_redundancy": q_corr_redundancy,
    "quantile_bins": q_quantile_bins,
    "quantile_bins_ranged": q_quantile_bins_ranged,
    "binned_mi": q_binned_mi,
    "anova_relevance": q_anova_relevance,
    "jmi_event_features": q_jmi_event_features,
    "gaussian_mrmr_cached": q_gaussian_mrmr_cached,
    "gaussian_mrmr_cached_driver": q_gaussian_mrmr_cached_driver,
    "cefsplus_cached": q_cefsplus_cached,
    "salted_agg": q_salted_agg,
    "salted_join": q_salted_join,
    "permute_invariants": q_permute_invariants,
    "decontaminate": q_decontaminate,
    "repetition_stats": q_repetition_stats,
    "stratified_sample": q_stratified_sample,
    "pack_documents": q_pack_documents,
    "quantize_embeddings": q_quantize_embeddings,
    "lm_score": q_lm_score,
    "gopher_filter": q_gopher_filter,
    "weighted_sample": q_weighted_sample,
    "hash_split": q_hash_split,
    "fim_transform": q_fim_transform,
    "explode_chunks": q_explode_chunks,
    "lm_score_trigram": q_lm_score_trigram,
    "pii_redact": q_pii_redact,
    "temperature_sample": q_temperature_sample,
    "duplicate_spans": q_duplicate_spans,
    "duplicate_trim": q_duplicate_trim,
    "dsir_logweights": q_dsir_logweights,
    "dsir_sample": q_dsir_sample,
    "semdedup": q_semdedup,
    "contamination_trim": q_contamination_trim,
    "tfidf_terms": q_tfidf_terms,
    "mix_budget": q_mix_budget,
    "common_lines": q_common_lines,
    "c4_lines": q_c4_lines,
    "url_parts": q_url_parts,
    "domain_stats": q_domain_stats,
    "pareto_sample": q_pareto_sample,
    "epoch_shuffle": q_epoch_shuffle,
    "normalize_url": q_normalize_url,
    "sliding_chunks": q_sliding_chunks,
    "ppl_buckets": q_ppl_buckets,
    "ppl_buckets_cut": q_ppl_buckets_cut,
    "bm25_topk": q_bm25_topk,
    "bm25_indexed": q_bm25_indexed,
    "rrf_fusion": q_rrf_fusion,
    "strip_html": q_strip_html,
    "term_blocklist": q_term_blocklist,
    "dedup_incremental": q_dedup_incremental,
    "cross_candidates": q_cross_candidates,
    "shard_sized": q_shard_sized,
    "shard_hash": q_shard_hash,
    "corpus_report": q_corpus_report,
    "word_counts": q_word_counts,
    "bpe_pair_counts": q_bpe_pair_counts,
    "bpe_encode": q_bpe_encode,
    "hashed_embedding": q_hashed_embedding,
    "chat_render": q_chat_render,
    "chat_spans": q_chat_spans,
    "token_loss_mask": q_token_loss_mask,
    "pq_codes": q_pq_codes,
    "pq_search": q_pq_search,
    "bloom_membership": q_bloom_membership,
    "preference_pairs": q_preference_pairs,
    "preference_all_pairs": q_preference_all_pairs,
    "unigram_segment": q_unigram_segment,
    "embedding_cov": q_embedding_cov,
    "pca_project": q_pca_project,
    "prefix_dedup": q_prefix_dedup,
    "length_batches": q_length_batches,
    "fewshot_prompts": q_fewshot_prompts,
    "interleave_mix": q_interleave_mix,
    "qa_scores": q_qa_scores,
    "pass_at_k": q_pass_at_k,
    "bleu_scores": q_bleu_scores,
    "corpus_bleu": q_corpus_bleu,
    "rouge_l": q_rouge_l,
    "bt_ratings": q_bt_ratings,
    "fleiss_kappa": q_fleiss_kappa,
    "cohens_kappa": q_cohens_kappa,
    "roc_auc": q_roc_auc,
    "calibration_bins": q_calibration_bins,
    "ece": q_ece,
    "classification_report": q_classification_report,
    "classification_summary": q_classification_summary,
    "psi_report": q_psi_report,
    "majority_vote": q_majority_vote,
    "win_rates": q_win_rates,
    "bootstrap_reps": q_bootstrap_reps,
    "bootstrap_ci": q_bootstrap_ci,
    "paired_bootstrap": q_paired_bootstrap,
    "chrf_scores": q_chrf_scores,
    "corpus_chrf": q_corpus_chrf,
    "krippendorff": q_krippendorff,
    "wer": q_wer,
    "win_rate_ci": q_win_rate_ci,
    "mcnemar": q_mcnemar,
    "distinct_ngrams": q_distinct_ngrams,
}

ORACLE_SQL = {
    "sessionize": SQL_SESSIONIZE,
    "lag_lead": SQL_LAG_LEAD,
    "rolling_rows": SQL_ROLLING_ROWS,
    "rolling_time": SQL_ROLLING_TIME,
    "asof_join": SQL_ASOF_JOIN,
    "anchors_first_last": SQL_ANCHORS_FIRST_LAST,
    "anchors_daily": SQL_ANCHORS_DAILY,
    "anchors_quantile": SQL_ANCHORS_QUANTILE,
    "session_stats": SQL_SESSION_STATS,
    "error_window": SQL_ERROR_WINDOW,
    "feature_matrix": SQL_FEATURE_MATRIX,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "dedup_exact": SQL_DEDUP_EXACT,
    "token_stats": SQL_TOKEN_STATS,
    "lang_heuristic": SQL_LANG_HEURISTIC,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "winnow_pairs": SQL_WINNOW_PAIRS,
    "winnow_verified": SQL_WINNOW_VERIFIED,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_corpus": SQL_DEDUP_CORPUS,
    "knn_cosine": SQL_KNN_COSINE,
    "fstat_relevance": SQL_FSTAT_RELEVANCE,
    "ks_relevance": SQL_KS_RELEVANCE,
    "text_quality": SQL_TEXT_QUALITY,
    "minhash_dedup": SQL_MINHASH_DEDUP,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "ann_lsh": SQL_ANN_LSH,
    "ann_ivf": SQL_ANN_IVF,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "mrmr_event_features": SQL_MRMR_EVENT_FEATURES,
    "media_features": SQL_MEDIA_FEATURES,
    "target_encoding": SQL_TARGET_ENCODING,
    "copula_midrank": SQL_COPULA_MIDRANK,
    "corr_redundancy": SQL_CORR_REDUNDANCY,
    "quantile_bins": SQL_QUANTILE_BINS,
    "quantile_bins_ranged": SQL_QUANTILE_BINS,
    "binned_mi": SQL_BINNED_MI,
    "anova_relevance": SQL_ANOVA_RELEVANCE,
    "jmi_event_features": SQL_JMI_EVENT_FEATURES,
    "gaussian_mrmr_cached": SQL_GAUSSIAN_MRMR_CACHED,
    "gaussian_mrmr_cached_driver": SQL_GAUSSIAN_MRMR_CACHED,
    "cefsplus_cached": SQL_CEFSPLUS_CACHED,
    "salted_agg": SQL_SALTED_AGG,
    "salted_join": SQL_SALTED_JOIN,
    "permute_invariants": SQL_PERMUTE_INVARIANTS,
    "decontaminate": SQL_DECONTAMINATE,
    "repetition_stats": SQL_REPETITION_STATS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "pack_documents": SQL_PACK_DOCUMENTS,
    "quantize_embeddings": SQL_QUANTIZE_EMBEDDINGS,
    "lm_score": SQL_LM_SCORE,
    "gopher_filter": SQL_GOPHER_FILTER,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "hash_split": SQL_HASH_SPLIT,
    "fim_transform": SQL_FIM_TRANSFORM,
    "explode_chunks": SQL_EXPLODE_CHUNKS,
    "lm_score_trigram": SQL_LM_SCORE_TRIGRAM,
    "pii_redact": SQL_PII_REDACT,
    "temperature_sample": SQL_TEMPERATURE_SAMPLE,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "duplicate_trim": SQL_DUPLICATE_TRIM,
    "dsir_logweights": SQL_DSIR_LOGWEIGHTS,
    "dsir_sample": SQL_DSIR_SAMPLE,
    "semdedup": SQL_SEMDEDUP,
    "contamination_trim": SQL_CONTAMINATION_TRIM,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "mix_budget": SQL_MIX_BUDGET,
    "common_lines": SQL_COMMON_LINES,
    "c4_lines": SQL_C4_LINES,
    "url_parts": SQL_URL_PARTS,
    "domain_stats": SQL_DOMAIN_STATS,
    "pareto_sample": SQL_PARETO_SAMPLE,
    "epoch_shuffle": SQL_EPOCH_SHUFFLE,
    "normalize_url": SQL_NORMALIZE_URL,
    "sliding_chunks": SQL_SLIDING_CHUNKS,
    "ppl_buckets": SQL_PPL_BUCKETS,
    "ppl_buckets_cut": SQL_PPL_BUCKETS_CUT,
    "bm25_topk": SQL_BM25_TOPK,
    "bm25_indexed": SQL_BM25_TOPK,
    "rrf_fusion": SQL_RRF_FUSION,
    "strip_html": SQL_STRIP_HTML,
    "term_blocklist": SQL_TERM_BLOCKLIST,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "cross_candidates": SQL_CROSS_CANDIDATES,
    "shard_sized": SQL_SHARD_SIZED,
    "shard_hash": SQL_SHARD_HASH,
    "corpus_report": SQL_CORPUS_REPORT,
    "word_counts": SQL_WORD_COUNTS,
    "bpe_pair_counts": SQL_BPE_PAIR_COUNTS,
    "bpe_encode": SQL_BPE_ENCODE,
    "hashed_embedding": SQL_HASHED_EMBEDDING,
    "chat_render": SQL_CHAT_RENDER,
    "chat_spans": SQL_CHAT_SPANS,
    "token_loss_mask": SQL_TOKEN_LOSS_MASK,
    "pq_codes": SQL_PQ_CODES,
    "pq_search": SQL_PQ_SEARCH,
    "bloom_membership": SQL_BLOOM_MEMBERSHIP,
    "preference_pairs": SQL_PREFERENCE_PAIRS,
    "preference_all_pairs": SQL_PREFERENCE_ALL_PAIRS,
    "unigram_segment": SQL_UNIGRAM_SEGMENT,
    "embedding_cov": SQL_EMBEDDING_COV,
    "pca_project": SQL_PCA_PROJECT,
    "prefix_dedup": SQL_PREFIX_DEDUP,
    "length_batches": SQL_LENGTH_BATCHES,
    "fewshot_prompts": SQL_FEWSHOT_PROMPTS,
    "interleave_mix": SQL_INTERLEAVE_MIX,
    "qa_scores": SQL_QA_SCORES,
    "pass_at_k": SQL_PASS_AT_K,
    "bleu_scores": SQL_BLEU_SCORES,
    "corpus_bleu": SQL_CORPUS_BLEU,
    "rouge_l": SQL_ROUGE_L,
    "bt_ratings": SQL_BT_RATINGS,
    "fleiss_kappa": SQL_FLEISS_KAPPA,
    "cohens_kappa": SQL_COHENS_KAPPA,
    "roc_auc": SQL_ROC_AUC,
    "calibration_bins": SQL_CALIBRATION_BINS,
    "ece": SQL_ECE,
    "classification_report": SQL_CLASSIFICATION_REPORT,
    "classification_summary": SQL_CLASSIFICATION_SUMMARY,
    "psi_report": SQL_PSI_REPORT,
    "majority_vote": SQL_MAJORITY_VOTE,
    "win_rates": SQL_WIN_RATES,
    "bootstrap_reps": SQL_BOOTSTRAP_REPS,
    "bootstrap_ci": SQL_BOOTSTRAP_CI,
    "paired_bootstrap": SQL_PAIRED_BOOTSTRAP,
    "chrf_scores": SQL_CHRF_SCORES,
    "corpus_chrf": SQL_CORPUS_CHRF,
    "krippendorff": SQL_KRIPPENDORFF,
    "wer": SQL_WER,
    "win_rate_ci": SQL_WIN_RATE_CI,
    "mcnemar": SQL_MCNEMAR,
    "distinct_ngrams": SQL_DISTINCT_NGRAMS,
}
