"""Exact quantile binning + code collection for the binned JMI path
(SURVEY.md E1-E3).

The reference bins with ``np.percentile`` (linear interpolation) and
``np.digitize`` over the interior edges (joint_mi.py:424-432). Spark's exact
``percentile`` aggregate uses the same (n−1)·q linear-interpolation
definition, so edges match to f64 rounding; ``percentile_approx`` is NOT
used anywhere (not parity-safe, SURVEY.md §7 hard-point 2).

Flow: one aggregate computes the 11-point percentile ladder for every
column simultaneously; codes are assigned in a vectorized Arrow kernel
(np.digitize); the resulting int16 code matrix is collected for the
driver-side greedy loop (rows bounded by the subsample budget — the
reference's own scale answer).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mrmr_spark.select.kernels import _batch_vec


def exact_percentile_edges(
    df: DataFrame,
    cols: list[str],
    n_bins: int = 10,
) -> dict[str, np.ndarray]:
    """Exact percentile ladders (n_bins+1 points incl. min/max) per column,
    all in ONE aggregation pass."""
    qs = [i / n_bins for i in range(n_bins + 1)]
    aggs = [
        F.expr(
            f"percentile(`{c}`, array({','.join(str(q) for q in qs)}))"
        ).alias(c)
        for c in cols
    ]
    row = df.select(*aggs).collect()[0]
    return {c: np.asarray(row[c], dtype=np.float64) for c in cols}


def ranged_percentile_edges(
    df: DataFrame,
    cols: list[str],
    n_bins: int = 10,
) -> dict[str, np.ndarray]:
    """Exact percentile ladders (n_bins+1 points incl. min/max) via
    range-partitioned order statistics — see ``ranged_percentiles``."""
    return ranged_percentiles(df, cols, [i / n_bins for i in range(n_bins + 1)])


def ranged_percentiles(
    df: DataFrame,
    cols: list[str],
    quantiles: list[float],
) -> dict[str, np.ndarray]:
    """Exact percentiles like the JVM ``percentile`` aggregate — same
    (n−1)·q linear-interpolation definition, equal to f64 rounding — but
    computed as range-partitioned order statistics instead.

    Why: the ``percentile`` aggregate buffers a value→count map per
    partition and merges the FULL map on the final reducer — memory grows
    with distinct values, i.e. with n for continuous features. Fine under
    a bounded subsample; a scale killer on the ``subsample=None``
    distributed path at 10¹² rows. Here no task ever holds more than its
    own value range (the copula/KS two-phase pattern, copula.py:48):

    1. melt to (_cid, _val), null-stripped, and collapse ties to
       (_cid, _val, multiplicity) — map-side partial aggregation, so the
       shuffle carries DISTINCT values per column, not rows, and a
       heavily-tied/constant column cannot skew one range partition;
       then ``repartitionByRange`` so each task owns a contiguous slice
       of one-or-more columns' sort;
    2. per-(range, col) multiplicity sums → driver (tiny): exclusive
       offsets locate which range holds each target order statistic
       ``floor/ceil((n−1)·q)``;
    3. one Arrow pass re-reads ONLY the ranges that hold a requested
       statistic, sorts in-range, and walks the cumulative multiplicities
       to the ≤ 2·(n_bins+1) values per column; the driver interpolates.

    The melt scans n×p cells but shuffles only distinct (col, value)
    pairs — at worst n×p for continuous data (inherent to exact global
    order statistics; the KS ECDF note applies), a few rows per column
    for integer-ish data. The bounded-subsample default is the cheap
    path; this is the correct one when exactness at full scale is
    required. Inputs are expected finite-or-null (the binned
    path bins IMPUTED columns); nulls are dropped exactly like the
    aggregate, NaN handling is undefined (callers impute first).

    Also serves the single-quantile cuts (auto-k / GBDT time-holdout,
    smart-sampler weight clip): ``ranged_percentiles(df, [c], [q])``.
    """
    qs = np.asarray(quantiles, dtype=np.float64)
    p = len(cols)

    # collapse ties BEFORE ranging: groupBy(_cid,_val) with map-side
    # partial aggregation shrinks the shuffle to distinct values per
    # column AND removes tie skew — without it, a heavily-tied (or
    # constant) column's equal keys all land in ONE range partition,
    # re-creating the single-task stage this function exists to avoid.
    # Order statistics only need (value, multiplicity) in value order.
    melted = (
        df.select(
            F.posexplode(
                F.array(*[F.col(c).cast("double") for c in cols])
            ).alias("_cid", "_val")
        )
        .where(~F.isnull("_val"))
        .groupBy("_cid", "_val")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # pin the range exchange: consumers (counts pass, extraction pass)
    # must see ONE rid assignment (boundary sampling is not deterministic
    # across executions — same discipline as copula.py/relevance.py)
    ranged = (
        melted.repartitionByRange("_cid", "_val")
        .withColumn("_rid", F.spark_partition_id())
        .persist()
    )
    try:
        counts = {
            (r["_rid"], r["_cid"]): r["n"]
            for r in ranged.groupBy("_rid", "_cid").agg(
                F.sum("_n").alias("n")
            ).collect()
        }
        # exclusive offsets in (rid) order per column — RangePartitioner
        # assigns ordered ranges to ascending partition ids (the copula
        # offsets rely on the same fact)
        n_col = np.zeros(p, dtype=np.int64)
        offs: dict[tuple[int, int], int] = {}
        col_rids: dict[int, list[int]] = {c: [] for c in range(p)}
        col_offs: dict[int, list[int]] = {c: [] for c in range(p)}
        for rid, cid in sorted(counts):
            offs[(rid, cid)] = int(n_col[cid])
            col_rids[cid].append(rid)
            col_offs[cid].append(int(n_col[cid]))
            n_col[cid] += counts[(rid, cid)]

        # target order statistics: lo/hi global ranks per (col, q); the
        # holding range is a binary search over that column's offsets
        # (O(log P) per rank — NOT a scan of all (range, col) pairs)
        need: dict[tuple[int, int], set[int]] = {}
        ranks: dict[int, list[tuple[int, int, float]]] = {c: [] for c in range(p)}
        for cid in range(p):
            n = int(n_col[cid])
            if n == 0:
                continue
            off_arr = np.asarray(col_offs[cid], dtype=np.int64)
            for q in qs:
                pos = (n - 1) * q
                lo, hi = int(np.floor(pos)), int(np.ceil(pos))
                ranks[cid].append((lo, hi, float(pos)))
                for rk in (lo, hi):
                    j = int(np.searchsorted(off_arr, rk, side="right")) - 1
                    rid = col_rids[cid][j]
                    need.setdefault((rid, cid), set()).add(rk - int(off_arr[j]))

        out_schema = pa.schema(
            [("_cid", pa.int32()), ("_rank", pa.int64()), ("_v", pa.float64())]
        )

        def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            vals: dict[int, list[np.ndarray]] = {}
            cnts: dict[int, list[np.ndarray]] = {}
            rid = None
            for b in batches:
                if not b.num_rows:
                    continue
                rid = int(b.column(3)[0].as_py())
                cid_a = np.asarray(b.column(0).to_numpy(zero_copy_only=False))
                val_a = np.asarray(b.column(1).to_numpy(zero_copy_only=False))
                n_a = np.asarray(b.column(2).to_numpy(zero_copy_only=False))
                for cid in np.unique(cid_a):
                    if (rid, int(cid)) in need:
                        m = cid_a == cid
                        vals.setdefault(int(cid), []).append(val_a[m])
                        cnts.setdefault(int(cid), []).append(n_a[m])
            cids, rks, vs = [], [], []
            for cid, chunks in vals.items():
                x = np.concatenate(chunks)
                n_arr = np.concatenate(cnts[cid]).astype(np.int64)
                order = np.argsort(x, kind="stable")
                x, n_arr = x[order], n_arr[order]
                cum = np.cumsum(n_arr)  # cum[j] = rows with the j smallest values
                for li in sorted(need[(rid, cid)]):
                    # local rank li (0-based) lives in the first value
                    # whose cumulative multiplicity exceeds it
                    j = int(np.searchsorted(cum, li, side="right"))
                    cids.append(cid)
                    rks.append(li + offs[(rid, cid)])
                    vs.append(float(x[j]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cids, pa.int32()),
                    pa.array(rks, pa.int64()),
                    pa.array(vs, pa.float64()),
                ],
                schema=out_schema,
            )

        got = {
            (r["_cid"], r["_rank"]): r["_v"]
            for r in ranged.select("_cid", "_val", "_n", "_rid")
            .mapInArrow(extract, "_cid int, _rank bigint, _v double")
            .collect()
        }
    finally:
        ranged.unpersist()

    out: dict[str, np.ndarray] = {}
    for cid, c in enumerate(cols):
        if n_col[cid] == 0:
            out[c] = np.full(len(qs), np.nan)
            continue
        e = np.empty(len(qs))
        for i, (lo, hi, pos) in enumerate(ranks[cid]):
            vlo, vhi = got[(cid, lo)], got[(cid, hi)]
            # Spark Percentile.getPercentile bit-for-bit: the key itself
            # inside a tie run, else (hi-pos)*v_lo + (pos-lo)*v_hi (the
            # gate's SQL oracle encodes the same arithmetic)
            e[i] = vlo if vlo == vhi else (hi - pos) * vlo + (pos - lo) * vhi
        out[c] = e
    return out


def bin_codes_df(
    df: DataFrame,
    cols: list[str],
    edges: dict[str, np.ndarray],
    stds: np.ndarray,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed bin-code assignment: codes = np.digitize(x, interior)
    per column in one Arrow kernel; returns the coded DataFrame
    (``b_{col}`` smallint columns + extra columns as double) WITHOUT
    collecting. Constant columns (std < 1e-12) get all-zero codes
    (joint_mi.py:426-427)."""
    extra_cols = extra_cols or []
    interior = {c: edges[c][1:-1] for c in cols}
    const = {c: bool(stds[i] < 1e-12) for i, c in enumerate(cols)}

    out_fields = [(f"b_{c}", pa.int16()) for c in cols] + [
        (e, pa.float64()) for e in extra_cols
    ]
    out_schema = pa.schema(out_fields)
    spark_schema = ", ".join(
        [f"`b_{c}` smallint" for c in cols] + [f"`{e}` double" for e in extra_cols]
    )

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            arrays = []
            for c in cols:
                x = _batch_vec(b, c)
                if const[c]:
                    codes = np.zeros(len(x), dtype=np.int16)
                else:
                    codes = np.digitize(x, interior[c]).astype(np.int16)
                arrays.append(pa.array(codes, type=pa.int16()))
            for e in extra_cols:
                arrays.append(pa.array(_batch_vec(b, e)))
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return df.mapInArrow(mapper, spark_schema)


def collect_bin_codes(
    df: DataFrame,
    cols: list[str],
    edges: dict[str, np.ndarray],
    stds: np.ndarray,
    extra_cols: list[str] | None = None,
) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """``bin_codes_df`` + driver collect of the compact int16 code matrix —
    the bounded path (rows capped by the engine's subsample budget)."""
    extra_cols = extra_cols or []
    pdf = bin_codes_df(df, cols, edges, stds, extra_cols).toPandas()
    codes = pdf[[f"b_{c}" for c in cols]].to_numpy(dtype=np.int16)
    extras = {e: pdf[e].to_numpy(dtype=np.float64) for e in extra_cols}
    return codes, extras


def jmi_greedy_binned_spark(
    coded: DataFrame,
    bcols: list[str],
    y_bcol,
    w_col: str,
    relevance: np.ndarray,
    k: int,
    n_bins: int,
    n_y_states: int,
    use_min: bool = False,
) -> np.ndarray:
    """JMI/JMIM greedy loop with DISTRIBUTED per-step joint histograms —
    the unbounded path (subsample=None): nothing larger than the
    (candidates × B² × n_y) weighted-count tensor is ever aggregated, and
    only one O(m) entropy row per candidate reaches the driver per step.

    Per step: melt the m candidate code columns against the last-selected
    code + y code (one generator projection), ONE groupBy on the composite
    (cand, f, s, y) key, then two tiny re-aggregations compute
    H(f,s) and H(f,s,y) per candidate Spark-side. Same math as
    ``loops.jmi_greedy_binned`` (joint_mi.py:58-117): I = H(f,s) + H(y) −
    H(f,s,y), clamped ≥ 0; entropy mask pr > 1e-12.
    """
    m = len(bcols)
    k = min(k, m)
    if k <= 0 or m == 0:
        return np.empty(0, dtype=np.int64)

    coded = coded.persist()
    try:
        wsum = float(coded.select(F.sum(w_col)).collect()[0][0])
        yrows = coded.groupBy(y_bcol).agg(F.sum(w_col).alias("cw")).collect()
        h_y = 0.0
        for r in yrows:
            pr = float(r["cw"]) / wsum
            if pr > 1e-12:
                h_y -= pr * np.log(pr)

        def ent_agg():
            p = F.col("cw") / F.lit(wsum)
            return F.sum(F.when(p > 1e-12, -p * F.log(p)).otherwise(F.lit(0.0)))

        rel = np.asarray(relevance, dtype=np.float64)
        scores = np.full(m, np.inf) if use_min else np.zeros(m)
        selected = np.empty(k, dtype=np.int64)
        is_sel = np.zeros(m, dtype=bool)
        selected[0] = int(np.argmax(rel))
        is_sel[selected[0]] = True
        count = 1

        for t in range(1, k):
            s_col = bcols[selected[t - 1]]
            cand = np.where(~is_sel)[0]
            if cand.size == 0:
                break
            melted = coded.select(
                F.col(s_col).cast("int").alias("_sc"),
                F.col(y_bcol).cast("int").alias("_yc"),
                F.col(w_col).alias("_w"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(int(i)).alias("cand"),
                                F.col(bcols[int(j)]).cast("int").alias("fc"),
                            )
                            for i, j in enumerate(cand)
                        ]
                    )
                ).alias("cf"),
            ).select(
                "_sc", "_yc", "_w",
                F.col("cf.cand").alias("_cand"), F.col("cf.fc").alias("_fc"),
            )
            hist = melted.groupBy("_cand", "_fc", "_sc", "_yc").agg(
                F.sum("_w").alias("cw")
            ).persist()
            h_fsy = {
                int(r["_cand"]): float(r["h"])
                for r in hist.groupBy("_cand").agg(ent_agg().alias("h")).collect()
            }
            fs = hist.groupBy("_cand", "_fc", "_sc").agg(F.sum("cw").alias("cw"))
            h_fs = {
                int(r["_cand"]): float(r["h"])
                for r in fs.groupBy("_cand").agg(ent_agg().alias("h")).collect()
            }
            hist.unpersist()

            mi = np.array(
                [max(0.0, h_fs[i] + h_y - h_fsy[i]) for i in range(cand.size)]
            )
            if use_min:
                scores[cand] = np.minimum(scores[cand], mi)
            else:
                scores[cand] += mi

            eff = np.where(np.isfinite(scores), scores, rel)
            eff[is_sel] = -np.inf
            j = int(np.argmax(eff))
            if not np.isfinite(eff[j]):
                break
            selected[t] = j
            is_sel[j] = True
            count += 1
    finally:
        coded.unpersist()
    return selected[:count]
