"""Distributed reduction kernels for the selection layer.

Every selection statistic is ONE ``mapInArrow`` block reduction: per
partition, NumPy accumulates the statistic over Arrow batches, then the
driver merges the per-partition accumulators:

    mapInArrow(partition -> float64 accumulator vector)  ->  driver merge

Three kinds of scan remain, one kernel each:

- **Moment scans** (O(p) / O(C·p) accumulators, never a p×p Gram):
  ``moments_singlepass_pass`` (imputation means, weighted moments,
  relevance, constant-column pruning) and ``class_moments_singlepass_pass``
  (per-class ANOVA blocks).
- **Augmented-accumulator scans**: ``fused_foldwise_stats`` accumulates,
  per fold, the centered Gram of the indicator-augmented vector
  ``[f⊙x_q, f, y_q]`` plus exact finite sums; the imputed moments, Gram
  and y-covariances of any union of folds follow by driver algebra. The
  unkeyed scan is the one-fold case. ``fused_singlepass_class_stats`` is
  the classification form (``[f⊙x_q, f]`` plus per-class blocks).
- **Gram scans** on driver-standardized columns: ``gram_pass``
  (``G += Zᵀ(w⊙Z)``, the redundancy matrix, optionally with y) and
  ``r_vector_pass`` (the corr-with-target vector alone).

Moments are centered per batch and Chan-merged (stable at any
|mean|/std). Each partition emits ONE row containing its accumulator
(serialized float64 bytes), i.e. communication is ``numPartitions ×
out_len × 8`` bytes — for the flagship Gram reduction at top_m=1250 that
is ~12.5MB/partition (SURVEY.md §4.2). Beyond ~64 partitions a two-level
combine keeps the driver collect flat: the tiny accumulator rows are
repartitioned and reduced once more executor-side before the final
collect.

All kernels cast inputs float64->float32->float64 when ``quantize_f32`` —
the reference's precision contract (X validated float64, imputed, cast
float32, reductions accumulate float64: /root/reference/sift/_preprocess.py:172-177,
/root/reference/sift/estimators/copula.py:180-183).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: accumulator rows carry their source partition id so every downstream
#: merge can run in sorted-pid order — Chan merging (and fp addition) is
#: not associative, and shuffle-fetch arrival order is not deterministic;
#: a fixed merge tree makes results bit-identical run to run.
_ACC_SCHEMA = "pid long, acc binary"
#: partition counts above this get a two-level (tree) combine before collect
TREE_COMBINE_THRESHOLD = 64

#: plan-audit hook (tools/audit_plans.py): when set to a list, every kernel
#: scan (all of them go through ``_merge_collect``) appends its executed
#: physical plan string after its collect. The selection passes drive their
#: own Spark jobs internally (the caller only sees numpy results), so the
#: PLANS.md audit cannot reach these plans from any returned DataFrame —
#: this is the tap. None (the default) is free.
PLAN_LOG: list[str] | None = None


def _acc_batch(acc: np.ndarray) -> pa.RecordBatch:
    """One (source-partition-id, accumulator-bytes) row."""
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    return pa.RecordBatch.from_arrays(
        [pa.array([pid], type=pa.int64()), pa.array([acc.tobytes()])],
        ["pid", "acc"],
    )


def _project(df: DataFrame, cols: list[str], **extra: str | Column | None) -> DataFrame:
    """mapInArrow cannot column-prune: select exactly what a kernel reads —
    the feature columns as doubles under their own names, plus each
    ``alias=column`` extra (a name or a Column) as a double. A None extra
    (no weight column, say) is left out."""
    return df.select(
        *[F.col(c).cast("double").alias(c) for c in cols],
        *[
            (F.col(c) if isinstance(c, str) else c).cast("double").alias(a)
            for a, c in extra.items()
            if c is not None
        ],
    )


def _batch_vec(batch: pa.RecordBatch, name: str | None, dtype=np.float64) -> np.ndarray:
    """One Arrow column as a NumPy vector (nulls -> NaN). ``name=None`` —
    a kernel run without a weight column — gives unit weights."""
    if name is None:
        return np.ones(batch.num_rows, dtype=dtype)
    col = batch.column(batch.schema.get_field_index(name))
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=dtype)


def _batch_cols(batch: pa.RecordBatch, cols: list[str]) -> np.ndarray:
    """(n, len(cols)) float64 matrix from an Arrow batch (zero-copy per col
    where possible; nulls -> NaN)."""
    arrs = [_batch_vec(batch, c) for c in cols]
    return np.column_stack(arrs) if arrs else np.empty((batch.num_rows, 0))


def _fold_rows(fold: np.ndarray, n_folds: int, ok: np.ndarray | None = None):
    """Yield ``(f, sel)`` for each fold tagged in one batch, ``sel`` being
    the row mask of fold ``f`` — or None when the whole batch is fold ``f``
    (always so for a one-fold scan), so callers skip the mask copies. Rows
    with a null tag (NaN), a tag outside [0, n_folds) or ``ok`` False are
    skipped: a negative tag would otherwise index another fold's slot."""
    valid = np.isfinite(fold) & (fold >= 0) & (fold < n_folds)
    if ok is not None:
        valid &= ok
    if valid.all() and fold.min() == fold.max():
        yield int(fold[0]), None
        return
    fold_i = np.where(valid, fold, 0).astype(np.int64)
    for f in np.unique(fold_i[valid]):
        yield int(f), valid & (fold_i == f)


def _merge_sorted(pairs, merge_two) -> tuple[int, np.ndarray] | None:
    """Merge (pid, accumulator bytes) pairs in sorted pid order; returns
    (min pid, accumulator), or None when there are no pairs."""
    merged = None
    for pid, acc in sorted(pairs, key=lambda t: t[0]):
        cur = np.frombuffer(acc, dtype=np.float64)
        merged = (pid, cur.copy()) if merged is None else (merged[0], merge_two(merged[1], cur))
    return merged


def _merge_collect(reduced: DataFrame, merge_two) -> np.ndarray | None:
    """Deterministically merge (pid, acc) accumulator rows into one vector.

    Everything runs on ``reduced``'s own execution, so the input lineage
    runs once. (Under AQE, a partition count asked of any other frame first
    runs the lineage's shuffle stages, and the collect runs them again.)

    Above ``TREE_COMBINE_THRESHOLD`` partitions, executor-side combines of
    contiguous pid ranges keep the driver collect flat (without them the
    driver collects one accumulator per partition — e.g. ~13 KB × 100k
    partitions ≈ 1.3 GB on a 1000-executor job). Every merge — inside the
    combine tasks and on the driver — runs in sorted source-pid order, and
    each combine task reports its min pid, so the whole merge tree is a
    fixed function of the data: bit-identical results run to run even
    though Chan merging is not floating-point associative.

    ``merge_two(a, b) -> acc`` must implement the kernel's exact merge
    (Chan for centered blocks, plain sum for raw sums). Returns None when
    the input was empty.
    """
    rdd = reduced.rdd
    n_parts = rdd.getNumPartitions()
    if n_parts > TREE_COMBINE_THRESHOLD:

        def combine(rows):
            merged = _merge_sorted(rows, merge_two)
            if merged is not None:
                yield merged[0], merged[1].tobytes()

        rdd = rdd.partitionBy(8, lambda pid: pid * 8 // n_parts).mapPartitions(combine)
    merged = _merge_sorted(rdd.collect(), merge_two)
    if PLAN_LOG is not None:
        PLAN_LOG.append(reduced._jdf.queryExecution().executedPlan().toString())
    return None if merged is None else merged[1]


def _scan(dfp: DataFrame, mapper, merge_two, out_len: int) -> np.ndarray:
    """Run one accumulator scan: ``mapper`` over ``dfp``'s Arrow batches,
    then the deterministic merge. An empty input gives zeros."""
    total = _merge_collect(dfp.mapInArrow(mapper, _ACC_SCHEMA), merge_two)
    return total if total is not None else np.zeros(out_len)


def arrow_reduce(
    df: DataFrame,
    partition_term: Callable[[pa.RecordBatch], np.ndarray],
    out_len: int,
) -> np.ndarray:
    """Sum ``partition_term(batch)`` over all batches of ``df``.

    ``partition_term`` must return a 1-D float64 array of length ``out_len``
    (flatten matrices). Returns the global float64 sum (summed in sorted
    source-partition order — deterministic run to run).
    """

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = np.zeros(out_len, dtype=np.float64)
        nonempty = False
        for b in batches:
            if b.num_rows:
                acc += partition_term(b)
                nonempty = True
        if nonempty:
            yield _acc_batch(acc)

    return _scan(df, mapper, lambda a, b: a + b, out_len)


def _quantize(X: np.ndarray, quantize_f32: bool) -> np.ndarray:
    return X.astype(np.float32).astype(np.float64) if quantize_f32 else X


def _finite_split(X: np.ndarray, quantize_f32: bool):
    """``(fin, a, rawsum, nfin)`` of one batch: the finite mask, the
    quantized finite values with holes at 0 (``a = f⊙x_q``; no mask
    multiply is needed because ``_quantize(0.0) == 0.0``), and the exact
    raw-f64 finite sums and counts behind the imputation means."""
    fin = np.isfinite(X)
    Xz = np.where(fin, X, 0.0)
    return fin, _quantize(Xz, quantize_f32), Xz.sum(axis=0), fin.sum(axis=0).astype(np.float64)


def _impute_means(rawsum: np.ndarray, nfin: np.ndarray, quantize_f32: bool) -> np.ndarray:
    """Per-column finite means (0 for an all-non-finite column)."""
    return _quantize(np.where(nfin > 0, rawsum / np.maximum(nfin, 1), 0.0), quantize_f32)


# ---------------------------------------------------------------------------
# Centered blocks and their Chan merges
# ---------------------------------------------------------------------------

def _chan_merge(sw_a, mu_a, C_a, sw_b, mu_b, C_b):
    """Exact pairwise merge of weighted (Σw, mean, centered Gram) triples
    (Chan/Golub/LeVeque parallel-moments update) — the numerically stable
    way to combine per-batch centered statistics."""
    tot = sw_a + sw_b
    if sw_b == 0.0:
        return sw_a, mu_a, C_a
    if sw_a == 0.0:
        return sw_b, mu_b.copy(), C_b.copy()
    d = mu_b - mu_a
    C = C_a + C_b + (sw_a * sw_b / tot) * np.outer(d, d)
    mu = mu_a + (sw_b / tot) * d
    return tot, mu, C


def _centered_slot(V: np.ndarray, w: np.ndarray) -> np.ndarray:
    """``[Σw, mean(q), centered Gram(q²)]`` of one batch's rows of ``V``
    (all zeros when the batch carries no weight, so a merge skips it)."""
    q = V.shape[1]
    slot = np.zeros(1 + q + q * q)
    swb = float(w.sum())
    if swb > 0.0:
        mub = (w @ V) / swb
        Vc = V - mub[None, :]
        slot[0] = swb
        slot[1 : 1 + q] = mub
        slot[1 + q :] = (Vc.T @ (Vc * w[:, None])).ravel()
    return slot


def _fused_slot_merge(a: np.ndarray, b: np.ndarray, q: int) -> np.ndarray:
    """Merge two slots ``[sw, mu(q), C(q²), raw tail...]``: Chan for the
    centered triple, plain sum for the raw tail."""
    sw_m, mu_m, C_m = _chan_merge(
        float(a[0]), a[1 : 1 + q], a[1 + q : 1 + q + q * q].reshape(q, q),
        float(b[0]), b[1 : 1 + q], b[1 + q : 1 + q + q * q].reshape(q, q),
    )
    return np.concatenate(
        [[sw_m], np.asarray(mu_m).ravel(), np.asarray(C_m).ravel(),
         a[1 + q + q * q :] + b[1 + q + q * q :]]
    )


def _imputed_moments(mu: np.ndarray, C: np.ndarray, m: np.ndarray, p: int) -> dict:
    """Weighted means and centered Gram of the imputed columns, from the
    centered block of the augmented vector ``[a, f(, y)]`` (a = f⊙x_q,
    f = finite mask). The column imputed with means m is
    ``x_imp = a + m⊙(1−f)`` — affine in (a, f) — so its weighted mean is
    ``mu_a + m(1−mu_f)`` and

        C_imp[i,j] = C[a_i,a_j] − m_j·C[a_i,f_j] − m_i·C[a_j,f_i]
                     + m_i·m_j·C[f_i,f_j]

    When the block carries a y slot (``C`` is (2p+1)²), also the
    y-covariances ``Cay − m⊙Cfy``, y's centered sum of squares and its
    weighted mean."""
    afm = C[:p, p : 2 * p] * m[None, :]
    out = {
        "C": C[:p, :p] - afm - afm.T + np.outer(m, m) * C[p : 2 * p, p : 2 * p],
        "col_wmeans": mu[:p] + m * (1.0 - mu[p : 2 * p]),
    }
    if C.shape[0] > 2 * p:
        out["c_y"] = C[:p, 2 * p] - m * C[p : 2 * p, 2 * p]
        out["c_yy"] = float(C[2 * p, 2 * p])
        out["y_wmean"] = float(mu[2 * p])
    return out


def _class_batch_block(A_: np.ndarray, F_: np.ndarray, wc: np.ndarray, p: int):
    """Per-class centered statistics of one batch's class subset.

    Returns ``(swb, stb)`` with ``stb = [mu_a(p), mu_f(p), Caa(p), Caf(p),
    Cff(p)]`` — weighted means and centered second moments of the
    indicator pair ``(a = f⊙x_q, f)`` within the class. Centering per
    batch (instead of raw Σw·a² sums cancelled on the driver) avoids the
    catastrophic cancellation that raw sums hit for |mean|/std ≳ 1e3."""
    swb = float(wc.sum())
    if swb <= 0.0:
        return 0.0, None
    mu_a = (wc @ A_) / swb
    mu_f = (wc @ F_) / swb
    Ac = A_ - mu_a[None, :]
    Fc = F_ - mu_f[None, :]
    wAc = Ac * wc[:, None]
    stb = np.concatenate([
        mu_a, mu_f,
        (wAc * Ac).sum(axis=0),
        (wAc * Fc).sum(axis=0),
        (Fc * Fc * wc[:, None]).sum(axis=0),
    ])
    return swb, stb


def _class_block_merge(cls: np.ndarray, c: int, swb: float, stb: np.ndarray, p: int):
    """In-place Chan merge of one class row ``cls[c] = [sw, mu_a(p),
    mu_f(p), Caa(p), Caf(p), Cff(p)]`` with a batch block."""
    sw_a = float(cls[c, 0])
    if swb <= 0.0:
        return
    if sw_a == 0.0:
        cls[c, 0] = swb
        cls[c, 1:] = stb
        return
    tot = sw_a + swb
    k = sw_a * swb / tot
    mu = cls[c, 1 : 1 + 2 * p]
    d = stb[: 2 * p] - mu
    da, df_ = d[:p], d[p:]
    cls[c, 1 : 1 + 2 * p] = mu + (swb / tot) * d
    o = 1 + 2 * p
    cls[c, o : o + p] += stb[2 * p : 3 * p] + k * da * da
    cls[c, o + p : o + 2 * p] += stb[3 * p : 4 * p] + k * da * df_
    cls[c, o + 2 * p :] += stb[4 * p : 5 * p] + k * df_ * df_
    cls[c, 0] = tot


def _class_batch_update(
    cls: np.ndarray, Xq: np.ndarray, fin: np.ndarray, yc: np.ndarray,
    w: np.ndarray, p: int,
) -> None:
    """Chan-merge one batch's per-class centered blocks into ``cls`` (one
    row per class). Rows with a null/NaN class code or a code outside
    [0, C) are skipped: malformed input, not a crash."""
    ok = np.isfinite(yc)
    yi = yc[ok].astype(np.int64)
    Xo, fo, wo = Xq[ok], fin[ok].astype(np.float64), w[ok]
    for c in np.unique(yi):
        if not (0 <= c < cls.shape[0]):
            continue
        m_ = yi == c
        swb_c, stb = _class_batch_block(Xo[m_], fo[m_], wo[m_], p)
        _class_block_merge(cls, c, swb_c, stb, p)


def _class_blocks_merge(blk_a: np.ndarray, blk_b: np.ndarray, p: int) -> np.ndarray:
    """Pairwise Chan merge of two per-class centered block matrices
    (C × (1+5p))."""
    out = blk_a.copy()
    for c in range(blk_a.shape[0]):
        if blk_b[c, 0] > 0.0:
            _class_block_merge(out, c, float(blk_b[c, 0]), blk_b[c, 1:], p)
    return out


def _class_anova_moments(
    cls: np.ndarray, m: np.ndarray, col_wmeans: np.ndarray, p: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver algebra: per-class centered (a, f) blocks → the ANOVA moments
    ``B[c,j] = Σ_{i∈c} w·(x_imp − x̄_j)`` and ``A[c,j] = Σ_{i∈c}
    w·(x_imp − x̄_j)²``. Because ``x_imp = a − m·f + m`` is affine, its
    within-class centered SS is ``Caa − 2m·Caf + m²·Cff`` and its class
    mean is ``mu_a + m(1 − mu_f)``; the shift to the global mean adds
    ``sw_c·d²`` (exact, no cancellation of large raw sums)."""
    class_w = cls[:, 0].copy()
    mu_a_c = cls[:, 1 : 1 + p]
    mu_f_c = cls[:, 1 + p : 1 + 2 * p]
    o = 1 + 2 * p
    Caa_c = cls[:, o : o + p]
    Caf_c = cls[:, o + p : o + 2 * p]
    Cff_c = cls[:, o + 2 * p :]
    mu_imp_c = mu_a_c + m[None, :] * (1.0 - mu_f_c)
    C_imp_c = Caa_c - 2.0 * m[None, :] * Caf_c + (m * m)[None, :] * Cff_c
    d = mu_imp_c - col_wmeans[None, :]
    B = class_w[:, None] * d
    A = C_imp_c + class_w[:, None] * d * d
    return class_w, B, A


# ---------------------------------------------------------------------------
# The augmented accumulator: [sw, mu(q), C(q²), rawsum(p), nfin(p), ybad, n]
# ---------------------------------------------------------------------------

def _fused_batch_slot(X, y, w, p: int, quantize_f32: bool) -> np.ndarray:
    """One batch's augmented accumulator slot for ``V = [f⊙x_q, f, y_q]``.
    ``ybad`` counts non-finite y rows so callers can enforce the
    reference's y-validation without a separate scan."""
    q = 2 * p + 1
    fin, Xq, rawsum, nfin = _finite_split(X, quantize_f32)
    V = np.empty((X.shape[0], q))
    V[:, :p] = Xq
    V[:, p : 2 * p] = fin
    V[:, 2 * p] = _quantize(y, quantize_f32)
    ybad = float((~np.isfinite(y)).sum())
    return np.concatenate(
        [_centered_slot(V, w), rawsum, nfin, [ybad, float(X.shape[0])]]
    )


def fused_foldwise_stats(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    fold_col: str | Column,
    n_folds: int,
    weight_col: str | None = None,
    quantize_f32: bool = False,
) -> np.ndarray:
    """ONE ``mapInArrow`` scan — no persist, no second pass — producing an
    independent augmented accumulator PER FOLD (shape ``(n_folds, slot)``).
    ``fold_col`` names the fold column, or is a Column (``F.lit(0)`` with
    ``n_folds=1`` is the unkeyed scan, see
    ``relevance.fused_regression_stats``).

    Imputation needs global means, which classically forces a means pass
    before the centered Gram pass. Instead each slot accumulates the
    centered Gram of the INDICATOR-AUGMENTED vector ``V = [f⊙x_q, f, y_q]``
    (f = finite mask) with per-batch centering and Chan merging (stable),
    plus exact raw-f64 finite sums, a non-finite-y count and the row
    count. Because the imputed column is affine in the augmented
    variables, the centered imputed Gram, weighted means, relevance
    moments and y-covariances of any union of folds follow on the driver
    (``_imputed_moments``): ``finish_loo_stats`` Chan-merges every fold
    but one (a leave-one-fold-out train split — exact even though each
    fold was accumulated blind to the split it will serve);
    ``finish_fold_stats`` finishes one fold under caller-supplied impute
    means. Auto-k group CV reads every split from this one scan.

    A batch whose rows all fall in one fold (every batch of the unkeyed
    scan) is used whole, with no mask copy. Rows with a null fold, or one
    outside [0, n_folds), are skipped. Cost: one Arrow transfer of the
    (p+2)-column matrix into Python workers and a (2p+1)-wide GEMM per
    batch; communication is ``n_folds`` slots of ~(2p+1)² doubles per
    partition.
    """
    p = len(feature_cols)
    q = 2 * p + 1
    slot = 1 + q + q * q + 2 * p + 2
    fold = F.col(fold_col) if isinstance(fold_col, str) else fold_col
    # long first: a fold is an integer tag (a null one arrives as NaN)
    dfp = _project(
        df, feature_cols, _y_=y_col, _f_=fold.cast("long"), _w_=weight_col
    )
    wkey = "_w_" if weight_col else None

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = np.zeros((n_folds, slot))
        nonempty = False
        for b in batches:
            if not b.num_rows:
                continue
            nonempty = True
            X = _batch_cols(b, feature_cols)
            y = _batch_vec(b, "_y_")
            w = _batch_vec(b, wkey)
            for f, sel in _fold_rows(_batch_vec(b, "_f_"), n_folds):
                rows = (X, y, w) if sel is None else (X[sel], y[sel], w[sel])
                acc[f] = _fused_slot_merge(
                    acc[f], _fused_batch_slot(*rows, p, quantize_f32), q
                )
        if nonempty:
            yield _acc_batch(acc.ravel())

    def merge_two(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        A = a.reshape(n_folds, slot)
        B = b.reshape(n_folds, slot)
        return np.stack(
            [_fused_slot_merge(A[f], B[f], q) for f in range(n_folds)]
        ).ravel()

    total = _scan(dfp, mapper, merge_two, n_folds * slot)
    return total.reshape(n_folds, slot)


def _finish_fused_acc(
    total: np.ndarray, p: int, quantize_f32: bool,
    impute_means: np.ndarray | None = None,
) -> dict:
    """Driver algebra from one augmented accumulator to the imputed-moment
    stats dict. The impute means are the accumulator's own finite means
    unless ``impute_means`` is given."""
    q = 2 * p + 1
    o = 1 + q + q * q
    if impute_means is None:
        m = _impute_means(total[o : o + p], total[o + p : o + 2 * p], quantize_f32)
    else:
        m = np.asarray(impute_means, dtype=np.float64)
    return {
        # np scalar: an empty frame (sw=0) must degrade to nan statistics
        # (a Python float 0.0 would raise ZeroDivisionError in the driver
        # tail instead)
        "sw": np.float64(total[0]),
        "n": float(total[-1]),
        "y_nonfinite": float(total[-2]),
        "impute_means": m,
        **_imputed_moments(total[1 : 1 + q], total[1 + q : o].reshape(q, q), m, p),
    }


def finish_loo_stats(
    fold_accs: np.ndarray, val_fold: int, p: int, quantize_f32: bool = False
) -> dict:
    """Leave-one-fold-out train statistics: Chan-merge every fold slot
    except ``val_fold`` (sorted fold order — deterministic) and finish with
    the fused driver algebra."""
    q = 2 * p + 1
    total = None
    for f in range(fold_accs.shape[0]):
        if f == val_fold:
            continue
        total = (
            fold_accs[f].copy()
            if total is None
            else _fused_slot_merge(total, fold_accs[f], q)
        )
    if total is None:
        total = np.zeros(fold_accs.shape[1])
    return _finish_fused_acc(total, p, quantize_f32)


def finish_fold_stats(
    fold_accs: np.ndarray, fold: int, p: int, impute_means: np.ndarray
) -> dict:
    """ONE fold's imputed-moment statistics under a CALLER-SUPPLIED impute
    vector (the train split's means, not the fold's own) — the val-side
    counterpart of ``finish_loo_stats``. Lets ridge validation losses be
    evaluated driver-side from the ONE fused stats scan (see
    autok._algebraic_regression_losses) instead of a second data pass."""
    return _finish_fused_acc(fold_accs[fold], p, False, impute_means)


# ---------------------------------------------------------------------------
# Classification: per-class centered blocks (+ the augmented Gram)
# ---------------------------------------------------------------------------

def _class_scan(
    df: DataFrame,
    feature_cols: list[str],
    ycode_col: str,
    n_classes: int,
    weight_col: str | None,
    quantize_f32: bool,
    with_gram: bool,
):
    """ONE ``mapInArrow`` scan behind both classification kernels: exact
    raw-f64 finite sums, per-class CENTERED blocks ``(sw_c, mu_a, mu_f,
    Caa, Caf, Cff)`` of the indicator pair ``(a = f⊙x_q, f)`` (per-batch
    centering + Chan merge — stable at any |mean|/std, unlike raw Σw·a²
    sums cancelled against the global mean), and, ``with_gram``, the
    centered Gram slot ``[sw, mu(2p), G((2p)²)]`` of ``V = [f⊙x_q, f]``.

    Returns ``(rawsum, nfin, n, cls, gram)`` (``gram`` empty without the
    Gram). Communication: ``2p + 1 + C·(5p+1)`` (+ ``(2p)² + 2p + 1``)
    float64 per partition."""
    p = len(feature_cols)
    q = 2 * p
    C_CLS = int(n_classes)
    head = 2 * p + 1
    cls_block = 1 + 5 * p
    cls_len = C_CLS * cls_block
    gram_len = 1 + q + q * q if with_gram else 0
    dfp = _project(df, feature_cols, _yc_=ycode_col, _w_=weight_col)
    wkey = "_w_" if weight_col else None

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rawsum = np.zeros(p)
        nfin = np.zeros(p)
        n = 0.0
        cls = np.zeros((C_CLS, cls_block))
        gram = np.zeros(gram_len)
        nonempty = False
        for b in batches:
            if not b.num_rows:
                continue
            nonempty = True
            X = _batch_cols(b, feature_cols)
            w = _batch_vec(b, wkey)
            fin, Xq, rs, nf = _finite_split(X, quantize_f32)
            rawsum += rs
            nfin += nf
            n += X.shape[0]
            if with_gram:
                V = np.concatenate([Xq, fin.astype(np.float64)], axis=1)
                gram = _fused_slot_merge(gram, _centered_slot(V, w), q)
            _class_batch_update(cls, Xq, fin, _batch_vec(b, "_yc_"), w, p)
        if nonempty:
            yield _acc_batch(np.concatenate([rawsum, nfin, [n], cls.ravel(), gram]))

    def merge_two(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        # raw sums, finite counts and n are plain sums; the per-class
        # blocks and the Gram slot Chan-merge
        cls_m = _class_blocks_merge(
            a[head : head + cls_len].reshape(C_CLS, cls_block),
            b[head : head + cls_len].reshape(C_CLS, cls_block),
            p,
        )
        parts = [a[:head] + b[:head], cls_m.ravel()]
        if with_gram:
            parts.append(_fused_slot_merge(a[head + cls_len :], b[head + cls_len :], q))
        return np.concatenate(parts)

    total = _scan(dfp, mapper, merge_two, head + cls_len + gram_len)
    return (
        total[:p], total[p : 2 * p], float(total[2 * p]),
        total[head : head + cls_len].reshape(C_CLS, cls_block), total[head + cls_len :],
    )


def fused_singlepass_class_stats(
    df: DataFrame,
    feature_cols: list[str],
    ycode_col: str,
    n_classes: int,
    weight_col: str | None = None,
    quantize_f32: bool = True,
) -> dict:
    """Classification form of the augmented-accumulator scan: ONE
    ``mapInArrow`` scan — no persist, no separate means/class/Gram passes —
    computing everything the weighted-ANOVA relevance + |corr| redundancy
    pipeline needs: the imputed correlation Gram (``_imputed_moments`` on
    the ``[f⊙x_q, f]`` block) and the exact per-class imputed ANOVA
    moments (``_class_anova_moments``). Rows with a null/NaN class code
    are left out of the class blocks (factorization rejects missing labels
    upstream, so this only guards malformed input)."""
    p = len(feature_cols)
    q = 2 * p
    rawsum, nfin, n, cls, gram = _class_scan(
        df, feature_cols, ycode_col, n_classes, weight_col, quantize_f32, True
    )
    m = _impute_means(rawsum, nfin, quantize_f32)
    st = _imputed_moments(gram[1 : 1 + q], gram[1 + q :].reshape(q, q), m, p)
    # centered at the global weighted mean — from the per-class centered
    # blocks (no raw-sum cancellation)
    class_w, B, A = _class_anova_moments(cls, m, st["col_wmeans"], p)
    return {
        "sw": np.float64(gram[0]),
        "n": n,
        "impute_means": m,
        "col_wmeans": st["col_wmeans"],
        "C": st["C"],
        "class_w": class_w,
        "B": B,
        "A": A,
    }


def class_moments_singlepass_pass(
    df: DataFrame,
    feature_cols: list[str],
    ycode_col: str,
    n_classes: int,
    weight_col: str | None = None,
    quantize_f32: bool = True,
) -> dict:
    """The O(C·p) classification moments scan (no Gram): the ANOVA moments
    follow from the per-class centered blocks by the same affine
    identities as ``fused_singlepass_class_stats``."""
    p = len(feature_cols)
    rawsum, nfin, n, cls, _ = _class_scan(
        df, feature_cols, ycode_col, n_classes, weight_col, quantize_f32, False
    )
    m = _impute_means(rawsum, nfin, quantize_f32)
    class_w = cls[:, 0]
    sw = float(class_w.sum())
    # global weighted mean of the imputed columns from the class blocks
    mu_imp_c = cls[:, 1 : 1 + p] + m[None, :] * (1.0 - cls[:, 1 + p : 1 + 2 * p])
    col_wmeans = (class_w @ mu_imp_c) / sw if sw > 0 else np.zeros(p)
    class_w, B, A = _class_anova_moments(cls, m, col_wmeans, p)
    return {
        "sw": np.float64(sw),
        "n": n,
        "impute_means": m,
        "col_wmeans": col_wmeans,
        "class_w": class_w,
        "B": B,
        "A": A,
    }


# ---------------------------------------------------------------------------
# The O(p) moments scan
# ---------------------------------------------------------------------------

def _colwise_chan_merge(sw_a, st_a, sw_b, st_b, p):
    """Vectorized per-column Chan merge for the O(p) moments kernel.

    ``st`` packs, for p independent (a=f⊙x_q, f, y) triples sharing one
    weight column: mu (2p+1) then the tracked centered products
    Caa, Caf, Cff, Cay, Cfy (p each) and Cyy (1). Only within-column and
    column↔y covariances are tracked — O(p), never the p×p Gram.
    """
    if sw_b == 0.0:
        return sw_a, st_a
    if sw_a == 0.0:
        return sw_b, st_b.copy()
    tot = sw_a + sw_b
    k = sw_a * sw_b / tot
    mu_a, mu_b = st_a[: 2 * p + 1], st_b[: 2 * p + 1]
    d = mu_b - mu_a
    da, df_, dy = d[:p], d[p : 2 * p], d[2 * p]
    out = np.empty_like(st_a)
    out[: 2 * p + 1] = mu_a + (sw_b / tot) * d
    o = 2 * p + 1
    prods = (da * da, da * df_, df_ * df_, da * dy, df_ * dy)
    for blk, pr in enumerate(prods):
        s = o + blk * p
        out[s : s + p] = st_a[s : s + p] + st_b[s : s + p] + k * pr
    out[o + 5 * p] = st_a[o + 5 * p] + st_b[o + 5 * p] + k * dy * dy
    return tot, out


def moments_singlepass_pass(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str | None,
    weight_col: str | None,
    quantize_f32: bool = True,
) -> dict:
    """The O(p) moments scan (imputation, weighted centering, relevance,
    constant-column pruning) at every width: per-column weighted moments of
    the indicator pair ``(f⊙x_q, f)`` and y, centered per batch and
    Chan-merged (stable), plus exact raw-f64 finite sums. O(p) accumulator
    — never the p×p Gram. Driver algebra (the same affine identities as the
    augmented-accumulator kernels) yields impute means, weighted means,
    x_ss, xy_cov, y_ss and the unweighted centered sumsq used for
    constant-column pruning."""
    p = len(feature_cols)
    HAS_Y = y_col is not None
    dfp = _project(df, feature_cols, _y_=y_col, _w_=weight_col)
    wkey = "_w_" if weight_col else None

    st_len = (2 * p + 1) + 5 * p + 1
    # acc: [sw, st(st_len), rawsum(p), nfin(p), sumq(p), sumsqq(p), ybad, n]
    out_len = 1 + st_len + 4 * p + 2

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sw = 0.0
        st = np.zeros(st_len)
        rawsum = np.zeros(p)
        nfin = np.zeros(p)
        sumq = np.zeros(p)
        sumsqq = np.zeros(p)
        ybad = 0.0
        n = 0.0
        nonempty = False
        for b in batches:
            if not b.num_rows:
                continue
            nonempty = True
            X = _batch_cols(b, feature_cols)
            y = _batch_vec(b, "_y_") if HAS_Y else np.zeros(X.shape[0])
            w = _batch_vec(b, wkey)
            fin, Aq, rs, nf = _finite_split(X, quantize_f32)
            rawsum += rs
            nfin += nf
            sumq += Aq.sum(axis=0)
            sumsqq += (Aq * Aq).sum(axis=0)
            if HAS_Y:
                ybad += float((~np.isfinite(y)).sum())
            n += X.shape[0]
            swb = float(w.sum())
            if swb <= 0.0:
                continue
            yq = _quantize(y, quantize_f32)
            Fm = fin.astype(np.float64)
            mu_a = (w @ Aq) / swb
            mu_f = (w @ Fm) / swb
            mu_y = float(w @ yq) / swb
            Ac = Aq - mu_a[None, :]
            Fc = Fm - mu_f[None, :]
            yc = yq - mu_y
            wA = Ac * w[:, None]
            stb = np.concatenate([
                mu_a, mu_f, [mu_y],
                (wA * Ac).sum(axis=0),
                (wA * Fc).sum(axis=0),
                (Fc * Fc * w[:, None]).sum(axis=0),
                wA.T @ yc,
                (Fc * w[:, None]).T @ yc,
                [float(w @ (yc * yc))],
            ])
            sw, st = _colwise_chan_merge(sw, st, swb, stb, p)
        if nonempty:
            acc = np.concatenate([[sw], st, rawsum, nfin, sumq, sumsqq, [ybad, n]])
            yield _acc_batch(acc)

    def merge_two(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        sw_m, st_m = _colwise_chan_merge(
            float(a[0]), a[1 : 1 + st_len], float(b[0]), b[1 : 1 + st_len], p
        )
        return np.concatenate([[sw_m], st_m, a[1 + st_len :] + b[1 + st_len :]])

    total = _scan(dfp, mapper, merge_two, out_len)

    sw = float(total[0])
    st = total[1 : 1 + st_len]
    tail = total[1 + st_len :]
    rawsum, nfin = tail[:p], tail[p : 2 * p]
    sumq, sumsqq = tail[2 * p : 3 * p], tail[3 * p : 4 * p]
    y_nonfinite = float(tail[-2])
    n = float(tail[-1])

    mu_a, mu_f, mu_y = st[:p], st[p : 2 * p], float(st[2 * p])
    o = 2 * p + 1
    Caa = st[o : o + p]
    Caf = st[o + p : o + 2 * p]
    Cff = st[o + 2 * p : o + 3 * p]
    Cay = st[o + 3 * p : o + 4 * p]
    Cfy = st[o + 4 * p : o + 5 * p]
    Cyy = float(st[o + 5 * p])

    m = _impute_means(rawsum, nfin, quantize_f32)
    # affine identities: x_imp = a + m(1−f) ⇒ shifts vanish in covariances
    x_ss = Caa - 2.0 * m * Caf + m * m * Cff
    xy_cov = Cay - m * Cfy
    col_wmeans = mu_a + m * (1.0 - mu_f)
    # unweighted centered sumsq around the impute mean (constant pruning):
    # non-finite entries contribute exactly 0 (imputed to m)
    x_ss_unw = sumsqq - 2.0 * m * sumq + m * m * nfin
    return {
        "impute_means": m,
        "col_wmeans": col_wmeans,
        "sw": np.float64(sw),
        "n": n,
        "wy": mu_y * sw,
        "x_ss": x_ss,
        "xy_cov": xy_cov,
        "x_ss_unw": np.maximum(x_ss_unw, 0.0),
        "y_ss": Cyy,
        "y_nonfinite": y_nonfinite,
    }


# ---------------------------------------------------------------------------
# Gram scans on driver-standardized columns
# ---------------------------------------------------------------------------

def gram_pass(
    df: DataFrame,
    feature_cols: list[str],
    weight_col: str | None,
    impute_means: np.ndarray,
    col_wmeans: np.ndarray,
    col_wstds: np.ndarray,
    y_col: str | None = None,
    y_wmean: float = 0.0,
    y_wstd: float = 1.0,
    quantize_f32: bool = True,
    clip: float | None = 0.999999,
    normalize: bool = True,
) -> dict:
    """THE flagship reduction (SURVEY.md D4): per partition
    ``G += Zᵀ (w ⊙ Z)`` on standardized Z (driver-known μ, σ), plus Σw;
    driver normalizes/clips into the redundancy matrix R. When ``y_col``
    is given, y is appended as column p (one pass also yields the
    feature↔target correlation vector, SURVEY.md D6)."""
    p = len(feature_cols)
    cols = list(feature_cols)
    mu = np.asarray(col_wmeans, dtype=np.float64)
    sd = np.asarray(col_wstds, dtype=np.float64)
    mq = np.asarray(impute_means, dtype=np.float64)
    HAS_Y = y_col is not None
    q = p + (1 if HAS_Y else 0)
    dfp = _project(df, cols, _w_=weight_col, _y_=y_col)
    wkey = "_w_" if weight_col else None

    def term(batch: pa.RecordBatch) -> np.ndarray:
        X = _batch_cols(batch, cols)
        w = _batch_vec(batch, wkey)
        fin = np.isfinite(X)
        Xq = np.where(fin, _quantize(np.where(fin, X, 0.0), quantize_f32), mq[None, :])
        Z = (Xq - mu[None, :]) / sd[None, :]
        if HAS_Y:
            zy = (_quantize(_batch_vec(batch, "_y_"), quantize_f32) - y_wmean) / y_wstd
            Z = np.column_stack([Z, zy])
        G = Z.T @ (Z * w[:, None])
        out = np.empty(q * q + 1, dtype=np.float64)
        out[: q * q] = G.ravel()
        out[q * q] = w.sum()
        return out

    acc = arrow_reduce(dfp, term, q * q + 1)
    G = acc[: q * q].reshape(q, q)
    sw = float(acc[q * q])
    return _finish_gram(G, sw, p, HAS_Y, clip, normalize)


def _finish_gram(
    G: np.ndarray, sw: float, p: int, has_y: bool, clip: float | None,
    normalize: bool = True,
) -> dict:
    if not normalize:
        # raw centered Gram: caller standardizes on the driver
        out = {"sw": sw}
        if has_y:
            out["C"] = G[:p, :p].copy()
            out["c_y"] = G[:p, p].copy()
            out["c_yy"] = float(G[p, p])
        else:
            out["C"] = G
        return out
    with np.errstate(invalid="ignore", divide="ignore"):  # sw=0 nan-degrade
        R = G / sw
    R = 0.5 * (R + R.T)
    if clip is not None:
        # gaussian path clips (copula.py:187-189); classic corr-with-last
        # does NOT (loops.py:42-55) — callers choose
        np.clip(R, -clip, clip, out=R)
        np.fill_diagonal(R, 1.0)
    result = {"sw": sw}
    if has_y:
        result["R"] = R[:p, :p].copy()
        result["r_y"] = R[:p, p].copy()
    else:
        result["R"] = R
    return result


def r_vector_pass(
    df: DataFrame,
    feature_cols: list[str],
    weight_col: str | None,
    y_col: str,
    quantize_f32: bool = True,
    clip: float | None = 0.999999,
) -> dict:
    """Job 2 of the cached-selection lifecycle (SURVEY.md §3.2; reference
    cefsplus.py:464-487): the corr-with-target vector ALONE, as one O(p)
    Arrow scan over already-standardized columns (copula Z: mean 0, std 1,
    non-finite impossible by construction but treated as 0 like
    ``gram_pass`` with zero impute means).

    The accumulator is ``[Σ w·z_j·z_y (p), Σ w·z_y², Σw]`` — O(p) doubles
    per partition, never O(p²). This lets ``select_cached`` rank ALL p
    cached features cheaply and reserve the O(m²) Gram (job 3) for the
    top_m ≤ max(5k, 250) candidates, instead of a full p×p Gram whose
    per-partition accumulator would be 200 MB at p = 5,000.
    """
    p = len(feature_cols)
    cols = list(feature_cols)
    dfp = _project(df, cols, _y_=y_col, _w_=weight_col)
    wkey = "_w_" if weight_col else None

    def term(batch: pa.RecordBatch) -> np.ndarray:
        X = _batch_cols(batch, cols)
        w = _batch_vec(batch, wkey)
        fin = np.isfinite(X)
        Z = np.where(fin, _quantize(np.where(fin, X, 0.0), quantize_f32), 0.0)
        y = _batch_vec(batch, "_y_")
        zy = _quantize(np.where(np.isfinite(y), y, 0.0), quantize_f32)
        wzy = w * zy
        out = np.empty(p + 2, dtype=np.float64)
        out[:p] = wzy @ Z
        out[p] = wzy @ zy
        out[p + 1] = w.sum()
        return out

    acc = arrow_reduce(dfp, term, p + 2)
    sw = float(acc[p + 1])
    with np.errstate(invalid="ignore", divide="ignore"):  # sw=0 nan-degrade
        r = acc[:p] / sw
    if clip is not None:
        np.clip(r, -clip, clip, out=r)
    return {"r_y": r, "sw": sw, "c_yy": float(acc[p])}
