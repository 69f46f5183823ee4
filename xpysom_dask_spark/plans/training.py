"""The batch-SOM epoch loop and its two partial-sum sources.

A batch-SOM epoch is one global reduce, run by ``fit_epochs`` for every
input form.  Only the ``partials(w_flat, w_sq) -> (S, c)`` source of the
per-cell feature sums and counts differs:

    driver:  decay η, σ; hoist ‖w‖² if the kernel caches it
    source:  BMU argmin + bincount scatters per batch (``cell_sums``) →
             float64 (S, c), either
               local       — an ndarray chunked by ``batch_rows``
                             (``SparkSom.train(ndarray)``, and DataFrames
                             under the ``fuse_local_bytes`` gate, collected
                             once through Arrow)
               distributed — broadcast (W_flat, ‖w‖²); one mapInArrow job
                             yields one partial per partition, collected
                             directly or, above ``collect_threshold``
                             partitions, first reduced to ``agg_fanout``
                             rows by a bucketed ``applyInPandas`` level
    driver:  (num, den) = η·Gᵀ·(S, c) via SparkSom._apply_influence — by
             linearity the (K, K) influence matrix applies AFTER the
             merge, so it never reaches a worker, and above a memory
             budget it evaluates in row blocks — then W ← num/den wherever
             den ≠ 0

The distributed source is shaped like MLlib's KMeans iteration (SURVEY.md
§3.1): the codebook is torrent-broadcast once per epoch (the reference's
dask path re-ships it in every task closure, xpysom.py:545-558) and the
input is persisted so epochs 2..T never re-scan the source.  Per-epoch
traffic is O(partitions · x·y·d) regardless of data size.
"""

from __future__ import annotations

import time

import numpy as np

from ..functions.distances import codebook_sq_norms
from .exchange import feature_matrix, ship_package

_PARTIAL_SCHEMA = "bucket int, num binary, den binary"


class ProgressPrinter:
    """Reference-parity verbose progress (xpysom.py:50-69): per-epoch
    ``[ t / T ] p% - elapsed - left`` lines with an elapsed-rate ETA,
    restructured as an object (no module globals, newline per epoch so
    driver logs stay greppable) plus a per-epoch detail suffix."""

    def __init__(self, total):
        self.total = int(total)
        self.t0 = time.time()
        self.digits = len(str(self.total))
        print(" [ %*d / %d ]   0%% - ? it/s" % (self.digits, 0, self.total))

    def step(self, t, extra=""):
        from datetime import timedelta

        done = t + 1
        elapsed = time.time() - self.t0
        left = (self.total - done) * elapsed / done
        line = " [ %*d / %d ] %3.0f%% - %s elapsed - %s left" % (
            self.digits, done, self.total, 100.0 * done / self.total,
            str(timedelta(seconds=elapsed))[:7],
            str(timedelta(seconds=left))[:7])
        if extra:
            line += " - " + extra
        print(line)


def bmu_cell_sums(X, idx, n_cells):
    """Per-cell count vector and feature-sum matrix for one batch:
    ``c[k] = #{i: idx_i = k}``, ``S[k] = Σ_{idx_i = k} X_i``.

    ``np.bincount`` per feature column — C-speed O(n·d) scatter, float64
    accumulation (more accurate than the per-sample dtype GEMM it
    replaces)."""
    c = np.bincount(idx, minlength=n_cells).astype(np.float64)
    S = np.empty((n_cells, X.shape[1]), dtype=np.float64)
    for j in range(X.shape[1]):
        S[:, j] = np.bincount(idx, weights=X[:, j], minlength=n_cells)
    return c, S


def cell_sums(batches, kernel, w_flat, w_sq, n_cells):
    """float64 ``(S, c)`` over an iterable of ``(n, d)`` matrices: per
    batch the BMU argmin, then ``bmu_cell_sums``, accumulated in batch
    order.  The one per-batch loop of both partial-sum sources."""
    c = np.zeros(n_cells, dtype=np.float64)
    S = np.zeros((n_cells, w_flat.shape[1]), dtype=np.float64)
    for X in batches:
        if len(X) == 0:
            continue
        idx = kernel(X, w_flat, w_sq).argmin(axis=1)
        cc, SS = bmu_cell_sums(X, idx, n_cells)
        c += cc
        S += SS
    return S, c


def _sum_blobs(nums, dens, n_cells, d):
    """Add float64 ``num``/``den`` partial blobs into (K, d) sums and (K,)
    counts."""
    S = np.zeros((n_cells, d), dtype=np.float64)
    c = np.zeros(n_cells, dtype=np.float64)
    for blob in nums:
        S += np.frombuffer(blob, dtype=np.float64).reshape(n_cells, d)
    for blob in dens:
        c += np.frombuffer(blob, dtype=np.float64)
    return S, c


def fit_epochs(som, partials, num_epochs, iter_beg, iter_end, verbose=False):
    """The batch-SOM epoch loop over a ``partials(w_flat, w_sq) -> (S, c)``
    source; sets and returns ``som._weights``.

    The merge divides only where a cell has weight (``den ≠ 0``); cells
    no sample reaches — empty input, compact-support neighborhoods — keep
    their codebook vector."""
    x, y, d = som._weights.shape
    W = som._weights.astype(som.dtype)
    progress = ProgressPrinter(iter_end - iter_beg) if verbose else None
    for t in range(iter_beg, iter_end):
        t0 = time.time()
        eta = float(som._decay(som._learning_rate, som._learning_rateN,
                               t, num_epochs))
        sig = float(som._decay(som._sigma, som._sigmaN, t, num_epochs))
        w_flat = W.reshape(-1, d)
        w_sq = codebook_sq_norms(w_flat) if som._distance.can_cache else None
        S, c = partials(w_flat, w_sq)
        num, den = som._apply_influence(S, c, sig, eta)
        den3 = den.reshape(x, y, 1)
        W64 = W.astype(np.float64)
        np.divide(num.reshape(x, y, d), den3, out=W64, where=den3 != 0)
        W = W64.astype(som.dtype)
        if progress is not None:
            progress.step(t - iter_beg, "eta=%.4f sigma=%.4f %.2fs"
                          % (eta, sig, time.time() - t0))
    som._weights = W
    return som


def local_partials(som, X):
    """Local source: ``X`` chunked by ``som.batch_rows``."""
    step, K = som.batch_rows, som._x * som._y

    def partials(w_flat, w_sq):
        chunks = (X[s: s + step] for s in range(0, len(X), step))
        return cell_sums(chunks, som._distance, w_flat, w_sq, K)

    return partials


def _partial_update_factory(bc, kernel, shape, dtype, fanout):
    """Build the per-partition update for ``mapInArrow``.

    The closure carries only the tiny model plumbing (kernel, shape,
    dtype); the per-epoch codebook and its cached norms travel via the
    broadcast ``bc``.  Each Arrow batch is one mini-batch (SURVEY.md §4
    O7) for ``cell_sums``.  The partial is the G-FREE per-cell statistics
    ``(c, S)`` in float64 — by linearity ``Gᵀ·ΣS_p = Σ(Gᵀ·S_p)``, so the
    influence matrix applies once on the driver after the merge (math
    parity with xpysom.py:420-443 via the factorization ``Σ_i
    g(bmu_i)⊗x_i = Gᵀ·S``); workers never see the neighborhood function,
    and the per-sample (n, x·y) influence tensor never materializes.
    """
    x, y, d = shape

    def fn(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        w_flat, w_sq = bc.value
        S, c = cell_sums((feature_matrix(b.column(0), d, dtype)
                          for b in batches), kernel, w_flat, w_sq, x * y)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        yield pa.RecordBatch.from_pydict(
            {
                "bucket": pa.array([pid % fanout], pa.int32()),
                "num": pa.array([S.tobytes()], pa.binary()),
                "den": pa.array([c.tobytes()], pa.binary()),
            }
        )

    return fn


def _spark_partials(som, feats):
    """Distributed source: one ``mapInArrow`` job per call over ``feats``,
    through the bucketed tree merge above ``som.collect_threshold``
    partitions."""
    spark = feats.sparkSession
    shape = som._weights.shape
    K, d = shape[0] * shape[1], shape[2]
    two_level = feats.rdd.getNumPartitions() > som.collect_threshold
    fanout = som.agg_fanout if two_level else 1
    kernel, dtype = som._distance, som.dtype

    def reduce_bucket(pdf):
        import pandas as pd

        S, c = _sum_blobs(pdf["num"], pdf["den"], K, d)
        return pd.DataFrame({"num": [S.tobytes()], "den": [c.tobytes()]})

    def partials(w_flat, w_sq):
        ship_package(spark)
        bc = spark.sparkContext.broadcast((w_flat, w_sq))
        rows = feats.mapInArrow(
            _partial_update_factory(bc, kernel, shape, dtype, fanout),
            _PARTIAL_SCHEMA)
        if two_level:
            rows = rows.groupBy("bucket").applyInPandas(
                reduce_bucket, "num binary, den binary")
        rows = rows.collect()
        bc.unpersist(blocking=False)
        return _sum_blobs((r["num"] for r in rows),
                          (r["den"] for r in rows), K, d)

    return partials


def run_training(som, df, num_epochs, iter_beg=0, iter_end=None, verbose=False):
    """Run ``fit_epochs`` on a DataFrame; mutates ``som._weights``.

    Small-input epoch fusion: T epochs of the distributed source are T
    jobs and T driver barriers.  When the whole feature matrix fits
    ``som.fuse_local_bytes`` it is collected once through Arrow and the
    local source serves every epoch — one job instead of T.  The
    ``count()`` behind the gate also materializes the cache, so the
    distributed case pays nothing extra on epoch 1."""
    from pyspark.storagelevel import StorageLevel

    if iter_end is None:
        iter_end = num_epochs
    own_cache = not (df.is_cached and df.columns == [som.features_col])
    feats = df.select(df[som.features_col].alias("features"))
    if own_cache:
        # persist so epochs 2..T never re-scan the source; skip when the
        # caller already persisted exactly the features column (a second
        # cache level would double memory and re-materialize on epoch 1)
        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    d = som._input_len
    try:
        fuse_cap = som.fuse_local_bytes
        if fuse_cap and (feats.count() * d * np.dtype(som.dtype).itemsize
                         <= fuse_cap):
            partials = local_partials(som, feature_matrix(
                feats.toArrow().column("features"), d, som.dtype))
        else:
            partials = _spark_partials(som, feats)
        return fit_epochs(som, partials, num_epochs, iter_beg, iter_end,
                          verbose)
    finally:
        if own_cache:
            feats.unpersist()
