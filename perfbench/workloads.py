"""The benchmark workloads.

Each workload builds its inputs from the seed, sets up against a live
session, runs one timed operation at a time, checks every operation's
output against a NumPy or plain-Python computation of the same thing, and
in the traced run times the public functions of its layers from outside.

Sizes keep the property each workload is meant to stress (README.md) while
one run stays within the benchmark's time budget on a 4-core machine.
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pyarrow.parquet as pq

import inputs
from xpysom_dask_spark.functions.distances import (codebook_sq_norms,
                                                   resolve_distance)
from xpysom_dask_spark.operators import dedup
from xpysom_dask_spark.operators.som import SparkSom
from xpysom_dask_spark.plans.exchange import feature_matrix, ship_package
from xpysom_dask_spark.plans.training import bmu_cell_sums
from xpysom_dask_spark.sources.readers import load_table

#: rows per Arrow batch, as configured by ``session.make_session``
ARROW_BATCH = 20000
#: float32 codebook agreement between the distributed and ndarray fits
RTOL, ATOL = 1e-4, 1e-5


def _now() -> float:
    return time.perf_counter()


def _wrong(what: str) -> int:
    """Report a failed output check on stderr; counts one wrong op."""
    print(f"output check failed: {what}", file=sys.stderr)
    return 1


def _quantization_error(X: np.ndarray, W: np.ndarray) -> float:
    """Mean distance of each row to its nearest codebook vector, in
    float64 NumPy, independent of the library's kernels."""
    w = W.reshape(-1, X.shape[1]).astype(np.float64)
    w_sq = (w * w).sum(1)
    total = 0.0
    for s in range(0, len(X), ARROW_BATCH):
        x = X[s:s + ARROW_BATCH].astype(np.float64)
        d2 = (x * x).sum(1)[:, None] - 2.0 * x @ w.T + w_sq[None, :]
        total += np.sqrt(np.maximum(d2.min(1), 0.0)).sum()
    return total / len(X)


class Workload:
    """Shared plumbing: the table is written, scanned, cached and warmed
    in ``setup``; ``op`` is the timed operation."""

    name = ""
    table = ""
    columns: tuple = ()

    def __init__(self, seed: int, data_dir: str, tracer):
        self.seed = seed
        self.data_dir = data_dir
        self.tracer = tracer
        self.df = None

    # -- set-up ---------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        with self.tracer.span("inputs.generate"):
            self.generate()
        with self.tracer.span("sources.scan_cache"):
            n = spark.sparkContext.defaultParallelism
            df = load_table(spark, self.data_dir, self.table)
            if self.columns:
                df = df.select(*self.columns)
            self.df = df.repartition(n).persist()
            self.df.count()
        with self.tracer.span("plans.exchange.ship"):
            ship_package(spark)
        with self.tracer.span("warmup"):
            self.warmup()

    def warmup(self) -> None:
        self.op()

    # -- measurement ----------------------------------------------------
    def op(self):
        raise NotImplementedError

    def rows_per_op(self) -> float:
        raise NotImplementedError

    def check(self, outputs) -> tuple[int, dict]:
        """``(wrong_ops, end-to-end quality metrics)`` for the outputs of
        the timed ops."""
        raise NotImplementedError

    def layers(self, spark, outputs) -> dict:
        """Per-layer timings of the traced run, from outside the library."""
        raise NotImplementedError


class _SomFit(Workload):
    """``SparkSom.train`` on a cached ``features`` column repartitioned to
    one partition per core, checked against the same fit through the
    ndarray path."""

    table = "blobs"
    columns = ("features",)
    n = d = x = y = epochs = 0
    topology = "rectangular"

    def generate(self) -> None:
        self.X = inputs.blobs(self.seed, self.n, self.d)
        inputs.write_features(inputs.table_path(self.data_dir, self.table),
                              self.X)

    def new_som(self) -> SparkSom:
        return SparkSom(self.x, self.y, self.d, topology=self.topology,
                        random_seed=self.seed)

    def warmup(self) -> None:
        self.new_som().train(self.df, 1)

    def op(self):
        return self.new_som().train(self.df, self.epochs)

    def rows_per_op(self) -> float:
        return float(self.n * self.epochs)

    def reference(self):
        """The same fit through the ndarray path, and its wall time."""
        if not hasattr(self, "_ref"):
            t0 = _now()
            som = self.new_som().train(self.X, self.epochs)
            self._ref = (som, _now() - t0)
        return self._ref

    def check(self, outputs):
        ref = self.reference()[0].get_weights()
        bad = sum(_wrong(f"codebook off the ndarray fit by "
                         f"{np.abs(som.get_weights() - ref).max():.3g}")
                  for som in outputs
                  if not np.allclose(som.get_weights(), ref, rtol=RTOL,
                                     atol=ATOL))
        qe_init = _quantization_error(self.X, self.new_som().get_weights())
        final_qe = _quantization_error(self.X, outputs[0].get_weights())
        if not final_qe < qe_init:
            _wrong(f"final QE {final_qe} not below initial QE {qe_init}")
            bad = len(outputs)
        return bad, {"final_qe": final_qe, "pair_recall": 1.0}

    def layers(self, spark, outputs):
        som = outputs[0]
        out = _kernel_layers(self.X, som.get_weights(), self.data_dir,
                             self.table)
        S, c = out.pop("_S"), out.pop("_c")
        t0 = _now()
        for _ in range(self.epochs):
            som._apply_influence(S, c, som._sigma, som._learning_rate)
        out["operators.som.influence_s"] = _now() - t0
        out["operators.som.local_fit_s"] = self.reference()[1]
        return out


def _kernel_layers(X, W, data_dir, table) -> dict:
    """Single-threaded driver timings of one pass of the epoch kernel over
    the table, batch by batch as a Python worker sees it: Arrow → matrix,
    distance + BMU argmin, per-cell sums."""
    n, d = X.shape
    K = W.shape[0] * W.shape[1]
    w_flat = W.reshape(K, d)
    kernel = resolve_distance("euclidean")
    w_sq = codebook_sq_norms(w_flat)
    col = pq.read_table(inputs.table_path(data_dir, table),
                        columns=["features"]).column("features")
    col = col.combine_chunks()
    t_fm = t_bmu = t_cs = 0.0
    S = np.zeros((K, d))
    c = np.zeros(K)
    for s in range(0, n, ARROW_BATCH):
        t0 = _now()
        Xb = feature_matrix(col.slice(s, ARROW_BATCH), d, np.float32)
        t1 = _now()
        idx = kernel(Xb, w_flat, w_sq).argmin(axis=1)
        t2 = _now()
        cc, SS = bmu_cell_sums(Xb, idx, K)
        t3 = _now()
        c += cc
        S += SS
        t_fm += t1 - t0
        t_bmu += t2 - t1
        t_cs += t3 - t2
    return {"plans.exchange.feature_matrix_s": t_fm,
            "functions.distances.bmu_s": t_bmu,
            "functions.distances.gflops": 2.0 * n * K * d / t_bmu / 1e9,
            "plans.training.cell_sums_s": t_cs,
            "_S": S, "_c": c}


class SomFitJobFloor(_SomFit):
    """Small map, few features: each epoch is one Python Spark job whose
    fixed cost outweighs the kernel.  The traced run also times the scoring
    layer on this table with the fitted codebook."""

    name = "som_fit_jobfloor"
    n, d, x, y, epochs = 400_000, 8, 8, 8, 5
    SCORE_OUTPUTS = ("bmu_x", "bmu_y", "cluster_id", "qe")

    def layers(self, spark, outputs):
        out = super().layers(spark, outputs)
        out.update(_scoring_layers(spark, outputs[0], self.X, self.data_dir,
                                   self.table, self.SCORE_OUTPUTS))
        return out


class SomFitKernel(_SomFit):
    """Large hexagonal map, 64 features: the distance GEMM, the cell-sum
    scatters and the JVM→Python transfer do most of the work."""

    name = "som_fit_kernel"
    n, d, x, y, epochs = 300_000, 64, 40, 40, 1
    topology = "hexagonal"


def _scoring_layers(spark, som, X, data_dir, table, outputs) -> dict:
    """Time the four scoring calls on the table with all input columns,
    and check them against the ndarray path: ``cluster_id`` equals
    ``predict``, QE and TE agree, the activation counts are equal."""
    sc = spark.sparkContext
    df = load_table(spark, data_dir, table).repartition(
        sc.defaultParallelism).persist()
    df.count()
    out = {}
    calls = {
        "transform": lambda: som.transform(df, outputs).write.format(
            "noop").mode("overwrite").save(),
        "qe": lambda: som.quantization_error(df),
        "te": lambda: som.topographic_error(df),
        "activation": lambda: som.activation_response(df),
    }
    got = {}
    for part, call in calls.items():
        sc.setJobGroup(f"scoring-{part}", "scoring layer")
        t0 = _now()
        got[part] = call()
        out[f"plans.scoring.{part}_s"] = _now() - t0
    sc.setJobGroup("layers", "layer timings")
    ids = (som.transform(df, ("cluster_id",), keep=("row_id",))
           .toArrow().sort_by("row_id").column("cluster_id").to_numpy())
    df.unpersist()
    pred = som.predict(X)
    qe_ref = _quantization_error(X, som.get_weights())
    act_ref = np.bincount(pred, minlength=som._x * som._y).reshape(
        som._x, som._y)
    te_ref = som.topographic_error(X)
    checks = {
        "cluster_id equals predict": np.array_equal(ids, pred),
        f"QE {got['qe']} vs {qe_ref}": abs(got["qe"] - qe_ref)
        <= RTOL * qe_ref,
        f"TE {got['te']} vs {te_ref}": abs(got["te"] - te_ref) <= ATOL,
        "activation counts": np.array_equal(got["activation"], act_ref),
    }
    failed = [what for what, ok in checks.items() if not ok]
    out["_wrong"] = _wrong("scoring: " + "; ".join(failed)) if failed else 0
    return out


def _shingles(text: str, n: int = 3) -> set:
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class DedupMinHash(Workload):
    """MinHash-LSH near-duplicate pairs over a planted-duplicate corpus."""

    name = "dedup_minhash"
    table = "docs"
    n_docs = 5_000
    THRESHOLD = 0.5

    def generate(self) -> None:
        self.texts, self.planted = inputs.corpus(self.seed, self.n_docs)
        inputs.write_corpus(inputs.table_path(self.data_dir, self.table),
                            self.texts)

    def warmup(self) -> None:
        # the driver keeps getting faster at planning this many-join query
        # for about six runs; three per set-up reach its plateau
        for _ in range(3):
            self.op()

    def op(self):
        rows = dedup.minhash_near_dups(self.df, "text", "doc_id",
                                       threshold=self.THRESHOLD).collect()
        return sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in rows)

    def rows_per_op(self) -> float:
        return float(self.n_docs)

    def check(self, outputs):
        sh = {}

        def jac(i):
            return sh.setdefault(i, _shingles(self.texts[i]))

        bad = 0
        for pairs in outputs:
            for a, b, j in pairs:
                A, B = jac(a), jac(b)
                exact = len(A & B) / len(A | B)
                if exact < self.THRESHOLD or abs(exact - j) > 1e-9:
                    bad += _wrong(f"pair ({a}, {b}) reported Jaccard {j}, "
                                  f"exact {exact}")
                    break
        found = {(a, b) for a, b, _ in outputs[0]}
        recall = sum(p in found for p in self.planted) / len(self.planted)
        return bad, {"final_qe": 1.0, "pair_recall": recall}

    def layers(self, spark, outputs):
        out = {}
        t0 = _now()
        sh = dedup.word_shingles(self.df, "text", "doc_id").localCheckpoint(
            eager=True)
        t1 = _now()
        sigs = dedup.minhash_signatures_from_shingles(sh).localCheckpoint(
            eager=True)
        t2 = _now()
        pairs = dedup.minhash_band_pairs(sigs).localCheckpoint(eager=True)
        n_cand = pairs.count()
        t3 = _now()
        n_ver = len(dedup.jaccard_verify(pairs, sh, self.THRESHOLD).collect())
        t4 = _now()
        out["operators.dedup.shingles_s"] = t1 - t0
        out["operators.dedup.signatures_s"] = t2 - t1
        out["operators.dedup.candidates_s"] = t3 - t2
        out["operators.dedup.verify_s"] = t4 - t3
        out["operators.dedup.candidates"] = float(n_cand)
        out["operators.dedup.verified"] = float(n_ver)
        out["operators.dedup.verify_yield"] = n_ver / n_cand if n_cand else 0.0
        return out


WORKLOADS = {w.name: w for w in (SomFitJobFloor, SomFitKernel, DedupMinHash)}
