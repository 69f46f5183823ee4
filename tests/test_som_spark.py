"""Distributed path vs local path — the Spark plan must reproduce the
NumPy engine's results (partial sums are commutative, SURVEY.md §7), and
the scoring stage must match driver-side winners exactly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark import SparkSom
from xpysom_dask_spark.sources.readers import lineitem_features

from conftest import SF_TINY


def make_feature_df(spark, data, n_partitions=4):
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(data)]
    return spark.createDataFrame(rows, "id bigint, features array<float>") \
        .repartition(n_partitions)


@pytest.fixture(scope="module")
def rand_data():
    rng = np.random.RandomState(1234)
    return rng.rand(400, 6).astype(np.float32)


def test_spark_train_matches_local(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64,
                     fuse_local_bytes=0)  # pin the distributed partials
    som_l = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
    som_s.train(df, 4)
    som_l.train(rand_data, 4)
    np.testing.assert_allclose(som_s.get_weights(), som_l.get_weights(),
                               atol=1e-9)


def test_spark_train_float32_close_to_local(spark, rand_data):
    """float32 partial sums depend on partitioning (same property as the
    reference across dask chunkings — SURVEY.md §7 risk register), so
    single-epoch comparison with a float32-association tolerance."""
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(5, 4, 6, random_seed=7, fuse_local_bytes=0)
    som_l = SparkSom(5, 4, 6, random_seed=7)
    som_s.train(df, 1)
    som_l.train(rand_data, 1)
    np.testing.assert_allclose(som_s.get_weights(), som_l.get_weights(),
                               atol=1e-4)


def test_two_level_aggregation_path(spark, rand_data):
    """Force the bucketed tree merge (collect_threshold=1) and check it
    produces the same weights as the direct-collect path."""
    df = make_feature_df(spark, rand_data, n_partitions=8)
    som_a = SparkSom(4, 4, 6, random_seed=3, dtype=np.float64,
                     collect_threshold=1, agg_fanout=3, fuse_local_bytes=0)
    som_b = SparkSom(4, 4, 6, random_seed=3, dtype=np.float64,
                     fuse_local_bytes=0)
    som_a.train(df, 2)
    som_b.train(df, 2)
    np.testing.assert_allclose(som_a.get_weights(), som_b.get_weights(),
                               atol=1e-12)


def test_transform_matches_local_winners(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(6, 5, 6, random_seed=11)
    som.train(rand_data, 2)
    got = {r["id"]: (r["bmu_x"], r["bmu_y"], r["cluster_id"])
           for r in som.transform(df).collect()}
    wins = som.winner(rand_data)
    ids = som.predict(rand_data)
    for i, ((wx, wy), cid) in enumerate(zip(wins, ids)):
        assert got[i] == (wx, wy, cid)


def test_transform_quantization_and_qe(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(4, 4, 6, random_seed=2)
    rows = som.transform(df, ("quantized", "qe")).orderBy("id").collect()
    q_local = som.quantization(rand_data)
    for r in rows:
        np.testing.assert_allclose(r["quantized"], q_local[r["id"]],
                                   rtol=1e-6)
    qe_spark = som.quantization_error(df)
    qe_local = som.quantization_error(rand_data)
    assert qe_spark == pytest.approx(qe_local, rel=1e-5)


def test_topographic_error_spark_matches_local(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(4, 4, 6, random_seed=5)
    som.train(rand_data, 2)
    assert som.topographic_error(df) == pytest.approx(
        som.topographic_error(rand_data), abs=1e-12)


def test_activation_response_spark(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som = SparkSom(4, 4, 6, random_seed=5)
    np.testing.assert_array_equal(som.activation_response(df),
                                  som.activation_response(rand_data))


def test_labels_map_spark(spark, rand_data):
    labels = ["even" if i % 2 == 0 else "odd" for i in range(len(rand_data))]
    rows = [(i, [float(v) for v in row], labels[i])
            for i, row in enumerate(rand_data)]
    df = spark.createDataFrame(
        rows, "id bigint, features array<float>, tag string")
    som = SparkSom(3, 3, 6, random_seed=5)
    got = som.labels_map(df, "tag")
    exp = som.labels_map(rand_data, labels)
    assert got == exp


def test_width_mismatch_fails_fast(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "id bigint, features array<float>")
    som = SparkSom(3, 3, 4, random_seed=1)
    with pytest.raises(Exception, match="expected 4"):
        som.transform(df).collect()


def test_pca_init_distributed_matches_local(spark, rand_data):
    df = make_feature_df(spark, rand_data)
    som_s = SparkSom(4, 4, 6, random_seed=1)
    som_l = SparkSom(4, 4, 6, random_seed=1)
    som_s.pca_weights_init(df)
    som_l.pca_weights_init(rand_data.astype(np.float64))
    np.testing.assert_allclose(som_s.get_weights(), som_l.get_weights(),
                               atol=1e-6)


def test_lineitem_features_source(spark):
    df = lineitem_features(spark, SF_TINY)
    assert df.columns == ["l_orderkey", "l_linenumber", "features"]
    row = df.first()
    assert len(row["features"]) == 8
    # pushdown sanity: the scan must prune to the referenced columns only
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_comment" not in plan


def test_end_to_end_flagship(spark):
    """sf0.001 lineitem → features → train 2 epochs → activation response."""
    df = lineitem_features(spark, SF_TINY).select("features")
    som = SparkSom(8, 8, 8, random_seed=42)
    q0 = som.quantization_error(df)
    som.train(df, 2)
    assert som.quantization_error(df) < q0
    resp = som.activation_response_df(df)
    total = resp.agg(F.sum("n_wins")).collect()[0][0]
    assert total == df.count()


def test_hexagonal_spark_train_matches_local(spark, rand_data):
    from xpysom_dask_spark import SparkSom
    import numpy as np
    X = rand_data[:300]
    local = SparkSom(5, 5, X.shape[1], random_seed=13,
                     topology="hexagonal", dtype=np.float64)
    local.train(X, 3)
    dist = SparkSom(5, 5, X.shape[1], random_seed=13,
                    topology="hexagonal", dtype=np.float64,
                    fuse_local_bytes=0)  # pin the distributed partials
    df = spark.createDataFrame([(list(map(float, r)),) for r in X],
                               "features array<double>")
    dist.train(df, 3)
    np.testing.assert_allclose(dist.get_weights(), local.get_weights(),
                               rtol=1e-9, atol=1e-12)
    assert dist.topographic_error(df) == pytest.approx(
        local.topographic_error(X), abs=1e-12)


def test_som_ivf_recall_increases_with_nprobe(spark):
    """ANN quality law: IVF recall@5 versus the exact GEMM top-k must be
    monotone in nprobe and complete when probing every cell."""
    import numpy as np
    from conftest import SF_TINY
    from xpysom_dask_spark import SparkSom
    from xpysom_dask_spark.operators import similarity
    from xpysom_dask_spark.sources import readers

    emb = readers.load_table(spark, SF_TINY, "embeddings")
    som = SparkSom(4, 4, 64, random_seed=42, features_col="embedding")
    som.train(emb.select("embedding"), 2)
    q = emb.where("vec_id % 20 = 0").collect()
    qids = [r["vec_id"] for r in q]
    Q = np.array([r["embedding"] for r in q])

    exact = similarity.cosine_topk(emb, emb.where("vec_id % 20 = 0"), k=5)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    recalls = []
    for nprobe in (1, 4, 16):
        got = {}
        out = similarity.som_ivf_topk(som, emb, Q, qids, k=5, nprobe=nprobe)
        for r in out.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(got.get(k, set()) & v) for k, v in truth.items())
        total = sum(len(v) for v in truth.values())
        recalls.append(hits / total)
    assert recalls == sorted(recalls), recalls      # monotone in nprobe
    assert recalls[-1] == 1.0, recalls              # nprobe=cells → exact
    assert recalls[0] > 0.2, recalls                # even 1 probe finds some


def test_epoch_fusion_matches_distributed(spark, rand_data):
    """Small-input epoch fusion (one Arrow collect + driver-side loop)
    must produce the same weights as the distributed per-epoch partials
    plan it replaces (VERDICT r01 #6), and actually take the fused path
    (exactly one job for all epochs is hard to observe here, but the
    result contract is what matters)."""
    df = make_feature_df(spark, rand_data)
    fused = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
    assert fused.fuse_local_bytes > 0  # default ON
    dist = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64,
                    fuse_local_bytes=0)
    fused.train(df, 4)
    dist.train(df, 4)
    np.testing.assert_allclose(fused.get_weights(), dist.get_weights(),
                               atol=1e-9)
    # the fused fit is the ndarray fit of the collected float32 matrix
    X32 = np.asarray([r.features for r in df.select("features").collect()],
                     dtype=np.float32)
    local = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64).train(X32, 4)
    np.testing.assert_array_equal(fused.get_weights(), local.get_weights())


def test_empty_and_unreached_cells_merge_without_warnings(spark, rand_data):
    """The merge divides only where a cell has weight: an empty input
    leaves the codebook unchanged, and a compact bubble neighborhood
    (cells nobody reaches) trains, both without a RuntimeWarning."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # py4j's gateway sockets are closed by GC, not by this test
        warnings.simplefilter("ignore", ResourceWarning)
        som = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64)
        w0 = som.get_weights().copy()
        som.train(np.empty((0, 6), dtype=np.float32), 2)
        np.testing.assert_array_equal(som.get_weights(), w0)

        empty = make_feature_df(spark, rand_data[:0])
        som = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64,
                       fuse_local_bytes=0)
        som.train(empty, 2)
        np.testing.assert_array_equal(som.get_weights(), w0)

        som = SparkSom(5, 4, 6, random_seed=7, dtype=np.float64,
                       neighborhood_function="bubble", compact_support=True)
        som.train(rand_data, 2)
        assert np.isfinite(som.get_weights()).all()
        assert not np.array_equal(som.get_weights(), w0)


def test_classify_majority_label(spark):
    """classify == driver-side majority vote over labels_map."""
    rng = np.random.RandomState(5)
    X = rng.rand(300, 4)
    labels = ["pos" if x[0] > 0.5 else "neg" for x in X]
    som = SparkSom(4, 4, 4, random_seed=2, dtype=np.float64)
    som.train(X, 3)
    df = spark.createDataFrame(
        [(i, labels[i], [float(v) for v in X[i]]) for i in range(len(X))],
        "rid bigint, lab string, features array<double>")
    got = {r.rid: r.label
           for r in som.classify(df, df, "lab", keep=("rid",)).collect()}
    lm = som.labels_map(X, labels)
    wins = som.winner(X)
    for i, win in enumerate(wins):
        counts = lm[win]
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert got[i] == best, (i, win)


def test_anomalies_flags_outliers(spark):
    rng = np.random.RandomState(8)
    X = rng.rand(500, 4)
    X[:5] += 40.0                       # blatant outliers
    som = SparkSom(4, 4, 4, random_seed=2, dtype=np.float64)
    som.train(np.asarray(X[5:]), 3)     # train on the clean part
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "rid bigint, features array<double>")
    out = som.anomalies(df, quantile=0.98, keep=("rid",)).collect()
    flagged = {r.rid for r in out}
    assert set(range(5)) <= flagged     # the injected outliers
    assert len(flagged) <= 0.05 * len(X)
    # explicit-threshold path skips the aggregate scan
    thr = som.anomaly_threshold(df, 0.98)
    out2 = {r.rid for r in
            som.anomalies(df, threshold=thr, keep=("rid",)).collect()}
    assert out2 == flagged
