"""k-means (Lloyd) — recovery on crafted well-separated blobs (the driver's
embeddings carry no geometric label structure, so quality is proven here)
plus the determinism contract."""

from __future__ import annotations

from zio_analytics_spark.operators.clustering import kmeans_assign


def _blobs(spark, n_per=30, k=4, d=8, spread=0.05):
    """k well-separated unit-axis blobs: cluster j lives at 10*e_j with
    deterministic jitter — separation >> jitter, so Lloyd must recover
    the partition exactly from any data-derived init."""
    rows = []
    vid = 0
    for j in range(k):
        for m in range(n_per):
            vec = [
                10.0 * (1 if i == j else 0)
                + 0.01 * ((vid * 7 + i * 3) % 11 - 5) * spread * 100
                for i in range(d)
            ]
            rows.append((vid, j, [float(x) for x in vec]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")


def test_kmeans_recovers_separated_blobs(spark):
    df = _blobs(spark)
    out = kmeans_assign(df, k=4, n_iter=5, dim=8)
    joined = out.join(df.select("vec_id", "label"), "vec_id").collect()
    by_label = {}
    for r in joined:
        by_label.setdefault(r["label"], set()).add(r["cluster"])
    # every true blob maps to exactly ONE cluster, and clusters are distinct
    assert all(len(v) == 1 for v in by_label.values()), by_label
    assert len({next(iter(v)) for v in by_label.values()}) == 4


def test_kmeans_deterministic_across_runs(spark):
    df = _blobs(spark, n_per=10)
    a = sorted(map(tuple, kmeans_assign(df, k=4, n_iter=3, dim=8).collect()))
    b = sorted(map(tuple, kmeans_assign(df, k=4, n_iter=3, dim=8).collect()))
    assert a == b


def test_kmeans_engines_equivalent(spark, embeddings_oracle):
    """The Spark engine reproduces the catalog's DuckDB k-means replay
    (``catalog._kmeans_oracle``) exactly: same cluster for every row after
    three iterations of rounded centroid updates."""
    from zio_analytics_spark.catalog import _kmeans_oracle

    df = _blobs(spark, n_per=12)
    got = sorted(map(tuple, kmeans_assign(df, k=4, n_iter=3, dim=8).collect()))
    assert len(got) == 48
    assert got == embeddings_oracle(df, _kmeans_oracle(4, 8, 3))


def test_kmeans_requires_k_rows(spark):
    import pytest

    df = _blobs(spark, n_per=1, k=2)  # 2 rows
    with pytest.raises(ValueError, match="at least k"):
        kmeans_assign(df, k=5, n_iter=1, dim=8)
