"""Product quantization (operators/pq.py): codebook training determinism,
encode/ADC mechanics, and retrieval quality on planted structure."""

from __future__ import annotations

import random

import pytest

from zio_analytics_spark.operators.pq import pq_adc_topk, pq_encode, pq_train


def _planted(spark, n_clusters=4, per=12, d=8, spread=0.05, seed=7):
    """Well-separated clusters: ADC with a reasonable codebook must rank
    same-cluster vectors above other clusters."""
    rnd = random.Random(seed)
    centers = [[rnd.uniform(-10, 10) for _ in range(d)] for _ in range(n_clusters)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(per):
            rows.append(
                (vid, [x + rnd.gauss(0, spread) for x in c], ci)
            )
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_pq_codes_shape_and_determinism(spark):
    df = _planted(spark)
    cbs = pq_train(df, m=2, k=4, n_iter=2, dim=8)
    assert len(cbs) == 2 and all(len(cb) == 4 for cb in cbs)
    assert all(len(c) == 4 for cb in cbs for c in cb)
    enc1 = {r.vec_id: list(r.codes) for r in pq_encode(df, cbs).collect()}
    enc2 = {r.vec_id: list(r.codes) for r in pq_encode(df, cbs).collect()}
    assert enc1 == enc2
    assert all(0 <= c < 4 for codes in enc1.values() for c in codes)


def test_pq_adc_retrieves_planted_cluster(spark):
    """Query = a cluster member; the ADC top-(per) set must be exactly its
    cluster (separation >> spread, so quantization cannot confuse them)."""
    per = 12
    df = _planted(spark, per=per)
    cbs = pq_train(df, m=2, k=4, n_iter=2, dim=8)
    enc = pq_encode(df, cbs)
    query = df.where("vec_id = 30").collect()[0]["embedding"]  # cluster 2
    got = [r.vec_id for r in pq_adc_topk(enc, cbs, query, top_k=per).collect()]
    assert set(got) == set(range(2 * per, 3 * per))


def test_pq_train_validates_inputs(spark):
    df = _planted(spark)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=3, k=4, dim=8)
    cbs = pq_train(df, m=2, k=4, n_iter=1, dim=8)
    with pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(pq_encode(df, cbs), cbs, [0.0] * 5)
    from zio_analytics_spark.operators.pq import ivfpq_fit_encode, ivfpq_search

    coarse, ivf_cbs, enc = ivfpq_fit_encode(df, n_cells=4, m=2, k=4, n_iter=1, dim=8)
    with pytest.raises(ValueError, match="query dim"):
        ivfpq_search(enc, coarse, ivf_cbs, [0.0] * 2)


def test_ivfpq_retrieves_planted_cluster(spark):
    """IVF-PQ with enough probes must behave like PQ on planted clusters:
    query's cluster fills the top-per set; and the scored rows must be
    restricted to the probed cells only."""
    from zio_analytics_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
    )

    per = 12
    df = _planted(spark, n_clusters=4, per=per)
    coarse, cbs = ivfpq_train(df, n_cells=4, m=2, k=4, n_iter=2, dim=8)
    enc = ivfpq_encode(df, coarse, cbs)
    query = df.where("vec_id = 30").collect()[0]["embedding"]  # cluster 2
    got = [r.vec_id for r in ivfpq_search(enc, coarse, cbs, query, nprobe=4, top_k=per).collect()]
    assert set(got) == set(range(2 * per, 3 * per))
    # nprobe=1: every returned vector must live in the single probed cell
    one = ivfpq_search(enc, coarse, cbs, query, nprobe=1, top_k=50)
    cells = {
        r.cell
        for r in enc.join(one.select("vec_id"), "vec_id").select("cell").collect()
    }
    assert len(cells) == 1


def test_ivfpq_residual_codes_differ_from_raw_pq(spark):
    """Residual encoding is real: with well-separated clusters the coarse
    tier absorbs the cluster offset, so PQ codes of vectors from DIFFERENT
    cells overlap (they encode residual shapes, not absolute position)."""
    from zio_analytics_spark.operators.pq import ivfpq_encode, ivfpq_train

    df = _planted(spark, n_clusters=4, per=12)
    coarse, cbs = ivfpq_train(df, n_cells=4, m=2, k=4, n_iter=2, dim=8)
    enc = ivfpq_encode(df, coarse, cbs).collect()
    cells = {r.vec_id: r.cell for r in enc}
    # coarse tier separates the planted clusters
    assert len({cells[v] for v in range(12)}) == 1
    assert cells[0] != cells[24]


def test_pq_engines_equivalent(spark, embeddings_oracle):
    """The Spark engine reproduces the catalog's DuckDB PQ replay
    (``catalog._pq_oracle``): with ``top_k`` = every row, each row's ADC
    distance — a function of all m codes and every trained codebook — is
    equal."""
    from zio_analytics_spark.catalog import _pq_oracle

    df = _planted(spark, n_clusters=4, per=12, d=8)
    cbs = pq_train(df, m=2, k=4, n_iter=3, dim=8)
    query = df.where("vec_id = 0").collect()[0]["embedding"]
    got = sorted(map(tuple, pq_adc_topk(pq_encode(df, cbs), cbs, query, top_k=48).collect()))
    assert len(got) == 48
    assert got == embeddings_oracle(df, _pq_oracle(2, 4, 4, 3, 48))


def test_ivfpq_engines_equivalent_and_fit_encode(spark, embeddings_oracle):
    """The Spark engine reproduces the catalog's DuckDB IVF-PQ replay
    (``catalog._ivfpq_oracle``) with every cell probed and ``top_k`` = every
    row, and ivfpq_fit_encode (single coarse-assignment pass) ==
    train-then-encode."""
    from zio_analytics_spark.catalog import _ivfpq_oracle
    from zio_analytics_spark.operators.pq import (
        ivfpq_encode,
        ivfpq_fit_encode,
        ivfpq_search,
        ivfpq_train,
    )

    df = _planted(spark, n_clusters=4, per=12, d=8)
    coarse, cbs = ivfpq_train(df, n_cells=4, m=2, k=4, n_iter=2, dim=8)
    enc = {
        r.vec_id: (r.cell, list(r.codes))
        for r in ivfpq_encode(df, coarse, cbs).collect()
    }
    co_f, cb_f, enc_f = ivfpq_fit_encode(df, n_cells=4, m=2, k=4, n_iter=2, dim=8)
    assert co_f == coarse and cb_f == cbs
    assert {r.vec_id: (r.cell, list(r.codes)) for r in enc_f.collect()} == enc

    query = df.where("vec_id = 0").collect()[0]["embedding"]
    got = sorted(
        map(tuple, ivfpq_search(enc_f, coarse, cbs, query, nprobe=4, top_k=48).collect())
    )
    assert len(got) == 48
    oracle = _ivfpq_oracle(n_cells=4, m=2, k=4, sub=4, d=8, n_iter=2, nprobe=4, topk=48)
    assert got == embeddings_oracle(df, oracle)


def test_pq_production_parameter_plan_ceiling(spark):
    """Scale pin: at real-world PQ parameters (k=256, m=8, d=256 — ~65k
    codebook values, which as inlined SQL literals took ~80 s of plan
    construction) the encode plan must build, analyze and execute in
    seconds, not minutes: codebooks travel as closure state."""
    import random
    import time

    k, m, d = 256, 8, 256
    rnd = random.Random(11)
    sub_d = d // m
    cbs = [
        [[rnd.uniform(-1, 1) for _ in range(sub_d)] for _ in range(k)]
        for _ in range(m)
    ]
    from pyspark.sql import functions as F

    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=3) for _ in range(d)]).alias("embedding"),
    )
    t0 = time.time()
    enc = pq_encode(df, cbs)
    enc.schema  # analysis
    n = enc.count()  # execution
    elapsed = time.time() - t0
    assert n == 64
    codes = enc.collect()[0]["codes"]
    assert len(codes) == m and all(0 <= c < k for c in codes)
    assert elapsed < 15.0, f"production-parameter encode took {elapsed:.1f}s"


def test_pq_engines_equivalent_randomized(spark, embeddings_oracle):
    """Randomized dims/params: the Spark engine and the catalog's DuckDB
    PQ replay must give every row the identical ADC distance (the closest
    real argmin-tie stress available — uniform random vectors with
    several (m, k, d) shapes)."""
    import random

    from zio_analytics_spark.catalog import _pq_oracle

    rnd = random.Random(99)
    for m, k, d in ((2, 3, 8), (4, 5, 16), (1, 7, 6)):
        rows = [
            (i, [rnd.uniform(-3, 3) for _ in range(d)]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cbs = pq_train(df, m=m, k=k, n_iter=2, dim=d)
        enc = pq_encode(df, cbs)
        got = sorted(map(tuple, pq_adc_topk(enc, cbs, rows[0][1], top_k=40).collect()))
        assert len(got) == 40, (m, k, d)
        assert got == embeddings_oracle(df, _pq_oracle(m, k, d // m, 2, 40)), (m, k, d)


def test_ivfpq_recall_on_real_embeddings(spark, sf_dir):
    """Retrieval QUALITY on the real embeddings table (not planted toys):
    IVF-PQ recall@10 vs the exact L2 top-10, averaged over 5 query
    vectors. Asserts an honest absolute floor for the shipped catalog
    parameters at both probe widths. NOTE measured here: recall is NOT
    strictly monotone in nprobe — probing more cells adds candidates whose
    QUANTIZED distances can flatter them past true neighbors (ADC noise),
    and on one sf0.001 query nprobe=8 scores 0.3 where nprobe=2 scored
    0.4. The candidate SET grows monotonically; the top-k through an
    approximate score does not. (Why production stacks re-rank the ADC
    short-list with exact distances.)"""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.pq import ivfpq_fit_encode, ivfpq_search
    from zio_analytics_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    coarse, cbs, enc = ivfpq_fit_encode(emb, n_cells=8, m=4, k=16, n_iter=2)
    enc = enc.cache()
    queries = [
        [float(v) for v in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(5).collect()
    ]

    def exact_l2_top10(q):
        qarr = F.array(*[F.lit(v) for v in q])
        d2 = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                qarr,
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        return {
            r.vec_id
            for r in emb.select("vec_id", d2.alias("d2"))
            .orderBy("d2", "vec_id")
            .limit(10)
            .collect()
        }

    recalls = {2: [], 8: []}
    for q in queries:
        truth = exact_l2_top10(q)
        for nprobe in (2, 8):
            got = {
                r.vec_id
                for r in ivfpq_search(enc, coarse, cbs, q, nprobe=nprobe, top_k=10).collect()
            }
            recalls[nprobe].append(len(got & truth) / 10.0)
    enc.unpersist()
    mean2 = sum(recalls[2]) / len(recalls[2])
    mean8 = sum(recalls[8]) / len(recalls[8])
    # shipped parameters are toy-scale (m=4 -> 16x compression): the floors
    # document what they actually deliver rather than flattering them
    assert mean2 >= 0.3, recalls
    assert mean8 >= 0.3, recalls
