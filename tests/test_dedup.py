"""Dedup operators against CRAFTED duplicates — the driver's synthetic corpus
contains no near-dups (all 500 texts unique, max pairwise jaccard ≈ 0), so
operator power is proven here with planted dupes."""

from __future__ import annotations

from pyspark.sql import functions as F

from zio_analytics_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the rain falls softly outside the house"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-word edit → high jaccard
FAR = "completely different content about spark query engines and columnar execution at scale"


def _docs(spark):
    rows = [
        (1, BASE, "en"),
        (2, BASE, "en"),        # exact dup of 1
        (3, NEAR, "en"),        # near dup of 1
        (4, FAR, "en"),
        (5, "tiny", "en"),      # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark):
    out = {r.keeper_id: r.n_copies for r in dedup.exact_dedup(_docs(spark)).collect()}
    assert out == {1: 2, 3: 1, 4: 1, 5: 1}


def test_jaccard_pairs_finds_planted_dupes(spark):
    pairs = dedup.jaccard_pairs(_docs(spark), block_cols=["lang"], n=3, threshold=0.5).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert got[(1, 2)] == 1.0            # exact dup
    assert 0.5 <= got[(1, 3)] < 1.0      # near dup
    assert (1, 4) not in got and (2, 4) not in got
    # doc 5 has no shingles → never appears
    assert not any(5 in p for p in got)


def test_minhash_recall_matches_exact_jaccard(spark):
    """LSH candidates verified by exact jaccard == brute-force exact pairs
    for high-similarity dupes (recall ≈ 1 at j ≥ 0.5 with 16/8 bands)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(_docs(spark), block_cols=["lang"], threshold=0.5).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()}
    assert lsh == exact  # no false positives (verified), full recall on planted dupes


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate approximates jaccard on the planted near-dup."""
    docs = _docs(spark)
    from zio_analytics_spark.operators.text import word_shingles

    sh = docs.select("doc_id", word_shingles("text", 3).alias("sh")).where(F.size("sh") > 0)
    sig = sh.select("doc_id", dedup.minhash_signature(F.col("sh"), 64).alias("sig"))
    rows = {r.doc_id: r.sig for r in sig.collect()}
    agree = sum(a == b for a, b in zip(rows[1], rows[3])) / 64
    assert 0.4 <= agree <= 1.0  # true jaccard ≈ 0.77; 64 trials → loose bound


def test_simhash_near_dup_hamming(spark):
    fp = {r.doc_id: r.simhash for r in dedup.simhash(_docs(spark)).collect()}
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert fp[1] == fp[2]                      # identical text → identical fingerprint
    # one-word edit flips few bits (measured: 9); unrelated text is far
    # (measured: 36 ≈ the 32 expected for independent fingerprints)
    assert ham(fp[1], fp[3]) <= 16
    assert ham(fp[1], fp[4]) > 20
    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])


def test_simhash_pairs_banding(spark):
    # max_hamming=12 > the measured 9-bit distance of the planted near-dup;
    # note the banding guarantee (≥1 identical 16-bit band) is only exact for
    # hamming ≤ 3 — at 12 it's best-effort, which suffices for a 9-bit pair
    # whose flipped bits cluster in two bands.
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(_docs(spark), max_hamming=12).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_embedding_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], 0),      # orthogonal
        (4, [1.0, 0.0, 0.0], 1),      # same vector, different block → not compared
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {(r.id_a, r.id_b) for r in dedup.embedding_dup_pairs(df, block_cols=["label"], threshold=0.95).collect()}
    assert out == {(1, 2)}


def test_cluster_duplicates_transitive(spark):
    """a-b, b-c chain + isolated pair → two components with min-id labels."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    out = {r.node: r.cluster for r in dedup.cluster_duplicates(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_cluster_duplicates_long_chain(spark):
    """Chain of 12 nodes: propagation must cross the whole diameter."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    out = {r.node: r.cluster for r in dedup.cluster_duplicates(pairs).collect()}
    assert set(out.values()) == {1} and len(out) == 12


def test_lsh_calibrate_scurve():
    """Calibration must guarantee candidate recall >= target at the
    threshold, and reject thresholds the budget cannot serve."""
    for t in (0.2, 0.3, 0.5, 0.8):
        nh, b = dedup.lsh_calibrate(t, target_recall=0.9)
        assert nh % b == 0 and nh <= 128
        assert dedup.lsh_recall_at(t, b, nh // b) >= 0.9
    # round 2's defective configuration: 16/8 at t=0.05 was ~2% recall
    assert dedup.lsh_recall_at(0.05, 8, 2) < 0.05
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no \\(bands, rows\\)"):
        dedup.lsh_calibrate(0.005, target_recall=0.9, max_hashes=128)


def test_minhash_rejects_uncalibrated_banding(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="candidate .?recall"):
        dedup.minhash_lsh_pairs(
            _docs(spark), num_hashes=16, bands=8, threshold=0.05
        )


def _planted_pairs_at_threshold(spark, n_pairs=150):
    """Corpus of doc pairs with jaccard EXACTLY 0.2: each doc has 30 word
    3-shingles, the pair shares 10 (12 shared prefix tokens + 20 unique
    tail tokens -> shared = 12-2 = 10, total = 32-2 = 30; j = 10/50)."""
    rows = []
    for k in range(n_pairs):
        prefix = [f"p{k}x{i}" for i in range(12)]
        a_tail = [f"a{k}x{i}" for i in range(20)]
        b_tail = [f"b{k}x{i}" for i in range(20)]
        rows.append((2 * k, " ".join(prefix + a_tail)))
        rows.append((2 * k + 1, " ".join(prefix + b_tail)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_recall_at_threshold(spark):
    """Planted pairs AT the declared boundary (j = threshold = 0.2), not
    just high-j dups: calibrated banding must recover >= ~0.9 of them.
    (This is exactly the case the round-2 fixed 16/8 banding missed: its
    candidate probability at j=0.2 was 1-(1-0.04)^8 = 0.28.)"""
    docs = _planted_pairs_at_threshold(spark)
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    planted = {(2 * k, 2 * k + 1) for k in range(150)}
    recall = len(got & planted) / len(planted)
    # xxhash64 is deterministic -> this is a fixed number; the bound leaves
    # room for the binomial tail around the 0.9 design point.
    assert recall >= 0.85, f"recall {recall:.3f} at j=threshold"
    # verification stage keeps precision exact: no pair below threshold
    assert all(p in planted or p[0] // 2 == p[1] // 2 for p in got)


def test_jaccard_prefix_filter_equivalence(spark):
    """Prefix filtering must be EXACTLY result-preserving (theorem-complete
    candidates + full-array verify) — including pairs at exactly the
    threshold and under frequency skew (a hot boilerplate shingle shared by
    every doc, which the rarest-first canonical order pushes out of
    prefixes)."""
    rows = []
    # planted exact-threshold pairs (j = 0.5: share 10 of 30... use the
    # shared-prefix construction: p=17,q=15 -> shared 15, total 30, j=15/45)
    for k in range(20):
        prefix = [f"p{k}x{i}" for i in range(17)]
        rows.append((2 * k, " ".join(prefix + [f"a{k}x{i}" for i in range(15)])))
        rows.append((2 * k + 1, " ".join(prefix + [f"b{k}x{i}" for i in range(15)])))
    # frequency skew: one boilerplate sentence glued onto every doc
    boiler = "copyright footer terms of service apply everywhere"
    rows = [(i, t + " " + boiler) for i, t in rows]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for t in (0.2, 1.0 / 3.0, 0.6):
        plain = {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in dedup.jaccard_pairs(docs, threshold=t).collect()
        }
        pref = {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in dedup.jaccard_pairs(docs, threshold=t, prefix_filter=True).collect()
        }
        assert pref == plain, f"t={t}: prefix={len(pref)} plain={len(plain)}"
        if t < 0.5:  # high threshold legitimately yields empty == empty
            assert plain, f"t={t}: fixture produced no pairs (test is vacuous)"


def test_decontaminate_removes_and_tags(spark):
    """Planted eval-overlap: doc 1 embeds a benchmark 4-gram verbatim and
    must be removed; paraphrases/short overlaps survive; tag mode flags
    instead of dropping."""
    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris obviously")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "quiz question what is the capital of france answer below"),  # 4-gram hit
            (2, "the capital city of italy is rome"),                          # no shared 4-gram
            (3, "france is nice"),                                             # < n tokens shared
        ],
        "doc_id long, text string",
    )
    clean = dedup.decontaminate(corpus, bench, n=4)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]
    tagged = {r.doc_id: r.contaminated for r in dedup.decontaminate(corpus, bench, n=4, mode="tag").collect()}
    assert tagged == {1: True, 2: False, 3: False}
    import pytest as _p

    with _p.raises(ValueError, match="mode"):
        dedup.decontaminate(corpus, bench, mode="bogus")


def test_jaccard_dense_sparse_equivalence(spark, sf_dir):
    """The dense incidence-matrix path is result-IDENTICAL to the sparse
    inverted-index join — same pairs, same jaccard values — on the char-gram
    corpus that motivates it."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(block_cols=["lang"], n=5, threshold=0.3, shingle_mode="char")
    sparse = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.jaccard_pairs(docs, strategy="sparse", **kw).collect()
    }
    dense = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in dedup.jaccard_pairs(docs, strategy="dense", **kw).collect()
    }
    assert dense == sparse
    assert sparse, "fixture produced no pairs (test is vacuous)"


def test_jaccard_strategy_adaptive(spark, sf_dir):
    """The auto probe picks dense exactly on the degenerate-universe corpus:
    the synthetic documents table (~10-word vocabulary → every 5-char window
    repeats across most docs, Σ df² blows up) probes DENSE, while a diverse
    natural-text-like corpus (large vocabulary, df ≈ 1) probes SPARSE."""
    import random

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert dedup.jaccard_strategy(docs, block_cols=["lang"], n=5, shingle_mode="char") == "dense"

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    diverse = spark.createDataFrame(
        [(i, "en", " ".join(rng.choices(vocab, k=40))) for i in range(300)],
        "doc_id long, lang string, text string",
    )
    assert dedup.jaccard_strategy(diverse, block_cols=["lang"], n=3) == "sparse"


def test_dedup_operators_release_caches(spark):
    """Each dedup operator materializes its shared intermediate (shingle /
    fingerprint table) as a temp parquet table instead of persist() — the
    session-level DataFrame cache registry must be empty after every call
    (the round-3 leak: a cache would need a release protocol the operator
    cannot honor, since the consuming action happens after it returns)."""
    docs = spark.createDataFrame(
        [(i, "en", f"alpha beta gamma delta epsilon zeta doc{i % 7} eta theta") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for make in (
        lambda: dedup.jaccard_pairs(docs, block_cols=["lang"], threshold=0.3),
        lambda: dedup.jaccard_pairs(docs, block_cols=["lang"], threshold=0.3, strategy="dense"),
        lambda: dedup.jaccard_pairs(docs, block_cols=["lang"], threshold=0.3, prefix_filter=True),
        lambda: dedup.minhash_lsh_pairs(docs, threshold=0.3),
        lambda: dedup.simhash_pairs(docs, max_hamming=2),
    ):
        out = make()
        out.count()  # consume
        assert cache_mgr.isEmpty(), "dedup operator leaked a cached table"


def test_prebuilt_shingles_result_identical(spark):
    from zio_analytics_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a", "the quick brown fox jumps over the lazy dog"),
            (2, "a", "the quick brown fox jumps over the lazy cat"),
            (3, "a", "completely different text with unique words here"),
            (4, "b", "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, lang string, text string",
    )
    sh = dedup.build_shingle_table(docs, block_cols=["lang"], n=3)
    direct = dedup.jaccard_pairs(docs, block_cols=["lang"], n=3, threshold=0.2)
    reused = dedup.jaccard_pairs(
        docs, block_cols=["lang"], n=3, threshold=0.2, prebuilt_shingles=sh
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, reused.collect()))

    sh_nb = sh.select("doc_id", "__sh", "__sz")
    d2 = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    r2 = dedup.minhash_lsh_pairs(docs, threshold=0.5, prebuilt_shingles=sh_nb)
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, r2.collect()))


def test_incremental_ingest_reingest_same_doc_id(spark):
    """A doc_id present in BOTH the prebuilt corpus shingles and the new
    batch (re-ingest) must not sit on the build side twice — that would
    merge both copies in the intersection groupBy and double the count
    (jaccard > 1). The new version supersedes the corpus copy."""
    corpus = spark.createDataFrame(
        [(1, BASE), (4, FAR)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, BASE), (2, BASE)], "doc_id long, text string"  # 1 re-ingested
    )
    sh_corpus = dedup.build_shingle_table(corpus, n=3)
    pairs = dedup.jaccard_pairs_incremental(
        new, corpus, n=3, threshold=0.5, prebuilt_corpus_shingles=sh_corpus
    ).collect()
    assert all(r.jaccard <= 1.0 for r in pairs)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert got == {(1, 2): 1.0}  # exactly once, exact jaccard


def test_jaccard_chooser_flips_at_cost_model_boundary(spark):
    """Round-7: the auto-strategy probe must agree with an INDEPENDENT
    recomputation of its cost model (sufficient statistics recomputed in
    Python from the collected shingle table) across a corpus family that
    crosses the dense/sparse boundary — and the family must actually
    produce both outcomes, so the flip point itself is exercised."""
    import collections

    from zio_analytics_spark.operators.dedup import (
        _DENSE_COST_PER_OP,
        _SPARSE_COST_PER_ROW,
        _shingle_table,
    )

    def corpus(vocab_size, n_docs=60, words_per_doc=40):
        rows = []
        for d in range(n_docs):
            if vocab_size is None:  # fully diverse: every shingle unique
                ws = [f"w{d}x{i}" for i in range(words_per_doc)]
            else:
                ws = [f"w{(d * 7 + i * 13) % vocab_size}" for i in range(words_per_doc)]
            rows.append((d, " ".join(ws)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    outcomes = {}
    for vocab in (8, 40, None):
        df = corpus(vocab)
        sh = _shingle_table(df, "text", "doc_id", (), 3, "word").collect()
        dfreq = collections.Counter(t for r in sh for t in r["__sh"])
        U, D = len(dfreq), len(sh)
        sparse_rows = sum(c * c for c in dfreq.values())
        dense_ops = D * D / 2.0 * (U / 64.0 + 8.0)
        gated_out = U > (1 << 15) or float(D * U) > float(1 << 29)
        expected = (
            "dense"
            if not gated_out
            and dense_ops * _DENSE_COST_PER_OP < sparse_rows * _SPARSE_COST_PER_ROW
            else "sparse"
        )
        got = dedup.jaccard_strategy(df)
        assert got == expected, (vocab, got, expected, sparse_rows, dense_ops)
        outcomes[vocab] = got
    assert set(outcomes.values()) == {"dense", "sparse"}, outcomes


# ---------------------------------------------------------------------------
# substring_span_pairs (ExactSubstr, Lee et al. 2022)
# ---------------------------------------------------------------------------

_DISTINCT = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "!@#$%^&*()-_=+[]{};:,.<>/?|~`"
)  # 91 distinct chars: slices have no internal repeats → single-diagonal runs


def _span_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_span_exact_length(spark):
    shared = _DISTINCT[:80]
    df = _span_docs(
        spark,
        [(0, "x" * 30 + shared + "x" * 30), (1, "y" * 30 + shared + "y" * 30)],
    )
    out = dedup.substring_span_pairs(df, gram_len=25, min_len=50).collect()
    assert len(out) == 1
    r = out[0]
    # span length is EXACT: boundary chars differ, so the run is precisely 80
    assert (r["doc_a"], r["doc_b"], r["max_span"], r["n_spans"]) == (0, 1, 80, 1)


def test_substring_span_offset_diagonal(spark):
    # same shared run at DIFFERENT offsets: nonzero diagonal, still one run
    shared = _DISTINCT[:60]
    df = _span_docs(
        spark,
        [(0, "x" * 5 + shared + "x" * 40), (1, "y" * 45 + shared + "y" * 3)],
    )
    out = dedup.substring_span_pairs(df, gram_len=25, min_len=50).collect()
    assert len(out) == 1
    assert (out[0]["max_span"], out[0]["n_spans"]) == (60, 1)


def test_substring_span_two_runs_and_threshold(spark):
    run1, run2 = _DISTINCT[:55], _DISTINCT[36:66][::-1]
    df = _span_docs(
        spark,
        [
            (0, "x" * 10 + run1 + "x" * 10 + run2 + "x" * 10),
            (1, "y" * 10 + run1 + "y" * 10 + run2 + "y" * 10),
            # pair (0,2) shares only a 40-char run: below min_len=50 → excluded
            (2, "z" * 20 + _DISTINCT[:40] + "z" * 20),
        ],
    )
    out = {(r["doc_a"], r["doc_b"]): r for r in
           dedup.substring_span_pairs(df, gram_len=25, min_len=50).collect()}
    assert set(out) == {(0, 1)}
    assert out[(0, 1)]["max_span"] == 55
    assert out[(0, 1)]["n_spans"] == 2


def test_substring_span_short_docs_and_validation(spark):
    import pytest

    df = _span_docs(spark, [(0, "tiny"), (1, "tiny")])  # shorter than one gram
    assert dedup.substring_span_pairs(df, gram_len=25, min_len=25).count() == 0
    with pytest.raises(ValueError):
        dedup.substring_span_pairs(df, gram_len=25, min_len=10)


def test_substring_span_plan_shape(spark):
    """Round-16 shape pin: the gaps-and-islands step is a per-pair sorted
    fold, not a row_number window (one exchange fewer, no sort of the
    match table), and the gram hash runs in a plain projection above the
    explode, not inside a transform() lambda (interpreted CodegenFallback)
    — xxhash64 must not appear under a LambdaFunction."""
    df = _span_docs(spark, [(0, _DISTINCT[:60]), (1, _DISTINCT[:60])])
    out = dedup.substring_span_pairs(df, gram_len=25, min_len=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction(xxhash64" not in optimized


def test_substring_span_hot_gram_blocklist(spark):
    import pytest

    # one boilerplate run shared by ALL 6 docs (hot), one run shared by 2
    boiler = _DISTINCT[:55]
    rare = _DISTINCT[30:85][::-1]
    rows = [(i, "x" * (i + 1) + boiler + "x" * 5) for i in range(4)]
    rows += [
        (4, "y" * 3 + boiler + "q" * 10 + rare + "y" * 3),
        (5, "z" * 9 + boiler + "r" * 10 + rare + "z" * 2),
    ]
    df = _span_docs(spark, rows)
    # uncapped: all 15 pairs share the boilerplate run
    assert dedup.substring_span_pairs(df, gram_len=25, min_len=50).count() == 15
    # capped at df<=3: the 6-doc boilerplate grams drop, the 2-doc rare
    # run survives — exactly the (4,5) pair remains
    capped = dedup.substring_span_pairs(
        df, gram_len=25, min_len=50, max_gram_df=3
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["max_span"]) for r in capped] == [(4, 5, 55)]
    with pytest.raises(ValueError):
        dedup.substring_span_pairs(df, gram_len=25, min_len=50, max_gram_df=1)


def test_semantic_dedup_blocks_by_cluster(spark):
    # Two well-separated clusters, each containing a near-duplicate pair;
    # one near-dup pair straddles the boundary region. Within-cluster
    # pairs are found; the cross-cluster pair is deliberately missed —
    # that is SemDeDup's documented trade (blocking recall bound), and
    # this pins it.
    import numpy as np

    from zio_analytics_spark.operators.clustering import kmeans_assign
    from zio_analytics_spark.operators.dedup import embedding_dup_pairs

    rng = np.random.RandomState(5)
    d = 8

    def unit(v):
        v = np.asarray(v, dtype=float)
        return (v / np.linalg.norm(v)).tolist()

    a = rng.randn(d)
    b = rng.randn(d)
    b -= a * (a @ b) / (a @ a)  # orthogonalize: clusters far apart
    rows = []
    # cluster A: ids 0-3, with 0/1 nearly identical
    rows.append((0, unit(a)))
    rows.append((1, unit(a + 0.01 * rng.randn(d))))
    rows.append((2, unit(a + 0.6 * rng.randn(d))))
    rows.append((3, unit(a + 0.6 * rng.randn(d))))
    # cluster B: ids 10-13, with 10/11 nearly identical
    rows.append((10, unit(b)))
    rows.append((11, unit(b + 0.01 * rng.randn(d))))
    rows.append((12, unit(b + 0.6 * rng.randn(d))))
    rows.append((13, unit(b + 0.6 * rng.randn(d))))
    # the straddling pair: 20 near A+B midpoint, 21 its near-dup
    mid = unit(a + b)
    rows.append((20, mid))
    rows.append((21, unit(np.asarray(mid) + 0.01 * rng.randn(d))))
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "vec_id long, embedding array<double>"
    )
    cells = kmeans_assign(df, "embedding", "vec_id", k=2, n_iter=3, dim=d)
    tagged = df.join(cells, "vec_id")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(
            tagged, block_cols=["cluster"], threshold=0.95
        ).collect()
    }
    assert (0, 1) in pairs and (10, 11) in pairs
    # the mid-point pair is only found if both landed in the SAME cell —
    # verify the pair set is exactly the within-cell cosine>=0.95 pairs
    cl = {r["vec_id"]: r["cluster"] for r in cells.collect()}
    vecs = dict(rows)
    import itertools

    expect = set()
    for (i, vi), (j, vj) in itertools.combinations(sorted(vecs.items()), 2):
        if cl[i] == cl[j]:
            cos = float(np.dot(vi, vj))
            if cos >= 0.95:
                expect.add((i, j))
    assert pairs == expect


def test_dedup_paragraphs_planted_cross_doc(spark):
    """Planted corpus: a boilerplate paragraph shared by every doc, a
    cross-doc duplicate body paragraph, blanks, an intra-doc repeat, an
    all-struck doc and an empty doc — pins keep-first policy, byte-exact
    reassembly and the empty-document contract."""
    from zio_analytics_spark.operators.dedup import dedup_paragraphs

    S = "\n\n"
    docs = [
        (1, S.join(["BOILER", "alpha beta", "gamma delta"])),
        (2, S.join(["BOILER", "alpha beta", "unique two"])),
        (3, S.join(["   ", "gamma delta", "BOILER"])),
        (4, "BOILER"),
        (5, ""),
        (6, S.join(["zeta", "zeta"])),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in dedup_paragraphs(df).collect()
    }
    assert out == {
        1: (S.join(["BOILER", "alpha beta", "gamma delta"]), 3, 0),
        2: ("unique two", 1, 2),
        3: ("", 0, 2),
        4: ("", 0, 1),
        5: ("", 0, 0),
        6: ("zeta", 1, 1),
    }


def test_dedup_paragraphs_custom_separator_and_bytes(spark):
    """Untrimmed reassembly is byte-exact (inner whitespace preserved) and
    a regex-metachar separator is treated literally."""
    from zio_analytics_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "a  b|.|c d|.|a  b"), (2, "c d|.|x")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["text"], r["n_kept"], r["n_dropped"])
        for r in dedup_paragraphs(df, sep="|.|").collect()
    }
    assert out[1] == ("a  b|.|c d", 2, 1)  # doubled space survives verbatim
    assert out[2] == ("x", 1, 1)


def test_paragraph_grain_neardup_composition(spark):
    """The paragraph table composes with the existing near-dup tiers: an
    exact-tier strike leaves near-identical (not byte-equal) paragraphs
    for the MinHash/Jaccard grain to catch across docs."""
    from zio_analytics_spark.operators.dedup import jaccard_pairs

    S = "\n\n"
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and once"
    df = spark.createDataFrame(
        [(1, S.join([base, "filler one here"])), (2, S.join([near, "other filler two"]))],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    paras = df.select(
        "doc_id", F.posexplode(F.split("text", "\n\n")).alias("idx", "ptext")
    ).select(
        (F.col("doc_id") * 1000 + F.col("idx")).alias("para_id"), "ptext"
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(
            paras, text_col="ptext", id_col="para_id", n=3, threshold=0.5
        ).collect()
    }
    assert (1000, 2000) in pairs  # the near-dup paragraph pair, cross-doc
    assert all({a // 1000, b // 1000} == {1, 2} for a, b in pairs)


def test_dedup_paragraphs_whitespace_class_paragraphs_removed(spark):
    """Round-9 ADVICE (low): F.trim strips only ASCII spaces, so a tab/
    newline/NBSP-only paragraph was kept as CONTENT — and collapsed
    corpus-wide onto one keeper, the exact blank-paragraph hot key the
    filter documents preventing. Now the filter removes the whole
    whitespace class (explicit char class, identical in Java regex and
    the oracle's RE2)."""
    from zio_analytics_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "alpha\n\n\t\n\nbravo"),       # tab-only paragraph
            (2, "charlie\n\n \n\ndelta"),  # NBSP-only paragraph
            (3, "echo\n\n \n\nfoxtrot"),        # space-only (old behavior kept)
            (4, "\t"),                           # whole doc is one tab paragraph
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    # whitespace-class paragraphs vanish: not kept, not counted as dropped
    assert out[1]["text"] == "alpha\n\nbravo" and out[1]["n_kept"] == 2
    assert out[1]["n_dropped"] == 0
    assert out[2]["text"] == "charlie\n\ndelta" and out[2]["n_dropped"] == 0
    assert out[3]["text"] == "echo\n\nfoxtrot" and out[3]["n_dropped"] == 0
    # empty-document contract still explicit
    assert out[4]["text"] == "" and out[4]["n_kept"] == 0


def test_char_shingle_arrow_matches_expressions(spark):
    """Round-17: the Arrow char-shingle lane must agree with the old
    expression form on everything downstream can observe — which docs
    survive, each doc's distinct-gram COUNT, and the final jaccard_pairs
    output (shingle ids are internal; intersections are id-blind)."""
    from pyspark.sql import functions as F

    from zio_analytics_spark.operators.text import char_shingles

    texts = [
        (0, "en", "abcdefgh abcdefgh"),
        (1, "en", "abcdefgh abcdefXh"),
        (2, "en", "tiny"),          # shorter than k=5: dropped
        (3, "en", None),             # NULL: dropped
        (4, "zh", "漢字漢字漢字漢字漢字"),  # code-point windows, not bytes
        (5, "zh", "漢字漢字漢字漢字漢字"),
        (6, "zh", "𝄞音𝄞音𝄞音𝄞音𝄞音"),  # astral-plane code points
    ]
    df = spark.createDataFrame(texts, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: r["__sz"]
        for r in dedup._shingle_table(df, "text", "doc_id", ["lang"], 5, "char").collect()
    }
    legacy = df.select(
        "doc_id",
        F.array_distinct(
            F.transform(char_shingles("text", 5, distinct=False), lambda s: F.xxhash64(s))
        ).alias("__sh"),
    ).where(F.size("__sh") > 0)
    want = {r["doc_id"]: len(r["__sh"]) for r in legacy.collect()}
    assert got == want

    # Several Arrow batches through ONE task (the gram→id memo is per
    # batch): every doc keeps the same shingle ids as the one-batch run,
    # so cross-batch intersections stay exact.
    def one_task_shingles():
        out = dedup._char_shingle_arrow(df.coalesce(1), "text", "doc_id", ["lang"], 5)
        return {r["doc_id"]: (r["__sh"], r["__sz"]) for r in out.collect()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    one_batch = one_task_shingles()
    prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "2")
    try:
        multi_batch = one_task_shingles()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert multi_batch == one_batch
    assert {d: sz for d, (_sh, sz) in multi_batch.items()} == want

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(
            df, block_cols=["lang"], n=5, threshold=0.1,
            shingle_mode="char", strategy="dense",
        ).collect()
    }
    # brute-force reference on the raw strings
    import itertools
    sets = {i: {t[j:j+5] for j in range(len(t)-4)} for i, _l, t in texts if t and len(t) >= 5}
    langs = {i: l for i, l, _t in texts}
    want_pairs = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        if langs[a] != langs[b]:
            continue
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= 0.1:
            want_pairs[(a, b)] = jac
    assert pairs == want_pairs
