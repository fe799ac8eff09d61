"""[EXT] Deduplication operators for LLM-data pipelines (SURVEY.md §2.4 tail).

Four tiers, increasing fuzziness:

- ``exact_dedup``       — hash-groupBy on a content digest.
- ``jaccard_pairs``     — exact n-gram Jaccard within blocks (quadratic per
                          block; use when blocks are small or as the verifier).
- ``minhash_lsh_pairs`` — MinHash signatures + banded LSH: near-linear
                          candidate generation, then exact-Jaccard verify.
- ``simhash_pairs``     — 64-bit SimHash fingerprints + banded Hamming join.
- ``embedding_dup_pairs`` — cosine near-dup over an embedding column.

Scale design: every candidate generator is a *blocked equi-join* (band/bucket
key), never a cross join — the quadratic step only ever happens inside a
bucket. MinHash/Jaccard math stays in Column expressions (xxhash64 /
array_intersect / aggregate — JVM codegen); SimHash uses one Arrow-vectorized
pandas_udf because 64-lane bit-majority is a numpy job, not an expression.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence
from functools import reduce

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from zio_analytics_spark.operators.text import tokens, word_shingles

__all__ = [
    "exact_dedup",
    "decontaminate",
    "build_shingle_table",
    "jaccard_pairs",
    "jaccard_pairs_incremental",
    "jaccard_strategy",
    "lsh_calibrate",
    "lsh_recall_at",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_pairs",
    "substring_span_pairs",
    "dedup_paragraphs",
    "embedding_dup_pairs",
]


def _finalize(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` to a temp parquet and RELEASE the persisted
    frames that produced it — for pipelines that used an explicit
    ``persist()`` stage boundary (see ``llm_pipeline_full``): the spill
    truncates the lineage so the cache can be unpersisted immediately,
    leaving the DataFrame cache registry empty, with zero lingering
    executor footprint (unlike ``localCheckpoint``, whose blocks sit in
    storage memory until the consumer's GC drops the frame). The temp dir
    is registered with :mod:`zio_analytics_spark.tmpdirs` and removed at
    session stop / interpreter exit."""
    from zio_analytics_spark.tmpdirs import scratch_dir

    path = scratch_dir(prefix="zas_dedup_out_")
    result.write.mode("overwrite").parquet(path)
    for df in cached:
        df.unpersist()
    # explicit schema: robust to an empty result (zero part files)
    return result.sparkSession.read.schema(result.schema).parquet(path)


def _materialize_table(df: DataFrame, prefix: str = "zas_dedup_tbl_") -> DataFrame:
    """Write an INTERMEDIATE table (shingles / fingerprints — small: hashed
    longs, not documents) to a temp parquet and return a scan of it.

    This replaces ``persist()`` for the dedup operators' shared
    intermediates: several join sides read the table, and a cache would
    have to be released by *someone* after an action the operator never
    sees — the round-3 leak. A materialized table needs no release
    protocol (no executor memory held, nothing in the cache registry, the
    result plan stays fully lazy), each consumer re-scans a few MB of
    columnar data, and at 100 TB writing the shingle/fingerprint table
    once IS the standard pipeline shape. The write is one eager job —
    dedup operators are multi-job pipelines by contract, not single lazy
    plans. The dir is registered with :mod:`zio_analytics_spark.tmpdirs`
    and removed at session stop / interpreter exit.
    """
    from zio_analytics_spark.tmpdirs import materialize_table

    return materialize_table(df, prefix=prefix)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one keeper (min id) + copy count per distinct content.

    Groups on a 256-bit content digest rather than the full text so the
    shuffle carries 32 bytes per row instead of whole documents — the digest
    is collision-free for practical purposes at 100 TB.
    """
    digest = F.sha2(F.col(text_col), 256).alias("__digest")
    return (
        df.select(digest, F.col(id_col))
        .groupBy("__digest")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
        .drop("__digest")
        .select("keeper_id", "n_copies")
    )


def _pair_jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return inter / union


def _ensure_parallelism(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Small/heavily-compressed local inputs can arrive as a SINGLE scan
    split (the sf0.1 documents table is one 600 KB row group), which would
    serialize the expensive per-document work (shingling, hashing) that
    follows. If the scan has fewer partitions than the cluster's default
    parallelism, add one round-robin repartition of the projected input;
    on a real many-split corpus this is a no-op (no shuffle inserted).

    ``key_col`` is accepted but deliberately UNUSED: hash-partitioning by
    document id here (so downstream per-document windows/aggregates skip
    their exchange) was measured SLOWER than round-robin + exchanges
    (warm medians at sf0.1: prefix 6.6 s vs 3.8 s, minhash 6.5 s vs
    4.3 s) — removing the exchange fuses shingle-build, join and sort
    into one stage with worse overlap, and leaves AQE no boundary to
    re-plan/coalesce at. The exchanges the window/agg insert are on slim
    exploded rows and are exactly where AQE earns its keep."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _char_shingle_arrow(
    base: DataFrame, text_col: str, id_col: str, block_cols: Sequence[str], n: int
) -> DataFrame:
    """Char k-gram shingle rows via one mapInPandas (see the char branch of
    :func:`_shingle_table` for why). Semantics mirror the expression form
    exactly: code-point windows (Python str slicing == Spark substr on code
    points), first-occurrence-distinct, docs shorter than ``n`` (or NULL)
    dropped; only the 64-bit shingle-id function differs (blake2b-64 vs
    xxhash64 — internal ids, equal collision class)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    k = int(n)
    cols = [*block_cols, id_col]
    in_schema = base.schema
    out_schema = StructType(
        [in_schema[c] for c in cols]
        + [
            StructField("__sh", ArrayType(LongType())),
            StructField("__sz", IntegerType()),
        ]
    )

    def shingle(batches):
        from hashlib import blake2b

        def h(memo: dict, g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = int.from_bytes(
                    blake2b(g.encode("utf-8"), digest_size=8).digest(),
                    "big",
                    signed=True,
                )
                memo[g] = v
            return v

        for pdf in batches:
            # gram→id memo per Arrow batch: bounded by the batch's text
            # (maxRecordsPerBatch docs), never by the whole task's vocabulary
            memo: dict = {}
            keep, out_sh, out_sz = [], [], []
            for i, t in enumerate(pdf[text_col]):
                if t is None or len(t) < k:
                    continue
                grams = dict.fromkeys(t[j : j + k] for j in range(len(t) - k + 1))
                out_sh.append([h(memo, g) for g in grams])
                out_sz.append(len(grams))
                keep.append(i)
            if not keep:
                continue  # an all-dropped batch would emit float64 columns
            res = pdf.iloc[keep][cols].copy()
            res["__sh"] = pd.Series(out_sh, index=res.index, dtype="object")
            res["__sz"] = pd.Series(out_sz, index=res.index, dtype="int32")
            yield res

    return base.mapInPandas(shingle, out_schema)


def _shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: Sequence[str],
    n: int,
    shingle_mode: str,
) -> DataFrame:
    """(block_cols…, id, __sh array<long>, __sz) — distinct shingles hashed to
    xxhash64 longs (8-byte comparisons downstream; 2^-64 collision risk
    accepted), empty-shingle docs dropped."""
    if shingle_mode == "word":
        grams = word_shingles(text_col, n, distinct=False)
    elif shingle_mode == "char":
        # character k-grams: the unit for text without whitespace
        # segmentation (CJK, URLs, code) — same join machinery downstream.
        # Round-17 (guide §4): built in the Arrow lane, not expressions —
        # the nested transform() lambdas (substr per position, then a hash
        # per gram) are CodegenFallback and evaluate INTERPRETED per
        # character position; one mapInPandas slices/dedups/hashes each
        # text with a per-batch gram→hash memo (the dense regime's tiny
        # vocabulary makes hashing ~free). Shingle ids switch from
        # xxhash64(gram) to blake2b-64(gram) — both deterministic 64-bit
        # with the same 2^-64 collision acceptance; no declared output
        # depends on the id VALUES (intersections/unions are id-blind),
        # pinned by test_char_shingle_arrow_matches_expressions.
        base = _ensure_parallelism(
            df.select(*block_cols, F.col(id_col), F.col(text_col)), id_col
        )
        return _char_shingle_arrow(base, text_col, id_col, block_cols, n)
    else:
        raise ValueError(f"shingle_mode must be 'word' or 'char', got {shingle_mode!r}")
    base = _ensure_parallelism(df.select(*block_cols, F.col(id_col), F.col(text_col)), id_col)
    return (
        base.select(
            *block_cols,
            F.col(id_col),
            F.array_distinct(F.transform(grams, lambda s: F.xxhash64(s))).alias("__sh"),
        )
        .where(F.size("__sh") > 0)
        .select(*block_cols, F.col(id_col), F.col("__sh"), F.size("__sh").alias("__sz"))
    )


# Relative cost weights for the auto-strategy probe. A sparse inverted-index
# join row is shuffled, joined and hash-aggregated (~100s of ns); a dense
# bitmap op is one codegen'd AND+popcount lane (~ns). The exact ratio only
# matters near the crossover — both real regimes sit orders of magnitude to
# one side (measured at sf0.1: synthetic char corpus 3.2e9 vs 1.0e8,
# word-vocabulary corpora the reverse).
_SPARSE_COST_PER_ROW = 8.0
_DENSE_COST_PER_OP = 1.0


def _choose_strategy(
    sh: DataFrame, block_cols: Sequence[str], max_dense_bits: int
) -> str:
    """One aggregate pass over the shingle table → 'dense' or 'sparse'.

    Estimates the two candidate costs from sufficient statistics:
    the sparse inverted index generates Σ_t df(t)² join rows (its known
    failure mode: hot shingles), the dense bitmap path compares
    Σ_b D_b²/2 pairs at U_b/64 words each. Dense additionally requires
    every block's distinct-shingle universe to fit ``max_dense_bits``.
    The probe is two narrow aggregations (freq table + per-block rollup →
    ONE driver row) — it runs a small job eagerly, which is part of this
    operator's contract (dedup is a multi-job pipeline, not a single lazy
    plan).
    """
    tok = sh.select(*block_cols, F.explode("__sh").alias("__t"))
    freq = tok.groupBy(*block_cols, "__t").agg(F.count(F.lit(1)).alias("__df"))
    per_block_sh = freq.groupBy(*block_cols).agg(
        F.count(F.lit(1)).alias("__u"),
        F.sum(F.col("__df") * F.col("__df")).alias("__df2"),
    )
    per_block_docs = sh.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("__d"))
    if block_cols:
        joined = per_block_sh.join(per_block_docs, list(block_cols))
    else:
        joined = per_block_sh.crossJoin(per_block_docs)
    row = joined.agg(
        F.max("__u").alias("max_u"),
        F.max(F.col("__d").cast("double") * F.col("__u")).alias("max_du"),
        F.sum("__df2").alias("sparse_rows"),
        F.sum(
            F.col("__d") * F.col("__d") / 2.0 * (F.col("__u") / 64.0 + F.lit(8.0))
        ).alias("dense_ops"),
    ).first()
    if row is None or row["max_u"] is None:
        return "sparse"
    # dense holds a block's D×U float32 incidence matrix in one task: gate
    # both the universe width and the matrix bytes (512M cells ≈ 2 GB).
    if row["max_u"] > max_dense_bits or row["max_du"] > float(1 << 29):
        return "sparse"
    dense_cost = float(row["dense_ops"]) * _DENSE_COST_PER_OP
    sparse_cost = float(row["sparse_rows"]) * _SPARSE_COST_PER_ROW
    return "dense" if dense_cost < sparse_cost else "sparse"


def jaccard_strategy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    n: int = 3,
    shingle_mode: str = "word",
    max_dense_bits: int = 1 << 15,
) -> str:
    """The strategy ``jaccard_pairs(strategy='auto')`` would pick for this
    input — exposed for planning/inspection (and tested on both regimes:
    the repetitive small-vocabulary corpus probes dense, a diverse
    natural-text corpus probes sparse)."""
    sh = _shingle_table(df, text_col, id_col, block_cols, n, shingle_mode)
    return _choose_strategy(sh, block_cols, max_dense_bits)


def _dense_bitmap_pairs(
    sh: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    threshold: float,
    salt_buckets: int = 8,
) -> DataFrame:
    """Exact Jaccard for the DENSE regime (small per-block shingle universe,
    high document overlap — boilerplate floods, tiny vocabularies, CJK char
    grams over a narrow charset), where the inverted index melts: a shingle
    in k docs costs k² join rows, and with every doc sharing most shingles
    that is Θ((Σ df)²) — while the candidate set is all within-block pairs
    anyway. Instead each task receives one whole block, factorizes its
    shingles to local dense ids, and computes EXACT intersection counts as
    a product of the 0/1 doc×shingle incidence matrix — ``inter = M @ M.T``
    in float32 BLAS (exact for counts < 2²⁴; the universe gate keeps
    U ≤ 2¹⁵) — emitting ONLY surviving pairs, so the pair space is never
    materialized as rows. Measured at sf0.1 against the alternatives:
    inverted-index join 111 s (Θ(Σ df²) shuffled rows), zip_with/aggregate
    popcount 60 s (higher-order lambdas run interpreted per element), LUT
    popcount over uint64 bitmaps 7 s, sgemm < 2 s — pairwise set
    intersection in a dense universe IS a matrix product, and BLAS is the
    fastest hardware path to it.

    Parallelism: the shingle frame is replicated to ``salt_buckets`` copies
    and pair (x, y), x<y, is computed only in the copy where
    ``x % salt_buckets`` matches — each block runs S tasks wide, each task
    comparing ~D/S docs against the block (chunked to bound temporaries).
    The replication multiplies ONE narrow shuffle of the shingle table by
    S; blocks are few by construction in the dense regime (the probe only
    picks this path when per-block universes are tiny), so S ≈ cores/blocks
    is the right trade. A task must hold its block's D×U incidence matrix —
    the caller's probe gates on exactly that (``max_dense_bits`` plus the
    block-bytes bound in :func:`_choose_strategy`).
    """
    import numpy as np

    S = int(salt_buckets)
    thr = float(threshold)
    exploded = sh.select(
        *block_cols,
        F.col(id_col).alias("__doc"),
        F.col("__sh"),
        F.col("__sz"),
        F.explode(F.array(*[F.lit(i) for i in range(S)])).alias("__salt"),
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_a": pd.Series(dtype="int64"),
                              "doc_b": pd.Series(dtype="int64"),
                              "jaccard": pd.Series(dtype="float64")})
        D = len(pdf)
        if D < 2:
            return empty
        salt = int(pdf["__salt"].iloc[0])
        docs = pdf["__doc"].to_numpy(dtype=np.int64)
        sizes = pdf["__sz"].to_numpy(dtype=np.int64)
        a_idx = np.nonzero(docs % S == salt)[0]
        if len(a_idx) == 0:
            return empty
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in pdf["__sh"]])
        codes = pd.factorize(flat)[0]
        U = int(codes.max()) + 1
        M = np.zeros((D, U), dtype=np.float32)
        M[np.repeat(np.arange(D), sizes), codes] = 1.0
        # chunk the A side so the (chunk × D) sgemm output stays ~64 MB
        chunk = max(1, (64 << 20) // (D * 4))
        outs = []
        for c0 in range(0, len(a_idx), chunk):
            ai = a_idx[c0 : c0 + chunk]
            inter = (M[ai] @ M.T).astype(np.int64)
            union = sizes[ai][:, None] + sizes[None, :] - inter
            jac = inter / union
            mask = (jac >= thr) & (docs[None, :] > docs[ai][:, None])
            ii, jj = np.nonzero(mask)
            if len(ii):
                outs.append(
                    pd.DataFrame(
                        {"doc_a": docs[ai][ii], "doc_b": docs[jj], "jaccard": jac[ii, jj]}
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return exploded.groupBy(*block_cols, "__salt").applyInPandas(
        block_pairs, "doc_a long, doc_b long, jaccard double"
    )


def build_shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    n: int = 3,
    shingle_mode: str = "word",
) -> DataFrame:
    """Materialize the hashed shingle table ONCE for reuse across several
    dedup passes (plain inverted-index, prefix-filtered, clustering…):
    shingling + hashing is the shared linear pass every tier repeats, and
    at 100 TB the shingle table is a first-class pipeline intermediate you
    write once and join from many times. Pass the result to
    ``jaccard_pairs(..., prebuilt_shingles=...)`` — parameters must match
    the ones the consumer would have used (same n / mode / blocks)."""
    return _materialize_table(_shingle_table(df, text_col, id_col, block_cols, n, shingle_mode))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = False,
    shingle_mode: str = "word",
    strategy: str = "sparse",
    max_dense_bits: int = 1 << 15,
    prebuilt_shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-``n``-gram Jaccard pairs within blocks, via an
    **inverted-index set-similarity join** (the canonical distributed
    algorithm): explode distinct shingles → equi-join on (shingle, blocks) →
    the per-pair match count IS the intersection size; union follows from
    the per-doc set sizes.

    Only pairs sharing ≥1 shingle are ever generated, so for ``threshold``
    > 0 the result is identical to the brute-force within-block cross join
    while the cost is shuffle-on-shingle + aggregate — near-linear when
    shingle frequencies are low. A shingle occurring in k docs contributes
    k² join rows: hot shingles (boilerplate) are the skew risk; AQE
    skew-join covers moderate cases, and shingle-frequency capping is the
    documented escape hatch for pathological corpora.

    Shingles are compared as xxhash64 values (8-byte longs, not strings):
    a cross-engine-identical 2^-64 collision risk buys a large constant
    factor. Output: ``doc_a, doc_b (doc_a < doc_b), jaccard``.

    ``prefix_filter=True`` switches candidate generation to AllPairs/PPJoin
    prefix filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08): under a
    global canonical shingle order, any pair with J ≥ t must collide within
    the first ``|s| - ceil(t·|s|) + 1`` shingles of each side, so only that
    prefix is indexed; candidates are then verified against the full
    shingle arrays — the RESULT IS IDENTICAL (theorem-complete candidates +
    exact verify), tested by equivalence. Ordering the canonical order
    RAREST-FIRST also pushes hot boilerplate shingles out of every prefix,
    collapsing the k² join rows they cause in the plain index — the
    escape hatch for skewed corpora that frequency *capping* would buy at
    the price of lost recall.

    ``strategy`` picks the candidate machinery (result-identical either way):

    - ``'sparse'`` — the inverted-index join above (with optional
      ``prefix_filter``): right when shingle document frequencies are low
      (diverse natural text — the common 100 TB regime).
    - ``'dense'`` — per-block bitmap popcount comparison
      (:func:`_dense_bitmap_pairs`): right when the per-block shingle
      universe is small and documents overlap heavily (tiny vocabularies,
      boilerplate floods, CJK char grams over a narrow charset), where the
      inverted index generates Θ(Σ df²) join rows for a candidate set that
      is all within-block pairs anyway.
    - ``'auto'`` — probes sufficient statistics (two narrow aggregates →
      one driver row) and picks; :func:`jaccard_strategy` exposes the
      choice.
    """
    if threshold <= 0:
        raise ValueError("jaccard_pairs requires threshold > 0 (pairs sharing no shingle are never emitted)")
    if strategy not in ("sparse", "dense", "auto"):
        raise ValueError(f"strategy must be 'sparse', 'dense' or 'auto', got {strategy!r}")
    # Every strategy reads the shingle table from several join sides —
    # materialize it once (temp parquet, see _materialize_table) so the
    # shingling expression evaluates ONCE per document, not once per
    # consumer, with no cache for anyone to release. A caller running
    # several dedup passes amortizes further via build_shingle_table.
    sh = (
        prebuilt_shingles
        if prebuilt_shingles is not None
        else _materialize_table(_shingle_table(df, text_col, id_col, block_cols, n, shingle_mode))
    )
    if strategy == "auto":
        strategy = _choose_strategy(sh, block_cols, max_dense_bits)
    if strategy == "dense":
        return _dense_bitmap_pairs(sh, id_col, block_cols, threshold)
    tok = sh.select(*block_cols, F.col(id_col), F.col("__sz"), F.explode("__sh").alias("__t"))
    cond = F.col("doc_a") < F.col("doc_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}__a") == F.col(f"{c}__b"))

    if prefix_filter:
        freq = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
        rank_w = W.partitionBy(*block_cols, F.col(id_col)).orderBy("__df", "__t")
        # epsilon guards double rounding in sz*t: a one-longer prefix is
        # always safe (more candidates), a one-shorter prefix loses pairs.
        plen = (
            F.col("__sz")
            - F.ceil(F.col("__sz") * F.lit(float(threshold)) - F.lit(1e-9)).cast("long")
            + 1
        )
        pref = (
            tok.join(freq, "__t")
            .withColumn("__rn", F.row_number().over(rank_w))
            .where(F.col("__rn") <= plen)
        )
        a = pref.select(
            *[F.col(c).alias(f"{c}__a") for c in block_cols],
            F.col(id_col).alias("doc_a"), F.col("__t"),
        )
        b = pref.select(
            *[F.col(c).alias(f"{c}__b") for c in block_cols],
            F.col(id_col).alias("doc_b"), F.col("__t"),
        )
        cand = (
            a.join(b, ["__t"]).where(cond)
            .select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
        )
        verified = (
            cand.join(
                sh.select(F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a")),
                "doc_a",
            ).join(
                sh.select(F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b")),
                "doc_b",
            )
        )
        j = _pair_jaccard(F.col("__sh_a"), F.col("__sh_b"))
        return (
            verified.select("doc_a", "doc_b", j.alias("__j"))
            .where(F.col("__j") >= threshold)
            .select("doc_a", "doc_b", F.col("__j").alias("jaccard"))
        )

    a = tok.select(
        *[F.col(c).alias(f"{c}__a") for c in block_cols],
        F.col(id_col).alias("doc_a"), F.col("__sz").alias("__sza"), F.col("__t"),
    )
    b = tok.select(
        *[F.col(c).alias(f"{c}__b") for c in block_cols],
        F.col(id_col).alias("doc_b"), F.col("__sz").alias("__szb"), F.col("__t"),
    )
    inter = (
        a.join(b, ["__t"])
        .where(cond)
        .groupBy("doc_a", "doc_b", "__sza", "__szb")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    j = F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter"))
    # Filter on the raw value — threshold semantics identical to an oracle
    # that filters unrounded.
    return (
        inter.select("doc_a", "doc_b", j.alias("__j"))
        .where(F.col("__j") >= threshold)
        .select("doc_a", "doc_b", F.col("__j").alias("jaccard"))
    )


def jaccard_pairs_incremental(
    new_df: DataFrame | None,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    n: int = 3,
    threshold: float = 0.5,
    shingle_mode: str = "word",
    prebuilt_new_shingles: DataFrame | None = None,
    prebuilt_corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL n-gram Jaccard: near-dup pairs that INVOLVE the new
    batch — (new × corpus) ∪ (new × new) — never re-comparing the corpus
    against itself.

    This is the production ingest shape at 100 TB: the corpus's shingle
    table already exists on disk (``build_shingle_table``, passed via
    ``prebuilt_corpus_shingles``); a daily batch only pays candidates that
    touch it. Cost scales with |new|·df, not |corpus|²; the corpus-side
    posting list is read, never re-shingled.

    Mechanics: the inverted-index join probes NEW postings against the
    union of corpus postings and new postings, with the residual
    ``other is corpus OR other_id > new_id`` so every qualifying pair is
    generated exactly once (new-new pairs would otherwise double). Result
    ≡ ``jaccard_pairs`` over the full corpus filtered to pairs touching a
    new doc (equivalence tested). Output: ``doc_a, doc_b, jaccard`` with
    ``doc_a < doc_b``.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0")
    sh_new = (
        prebuilt_new_shingles
        if prebuilt_new_shingles is not None
        else _materialize_table(_shingle_table(new_df, text_col, id_col, block_cols, n, shingle_mode))
    )
    sh_old = (
        prebuilt_corpus_shingles
        if prebuilt_corpus_shingles is not None
        else _materialize_table(_shingle_table(corpus_df, text_col, id_col, block_cols, n, shingle_mode))
    )
    # Re-ingest semantics: a doc_id present in BOTH the corpus table and the
    # new batch would otherwise sit on the build side twice (once per tag)
    # and the (id,id,sz,sz) groupBy would merge the copies, doubling the
    # intersection count (jaccard could exceed 1). The new version
    # supersedes the corpus copy: anti-join the corpus shingles against the
    # new batch's ids (small side — broadcastable at any corpus scale).
    sh_old = sh_old.join(
        F.broadcast(sh_new.select(id_col).distinct()), id_col, "left_anti"
    )

    def toks(sh: DataFrame, tag: str, is_new: bool) -> DataFrame:
        return sh.select(
            *[F.col(c).alias(f"{c}__{tag}") for c in block_cols],
            F.col(id_col).alias(f"id__{tag}"),
            F.col("__sz").alias(f"sz__{tag}"),
            F.explode("__sh").alias("__t"),
            F.lit(is_new).alias(f"new__{tag}"),
        )

    probe = toks(sh_new, "x", True)
    build = toks(sh_old, "y", False).unionByName(toks(sh_new, "y", True))
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(f"{c}__x") == F.col(f"{c}__y"))
    cond = cond & (
        (~F.col("new__y")) | (F.col("id__y") > F.col("id__x"))
    )
    inter = (
        probe.join(build, ["__t"])
        .where(cond & (F.col("id__x") != F.col("id__y")))
        .groupBy("id__x", "id__y", "sz__x", "sz__y")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = F.col("__i") / (F.col("sz__x") + F.col("sz__y") - F.col("__i"))
    return (
        inter.select(
            F.least("id__x", "id__y").alias("doc_a"),
            F.greatest("id__x", "id__y").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    mode: str = "remove",
) -> DataFrame:
    """Benchmark decontamination: remove (or tag) training documents that
    share ANY word ``n``-gram with an evaluation/benchmark set — the
    standard n-gram-overlap rule for keeping eval data out of training
    corpora (GPT-3 used 13-grams, PaLM 8-grams; ``n`` is the knob).

    Scale shape: the benchmark shingle set is deduped and BROADCAST (eval
    sets are tiny next to a training corpus), so both passes over the
    corpus are shuffle-free — an exploded broadcast semi-join finds
    contaminated ids, then a broadcast anti-join (``mode='remove'``) drops
    them, or ``mode='tag'`` appends a boolean ``contaminated`` column.
    Shingles compare as xxhash64 longs, like every dedup tier here.
    """
    if mode not in ("remove", "tag"):
        raise ValueError(f"mode must be 'remove' or 'tag', got {mode!r}")
    hashed = lambda col: F.array_distinct(  # noqa: E731
        F.transform(word_shingles(col, n, distinct=False), lambda s: F.xxhash64(s))
    )
    bench_sh = (
        benchmark.select(F.explode(hashed(bench_text_col)).alias("__t")).distinct()
    )
    corpus_sh = corpus.select(F.col(id_col), F.explode(hashed(text_col)).alias("__t"))
    contaminated = (
        corpus_sh.join(F.broadcast(bench_sh), "__t", "left_semi")
        .select(id_col)
        .distinct()
    )
    if mode == "remove":
        return corpus.join(F.broadcast(contaminated), id_col, "left_anti")
    flag = contaminated.withColumn("contaminated", F.lit(True))
    return corpus.join(F.broadcast(flag), id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: array of per-seed minima of xxhash64(seed, shingle)."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(seed), s)))
            for seed in range(num_hashes)
        ]
    )


def lsh_calibrate(
    threshold: float, target_recall: float = 0.9, max_hashes: int = 128
) -> tuple[int, int]:
    """Derive ``(num_hashes, bands)`` from the Jaccard threshold.

    Banded-LSH candidate probability at similarity ``j`` with ``b`` bands of
    ``r`` rows is ``1 - (1 - j^r)^b`` (the S-curve). We pick the LARGEST
    ``r`` whose required band count ``b = ceil(ln(1-recall) / ln(1-t^r))``
    still fits the hash budget — larger ``r`` sharpens the S-curve, i.e.
    fewer false-positive candidates for the same recall at the threshold —
    and recall only improves above ``t``. Raises when even ``r=1`` cannot
    reach the target within ``max_hashes``: that threshold is simply below
    what banded MinHash-LSH can serve at this budget, and silently shipping
    ~0 recall (the round-2 defect: 16/8 banding at t=0.05 ⇒ ~2% candidate
    probability) is worse than failing loudly.
    """
    import math

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 0 < target_recall < 1:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    log_miss = math.log(1.0 - target_recall)
    for r in range(max_hashes, 0, -1):
        p = threshold**r
        if p >= 1.0:
            return r, 1
        if p <= 0.0:  # underflow: no finite band count reaches the target
            continue
        b = math.ceil(log_miss / math.log1p(-p))  # log1p: exact for tiny p
        if b * r <= max_hashes:
            return b * r, b
    raise ValueError(
        f"no (bands, rows) within {max_hashes} hashes reaches recall "
        f"{target_recall} at threshold {threshold}; lower the threshold's "
        "ambition (use jaccard_pairs for exhaustive low-threshold search) "
        "or raise max_hashes"
    )


def lsh_recall_at(threshold: float, bands: int, rows_per_band: int) -> float:
    """Candidate-generation recall of a (bands, rows) scheme at similarity t."""
    return 1.0 - (1.0 - threshold**rows_per_band) ** bands


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
    target_recall: float = 0.9,
    prebuilt_shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle → MinHash signature (Column exprs, no UDF) → split the
    signature into ``bands`` band-hashes → explode → self-equi-join on
    (band index, band hash) → distinct candidate pairs → verify with exact
    Jaccard ≥ threshold.

    Banding is CALIBRATED TO THE THRESHOLD: by default ``(num_hashes,
    bands)`` comes from :func:`lsh_calibrate`, guaranteeing candidate recall
    ≥ ``target_recall`` at ``j = threshold`` (and better above). Passing an
    explicit scheme is allowed but validated against the same bound — a
    scheme whose recall at the threshold is below target raises instead of
    silently missing near-duplicates.

    Scale: candidate generation is shuffle-on-band-key (near-linear); only
    verified candidates pay the array-intersect cost.
    """
    if (num_hashes is None) != (bands is None):
        raise ValueError("pass both num_hashes and bands, or neither (auto-calibrate)")
    if num_hashes is None:
        num_hashes, bands = lsh_calibrate(threshold, target_recall)
    elif num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    else:
        recall = lsh_recall_at(threshold, bands, num_hashes // bands)
        if recall < target_recall:
            raise ValueError(
                f"banding {num_hashes} hashes / {bands} bands has candidate "
                f"recall {recall:.3f} at threshold {threshold} < target "
                f"{target_recall}; use lsh_calibrate or pass a sharper scheme"
            )
    rows_per_band = num_hashes // bands
    # Shingle table is read three times (signature build + two verify joins):
    # materialize it once (temp parquet — no cache to release; at 100 TB
    # this is literally the pipeline's intermediate table).
    # Shingles are stored as xxhash64 LONGS, hashed from the string ONCE:
    # the per-seed MinHash then hashes fixed-width longs instead of
    # re-hashing variable-length strings num_hashes times (the dominant
    # signature cost), and the persisted table shrinks to 8 bytes/shingle.
    # Exact-Jaccard verification over hashed shingles carries the same
    # 2^-64 collision risk jaccard_pairs already accepts.
    # ``prebuilt_shingles`` (any table carrying ``id_col`` + ``__sh`` from
    # build_shingle_table with the same n/mode) lets several dedup tiers
    # amortize the one shared linear pass.
    if prebuilt_shingles is not None:
        sh = prebuilt_shingles.select(F.col(id_col).alias("doc"), F.col("__sh"))
    else:
        sh = _materialize_table(
            _ensure_parallelism(df.select(F.col(id_col), F.col(text_col)), id_col)
            .select(
                F.col(id_col).alias("doc"),
                F.array_distinct(
                    F.transform(word_shingles(text_col, n, distinct=False), lambda s: F.xxhash64(s))
                ).alias("__sh"),
            )
            .where(F.size("__sh") > 0)
        )
    # Signature via explode + hash-aggregate mins, NOT per-seed array
    # traversals: the 50-odd per-seed minima compute columnar inside one
    # partial+final HashAggregate (map-side combine ships per-doc partials
    # only — num_hashes longs per doc), where the array formulation
    # allocates num_hashes transformed copies of the shingle array per row.
    # Measured 2x faster at sf0.1; at 100 TB the partial aggregation is
    # also what keeps the exchange narrow.
    tok = sh.select("doc", F.explode("__sh").alias("__t"))
    sig = tok.groupBy("doc").agg(
        *[
            F.min(F.xxhash64(F.lit(seed), F.col("__t"))).alias(f"__h{seed}")
            for seed in range(num_hashes)
        ]
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(*[F.col(f"__h{i * rows_per_band + r}") for r in range(rows_per_band)]).alias("bh"),
            )
            for i in range(bands)
        ]
    )
    # Band join on SLIM rows (doc, band-key) only — never shuffle the shingle
    # arrays per band; candidates re-join the shingle table for verification.
    banded = sig.select("doc", F.explode(band_arr).alias("b"))
    a = banded.select(F.col("doc").alias("doc_a"), "b")
    b = banded.select(F.col("doc").alias("doc_b"), "b")
    cand = (
        a.join(b, ["b"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = (
        cand.join(sh.select(F.col("doc").alias("doc_a"), F.col("__sh").alias("__sh_a")), "doc_a")
        .join(sh.select(F.col("doc").alias("doc_b"), F.col("__sh").alias("__sh_b")), "doc_b")
    )
    j = _pair_jaccard(F.col("__sh_a"), F.col("__sh_b"))
    return (
        verified.select("doc_a", "doc_b", j.alias("__j"))
        .where(F.col("__j") >= threshold)
        .select("doc_a", "doc_b", F.col("__j").alias("jaccard"))
    )


def _make_simhash64(hash_name: str = "blake2b"):
    """Build the SimHash pandas UDF for a given per-token hash.

    ``blake2b`` (default) is the production choice (keyed, fast, 8-byte
    digest). ``md5`` exists for cross-engine verification: DuckDB's ``md5``
    is bit-identical, so an oracle can replay the exact fingerprint
    (first 8 digest bytes, big-endian — ``('0x'||substr(md5(tok),1,16))
    ::UBIGINT``) and the Hamming-pairs answer becomes hash-comparable
    instead of rows-only. Same algorithm either way; only the token hash
    differs."""
    import hashlib

    if hash_name not in ("blake2b", "md5"):
        raise ValueError(f"hash_name must be 'blake2b' or 'md5', got {hash_name!r}")

    def tok_hashes(vocab) -> "np.ndarray":
        import numpy as np

        if hash_name == "md5":
            it = (
                int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                for w in vocab
            )
        else:
            it = (
                int.from_bytes(
                    hashlib.blake2b(w.encode(), digest_size=8).digest(), "big"
                )
                for w in vocab
            )
        return np.fromiter(it, dtype=np.uint64, count=len(vocab))

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import numpy as np

        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        doc_ids: list = []
        words: list = []
        for i, t in enumerate(texts):
            ws = set((t or "").split())
            doc_ids.extend([i] * len(ws))
            words.extend(ws)
        if not words:
            return pd.Series(out)
        codes, vocab = pd.factorize(pd.Series(words, dtype=object))
        hs = tok_hashes(vocab)
        doc_idx = np.asarray(doc_ids, dtype=np.intp)
        hcodes = hs[codes]  # per-occurrence hash (1-D gather)
        votes = np.empty((n, 64), dtype=np.int64)
        for b in range(64):
            votes[:, b] = np.bincount(
                doc_idx, weights=(hcodes >> np.uint64(b)) & np.uint64(1), minlength=n
            )
        counts = np.bincount(doc_idx, minlength=n)
        # Bit set iff strictly more ones than zeros among the doc's token
        # hashes (ones*2 > count) — identical to the per-doc votes>0 rule.
        maj = (votes * 2) > counts[:, None]
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        sims = (maj.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(sims.view(np.int64))

    return _simhash


#: Default production UDF — blake2b token hash (see _make_simhash64; the
#: batch-vectorized factorize + bincount machinery and its rationale live
#: there, shared by both hash variants).
_simhash64 = _make_simhash64("blake2b")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_name: str = "blake2b",
) -> DataFrame:
    """Per-document 64-bit SimHash fingerprint. ``hash_name='md5'`` swaps
    the token hash for one DuckDB can replay bit-for-bit (oracle mode).

    Round-16 optimization note: a pure-JVM md5 mode (built-in ``md5`` +
    ``conv`` + 64 per-bit sum aggregates) was built, proven bit-identical,
    and MEASURED SLOWER than this vectorized pandas UDF at sf0.1 — the
    64-aggregate hash-agg alone costs 0.73 s warm vs 0.52 s for the whole
    UDF pass (the UDF hashes only the factorized vocab and runs bincount
    per bit). Guide §1.1's empirical loop wins: the UDF stays."""
    udf = _simhash64 if hash_name == "blake2b" else _make_simhash64(hash_name)
    return _ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), udf(F.col(text_col)).alias("simhash")
    )


def _block_combo_keys(sim_col: F.Column, max_hamming: int) -> F.Column:
    """Array of packed combo-key longs — Manku/Jain/Sarma-style multi-block
    keys (Detecting Near-Duplicates for Web Crawling, WWW'07).

    The 64-bit fingerprint is split into ``B = max_hamming + 3`` blocks; any
    pair within Hamming ``max_hamming`` leaves at least 3 blocks untouched
    (pigeonhole), so it agrees exactly on at least one 3-block combination.
    Joining on every C(B, 3) combo key (~3·64/B ≈ 32 bits for B=6) is
    therefore exact-complete, with keys long enough to discriminate even on
    shared-vocabulary corpora where single 16-bit bands collide massively
    (measured on the sf0.1 word-soup corpus: 2.92 M 16-bit-band join rows →
    162 k combo-join rows over distinct fingerprints for the same exact
    answer). Each key packs (block_i, block_j, block_k, combo_id) into ONE
    long (16-bit lanes + combo id at bit 48) — a flat long join key shuffles
    and compares cheaper than a struct.
    """
    n_blocks = max_hamming + 3
    base, rem = divmod(64, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = [
        F.shiftright(sim_col, offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_blocks)
    ]
    combos = list(itertools.combinations(range(n_blocks), 3))
    keys = []
    for cid, idxs in enumerate(combos):
        k = F.lit(cid << 48)
        for pos, i in enumerate(idxs):
            k = k.bitwiseOR(F.shiftleft(blocks[i], pos * 16))
        keys.append(k)
    return F.array(*keys)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_name: str = "blake2b",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming`` —
    exact (complete recall), never a cross join.

    Runs at the DISTINCT-FINGERPRINT grain: exact-duplicate documents share
    a fingerprint, so they would otherwise multiply every candidate join row
    (and every combo key) by the cluster size. The plan is three cheap
    equi-joins:

    1. same-fingerprint doc pairs — a self-equi-join of the fingerprint
       table on ``simhash`` (Hamming 0 by construction);
    2. distinct fingerprints combo-joined on the C(B,3) packed keys of
       ``_block_combo_keys`` (exact-complete by pigeonhole; ~32-bit keys
       instead of 16-bit bands → 18× fewer candidate rows on the measured
       shared-vocab corpus), verified with ``bit_count(xor)`` BEFORE the
       pair dedup so only true survivors pay the dropDuplicates shuffle;
    3. the surviving fingerprint pairs expanded back to doc pairs via two
       equi-joins against the fingerprint table (output-bound: each join
       row is an emitted pair).

    Bucket-frequency capping was evaluated and rejected: on the sf0.1 corpus
    a cap of 200 loses 45% of true pairs (hot buckets are where the true
    pairs live), so completeness is kept via longer keys + the distinct-fp
    grain instead. At 100 TB you would also write the fingerprint table once
    and combo-join from there instead of recomputing per query.
    """
    # Materialize the fingerprint table GROUPED at the distinct-fingerprint
    # grain — (simhash, sorted doc array) — because every downstream
    # consumer wants exactly that shape (round-16, guide §2.4): the combo
    # sides need the distinct fingerprints (now just a scan — the two
    # duplicated distinct-aggregate exchange chains in the old plan are
    # gone), the same-fingerprint pairs fall out of each row's array with
    # no self-join at all, and the pair expansion reads the doc lists it
    # would otherwise join for. Plan went 12 Exchange refs → 5, warm entry
    # 1.98 s → ~1.5 s at sf0.1. The doc array is bounded by the largest
    # exact-duplicate cluster — the same n² a self-equi-join on simhash
    # already implied, now in one task per fingerprint (a corpus with
    # million-doc exact-dup clusters should run exact_dedup first, which
    # is also what keeps its combo join candidate-bounded).
    grouped = _materialize_table(
        simhash(df, text_col, id_col, hash_name)
        .withColumnRenamed(id_col, "doc")
        .groupBy("simhash")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
    )
    docs_arr = F.col("docs")
    n = F.size(docs_arr)
    in_group_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at(docs_arr, i).alias("doc_a"),
                    F.element_at(docs_arr, j).alias("doc_b"),
                ),
            ),
        )
    )
    same = (
        grouped.where(n >= 2)
        .select(F.explode(in_group_pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", F.lit(0).alias("hamming"))
    )
    if max_hamming == 0:
        return same

    keyed = grouped.select(
        "simhash", F.explode(_block_combo_keys(F.col("simhash"), max_hamming)).alias("b")
    )
    a = keyed.select(F.col("simhash").alias("sh_a"), "b")
    b = keyed.select(F.col("simhash").alias("sh_b"), "b")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    fp_pairs = (
        a.join(b, ["b"])
        .where(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["sh_a", "sh_b"])
    )
    cross = (
        fp_pairs.join(
            grouped.select(F.col("simhash").alias("sh_a"), F.col("docs").alias("__das")),
            "sh_a",
        )
        .join(
            grouped.select(F.col("simhash").alias("sh_b"), F.col("docs").alias("__dbs")),
            "sh_b",
        )
        .select(
            F.explode("__das").alias("__da"), F.col("__dbs"), F.col("hamming")
        )
        .select(
            F.col("__da"), F.explode("__dbs").alias("__db"), F.col("hamming")
        )
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def cluster_duplicates(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: assign every node the
    minimum id reachable through the pair graph (the cluster representative).

    Iterative min-label propagation on DataFrames: each round, every node
    takes the min of its own label and its neighbors' labels; stops at
    fixpoint. Rounds needed ≈ graph diameter (≤ log n with doubling data);
    each round is one shuffle over the edge list — the standard large-graph
    CC shape (no driver-side graph materialization).

    Returns ``(node, cluster)`` where cluster = min doc id of the component.
    """
    # localCheckpoint (not persist): iterative self-joins double the logical
    # plan each round, and Catalyst re-analyzes the WHOLE lineage even when
    # data is cached — analysis cost explodes exponentially by ~iteration 8.
    # Checkpointing truncates lineage so every round plans against a flat
    # materialized relation. (On a cluster with a checkpoint dir, use
    # checkpoint() for fault tolerance; local semantics are identical.)
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
        .localCheckpoint()
    )
    # Round-16 optimization (measured at sf0.1 on the week-one purchase
    # graph, 14 rounds → 6, entry 6.5 s → ~4 s):
    # 1. POINTER JUMPING — after the one-hop neighbor-min step, each node
    #    additionally takes its (new) label's label. Labels only ever
    #    decrease and stay within the component, so the fixpoint (per-
    #    component min) is unchanged, but long chains collapse in
    #    O(log diameter) rounds instead of O(diameter) — the classic
    #    shortcutting trick from the large-graph CC literature. The jump
    #    self-joins the CHECKPOINTED step output, so it never recomputes
    #    the edge join.
    # 2. The convergence check rides along as a flag column computed in
    #    the same checkpointed job (old label carried through) instead of
    #    re-joining new vs old labels — one fewer shuffle per round.
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nbr_min"), F.col("cluster"))
                ).alias("cluster"),
                F.col("cluster").alias("__old"),
            )
            .localCheckpoint()
        )
        rep = stepped.select(
            F.col("node").alias("__rep"), F.col("cluster").alias("__rep_cluster")
        )
        jumped = (
            stepped.join(rep, stepped.cluster == rep.__rep, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("__rep_cluster"), F.col("cluster")),
                ).alias("cluster"),
                F.col("__old"),
            )
            .withColumn("__changed", F.col("cluster") != F.col("__old"))
            .drop("__old")
            .localCheckpoint()
        )
        changed = jumped.where(F.col("__changed")).limit(1).count()
        labels = jumped.drop("__changed")
        if changed == 0:
            break
    else:
        # Exhausted max_iterations without reaching fixpoint: labels are WRONG
        # for any component whose diameter exceeds the round budget. Fail loud
        # rather than silently returning partial clusters.
        raise RuntimeError(
            f"cluster_duplicates did not converge within {max_iterations} "
            "iterations (component diameter exceeds the budget); raise "
            "max_iterations"
        )
    return labels


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_cols: Sequence[str] = (),
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks.

    Exact within blocks (pass LSH buckets or cluster labels as ``block_cols``
    at scale). Cosine is computed in double precision via zip_with/aggregate —
    JVM-side, no UDF. Each vector's norm is computed ONCE per row before the
    join (a per-pair norm would redo the same O(dim) fold for every partner —
    at k pairs per vector that's 2k redundant folds); only the dot product is
    inherently per-pair.
    """
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("__v"), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    v = df.select(
        *block_cols, F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__n", norm)
    a = v.select(
        *[F.col(c).alias(f"{c}__a") for c in block_cols],
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = v.select(
        *[F.col(c).alias(f"{c}__b") for c in block_cols],
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}__a") == F.col(f"{c}__b"))
    dot = F.aggregate(
        F.zip_with(F.col("__va"), F.col("__vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, cond)
        .select("id_a", "id_b", cos.alias("__c"))
        .where(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.col("__c").alias("cosine"))
    )


def substring_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: Sequence[str] = (),
    gram_len: int = 25,
    min_len: int = 50,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact duplicate-substring pairs: documents sharing a verbatim
    character run of at least ``min_len`` chars (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — the ExactSubstr criterion).

    The paper builds a corpus-wide suffix array, which is inherently a
    single-machine (or sorted-global-order) structure. The distributed
    re-expression: a substring of length ``>= min_len`` is shared iff the
    two documents share a *diagonal run* of position-stamped character
    ``gram_len``-grams — grams matching at positions ``(ia, ib)`` and
    ``(ia+1, ib+1)`` extend the same span, so runs are islands over the
    match diagonal ``ia - ib``, and a run of ``c`` consecutive grams
    certifies a shared span of exactly ``c + gram_len - 1`` chars. That
    turns suffix-array intersection into the engine's native shapes: one
    linear shingling pass, one equi-join on the gram hash, one per-pair
    sorted fold over (diagonal, position). Result is EXACT (up to
    xxhash64 gram collisions, 2^-64 — same contract as
    :func:`jaccard_pairs`), not approximate like MinHash/SimHash.

    Scale shape (100 TB): the gram table is slim (id, pos, 8-byte hash) and
    materialized once; the join is the same inverted-index equi-join as
    ``jaccard_pairs`` — only colliding grams generate candidates, hot grams
    (boilerplate) are the documented skew risk (AQE skew-join; rarest-first
    prefix filtering does NOT apply here since every position matters, so
    the escape hatch for pathological corpora is a df-capped gram blocklist,
    which can only LOSE spans whose every gram is hot). The island folds
    walk one DIAGONAL's sorted position list at a time — bounded by the
    shorter document's gram count, the same bound the pre-r16 per-(pair,
    diagonal) window partitions had.

    Round-16/17 shape notes (guide §2.4/§4): (a) gram hashes are computed
    in a plain projection AFTER exploding the position array — inside the
    old ``transform`` lambda the substr+xxhash64 ran INTERPRETED per gram
    (HOFs are CodegenFallback); exploding first keeps the hash in
    whole-stage codegen (measured 2.0 → 1.6 s for the gram pass at sf0.1,
    bit-identical output). (b) The gaps-and-islands step is an
    ``aggregate()`` fold over each (pair, diagonal)'s sorted ia list — no
    row_number window, no sort of the match table — followed by a plain
    map-side-combinable max/sum roll-up to the pair grain. (The r16
    variant folded ONE per-pair list of (diag, ia) structs: one exchange
    fewer, but the collect_list buffer was O(matches-per-pair) =
    O(n_a·n_b) on repetitive text and cannot spill mid-array — the r17
    two-level fold restores the window formulation's memory bound at a
    measured-equal runtime, 0 diff rows.)

    Requires ``min_len >= gram_len`` (a span shorter than one gram is
    invisible to the index). Output: ``doc_a, doc_b (doc_a < doc_b),
    max_span`` (chars of the longest shared run), ``n_spans`` (number of
    distinct maximal shared runs, including those shorter than
    ``min_len`` but at least ``gram_len``).
    """
    if min_len < gram_len:
        raise ValueError(f"min_len ({min_len}) must be >= gram_len ({gram_len})")
    L = int(gram_len)
    text = F.col(text_col)
    # Position-stamped gram hashes: docs shorter than one gram contribute
    # nothing (an unguarded sequence(1, n-L+1) would DESCEND for n < L;
    # explode of the empty array emits no rows). The hash is computed in
    # the projection ABOVE the explode, not inside a transform() lambda,
    # so substr+xxhash64 stay in whole-stage codegen (docstring note a).
    positions = F.when(
        F.length(text) >= L, F.sequence(F.lit(1), F.length(text) - (L - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = _materialize_table(
        df.select(
            *block_cols,
            F.col(id_col).alias("__id"),
            text.alias("__t"),
            F.explode(positions).alias("__i"),
        ).select(
            *block_cols,
            "__id",
            "__i",
            F.xxhash64(F.col("__t").substr(F.col("__i"), F.lit(L))).alias("__h"),
        ),
        prefix="zas_substr_grams_",
    )
    if max_gram_df is not None:
        # The pathological-corpus hatch the module docstring promises:
        # boilerplate grams shared by more than max_gram_df documents are
        # dropped BEFORE the join (anti-join against a tiny hot-gram
        # table), bounding candidates per gram at max_gram_df². CAN ONLY
        # LOSE spans — and only those in which every covering gram is hot
        # (a single sub-threshold gram inside the span keeps a shorter
        # diagonal run alive); never fabricates one. Exactness is traded
        # per the Lee et al. boilerplate discussion, not silently: the
        # caller opts in.
        if max_gram_df < 2:
            raise ValueError("max_gram_df must be >= 2 (pairs need 2 docs)")
        hot = (
            grams.groupBy(*block_cols, "__h")
            .agg(F.count_distinct("__id").alias("__df"))
            .where(F.col("__df") > max_gram_df)
            .select(*block_cols, "__h")
        )
        grams = grams.join(
            F.broadcast(hot), [*block_cols, "__h"], "left_anti"
        )
    a = grams.select(
        *[F.col(c).alias(f"{c}__a") for c in block_cols],
        F.col("__id").alias("doc_a"), F.col("__i").alias("__ia"), "__h",
    )
    b = grams.select(
        *[F.col(c).alias(f"{c}__b") for c in block_cols],
        F.col("__id").alias("doc_b"), F.col("__i").alias("__ib"), F.col("__h").alias("__hb"),
    )
    cond = (F.col("__h") == F.col("__hb")) & (F.col("doc_a") < F.col("doc_b"))
    for c in block_cols:
        cond = cond & (F.col(f"{c}__a") == F.col(f"{c}__b"))
    matches = a.join(b, cond).select(
        "doc_a", "doc_b", "__ia", (F.col("__ia") - F.col("__ib")).alias("__diag")
    )
    # Islands over each match diagonal, folded at the (pair, DIAGONAL)
    # grain (round-17 ADVICE fix): a run never crosses diagonals, so the
    # island walk needs only one diagonal's sorted ia list — whose length
    # IS bounded by the shorter document's gram count (each ia appears at
    # most once per diagonal). The r16 per-PAIR collect_list buffered ALL
    # of a pair's matches in one un-spillable array: a gram repeated p
    # times in doc_a and q times in doc_b contributes p·q rows, so the
    # per-pair buffer was O(n_a·n_b) on repetitive corpora — the exact
    # blowup the hot-gram blocklist documents. The per-pair roll-up of
    # (mx, n) is a plain max/sum aggregate: map-side combinable, constant
    # per-group state, no buffer at all.
    one = F.lit(1).cast("long")
    diag_fold = F.aggregate(
        F.sort_array(F.collect_list(F.col("__ia").cast("long"))),
        F.struct(
            F.lit(None).cast("long").alias("pi"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("mx"),
            F.lit(0).cast("long").alias("n"),
        ),
        lambda acc, i: F.struct(
            i.alias("pi"),
            F.when(acc["pi"] == i - 1, acc["run"] + one).otherwise(one).alias("run"),
            F.greatest(
                acc["mx"],
                F.when(acc["pi"] == i - 1, acc["run"] + one).otherwise(one),
            ).alias("mx"),
            (
                acc["n"]
                + F.when(acc["pi"] == i - 1, F.lit(0).cast("long")).otherwise(one)
            ).alias("n"),
        ),
        lambda acc: F.struct(acc["mx"].alias("mx"), acc["n"].alias("n")),
    )
    per_diag = (
        matches.groupBy("doc_a", "doc_b", "__diag")
        .agg(diag_fold.alias("__r"))
        .select("doc_a", "doc_b", F.col("__r.mx").alias("__mx"), F.col("__r.n").alias("__n"))
    )
    return (
        per_diag.groupBy("doc_a", "doc_b")
        .agg(F.max("__mx").alias("__mx"), F.sum("__n").alias("__n"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("__mx") + (L - 1)).cast("long").alias("max_span"),
            F.col("__n").cast("long").alias("n_spans"),
        )
        .where(F.col("max_span") >= int(min_len))
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Paragraph-grain exact dedup WITH document reassembly — the real
    pipeline stage between line-level boilerplate removal (cleaning.py)
    and doc-level dedup: split every document into paragraphs on ``sep``
    (stable ``(doc_id, idx)`` keys), strike duplicate paragraphs
    CORPUS-WIDE keeping the first occurrence (min ``(doc_id, idx)`` per
    content digest — the deterministic keep-first policy), and reassemble
    each document from its surviving paragraphs in original order.

    Returns one row per input document:
    ``(id, text, n_kept, n_dropped)`` — ``text`` is the surviving
    paragraphs re-joined with ``sep`` (byte-exact: paragraphs are hashed
    and reassembled UNTRIMMED), ``n_dropped`` counts struck duplicates.
    Whitespace-only paragraphs are removed unconditionally (they carry no
    content and would otherwise all collapse onto one global keeper); the
    EMPTY-DOCUMENT CONTRACT is explicit: a document whose every paragraph
    was blank or struck still emits its row with ``text = ''`` and
    ``n_kept = 0``, so downstream length filters see it rather than
    silently losing the id.

    Scale shape: keeper selection is a map-side-combinable
    ``min(struct(id, idx))`` AGGREGATE over 32-byte sha2 digests — a
    corpus-wide boilerplate paragraph repeated 10^9 times partially
    aggregates on every mapper instead of sorting on one hot reducer
    (why this is an agg + join, not a row_number window over the digest).
    The join back is 1-keeper-row × N-occurrences per digest; AQE's skew
    split handles the hot digests. Reassembly is one groupBy(id) whose
    shuffle carries each surviving paragraph exactly once.
    """
    import re as _re

    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "__idx", "__para"
        ),
    ).where(
        # whole whitespace CLASS, not F.trim (ASCII space only): a tab/
        # newline/NBSP-only paragraph carries no content and would
        # otherwise collapse corpus-wide onto one hot keeper digest —
        # the exact blank-paragraph hot key this filter exists to prevent
        # (round-9 ADVICE). Explicit char class so Java regex and the
        # oracle's RE2 agree byte-for-byte (\s differs between them on
        # vertical tab).
        F.regexp_replace(F.col("__para"), r"[ \t\n\r\f\x0B\u00A0]", "") != ""
    )
    hashed = paras.select(
        F.col(id_col),
        "__idx",
        "__para",
        F.sha2(F.col("__para"), 256).alias("__digest"),
    )
    keepers = hashed.groupBy("__digest").agg(
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("__idx").alias("kidx"))).alias(
            "__keep"
        )
    )
    marked = hashed.join(keepers, "__digest").withColumn(
        "__kept",
        (F.col(id_col) == F.col("__keep.kid")) & (F.col("__idx") == F.col("__keep.kidx")),
    )
    per_doc = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__kept"), F.struct("__idx", "__para"))
                    )
                ),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("__text"),
        F.sum(F.col("__kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("__kept")).cast("long")).alias("n_dropped"),
    )
    all_ids = df.select(id_col).distinct()
    return (
        all_ids.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
    )
