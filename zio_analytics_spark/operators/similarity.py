"""[EXT] Embedding similarity search (SURVEY.md §2.4 tail).

- ``cosine_similarity`` — a Column expression (zip_with + aggregate, double
  precision): the dot/norm math stays JVM-side in whole-stage codegen.
- ``brute_force_topk`` — exact top-k against a single query vector: broadcast
  the query, one scan, TakeOrderedAndProject. The baseline and the verifier.
- ``lsh_topk`` — random-hyperplane LSH: 2^p sign buckets; query probes its own
  bucket (plus Hamming-1 neighbors) so the scan touches ~1/2^p of the data.
  The scale path; approximate — recall is tested against brute force.
- ``ivf_topk`` — IVF (inverted-file) ANN: K data-sampled centroids, every
  vector assigned to its nearest cell by an Arrow-batched numpy matmul
  (``pandas_udf``), query probes the ``nprobe`` nearest cells and runs exact
  cosine inside them. At 100 TB the cell id is precomputed once and the table
  is partitioned by it, so a query reads only ``nprobe/K`` of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cosine_similarity",
    "brute_force_topk",
    "hyperplane_bucket",
    "lsh_topk",
    "train_ivf_centroids",
    "ivf_cell_udf",
    "ivf_probes",
    "ivf_topk",
    "quantize_int8",
    "rp_signs",
    "random_project",
    "mmr_select",
]


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, computed JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sim_col: str = "sim",
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query_vec``.

    The query vector is a literal array (broadcast to every task for free);
    ordering ties break on ``id_col`` so results are deterministic.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = cosine_similarity(F.col(vec_col).cast("array<double>"), q)
    sim = F.round(sim, round_to) if round_to is not None else sim
    return (
        df.select(F.col(id_col), sim.alias(sim_col))
        .orderBy(F.col(sim_col).desc(), F.col(id_col))
        .limit(k)
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket id from random hyperplanes: bit i = (vec · plane_i) > 0."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(F.zip_with(vec, plane, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side, tiny)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the scan to the query's LSH bucket
    (plus buckets within Hamming ``probe_hamming`` of it), then exact cosine.

    At 100 TB the bucket column is precomputed/partitioned-by so a query
    reads only matching partitions; here it's computed inline.
    """
    dim = len(query_vec)
    planes = make_planes(dim, n_planes, seed)

    # Driver-side bucket of the query (tiny math, no Spark needed).
    qb = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) > 0:
            qb |= 1 << i
    probes = [qb]
    if probe_hamming >= 1:
        probes += [qb ^ (1 << i) for i in range(n_planes)]

    v = df.withColumn("__bucket", hyperplane_bucket(F.col(vec_col).cast("array<double>"), planes))
    cand = v.where(F.col("__bucket").isin(probes))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
) -> np.ndarray:
    """Spherical-k-means centroids (unit-norm, shape ``(n_cells, dim)``),
    trained driver-side on a fixed-size deterministic sample (lowest
    ``xxhash64(id)`` — uniform and seed-free, so the sample stays bounded no
    matter the table size). Deterministic: no RNG anywhere."""
    sample_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(max(64 * n_cells, 1024))
        .collect()
    )
    S = np.array([[float(x) for x in r[1]] for r in sample_rows], dtype=np.float64)
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-12)
    Cn = Sn[:n_cells].copy()
    for _ in range(8):  # Lloyd iterations
        assign = np.argmax(Sn @ Cn.T, axis=1)
        for c in range(n_cells):
            members = Sn[assign == c]
            if len(members):
                Cn[c] = members.mean(axis=0)
        Cn = Cn / np.maximum(np.linalg.norm(Cn, axis=1, keepdims=True), 1e-12)
    return Cn


def ivf_cell_udf(Cn: np.ndarray):
    """Arrow-batched nearest-centroid assignment (vectorized numpy matmul —
    the 10-100x-over-row-UDF fast path); centroids ride along as a closure
    (broadcast to workers once per stage)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_of(embs: pd.Series) -> pd.Series:
        M = np.array(embs.tolist(), dtype=np.float64)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(Mn @ Cn.T, axis=1).astype(np.int32))

    return cell_of


def ivf_probes(Cn: np.ndarray, query_vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` centroid cells nearest to the query (driver-side)."""
    q = np.asarray(query_vec, dtype=np.float64)
    cell_sims = Cn @ (q / np.linalg.norm(q))
    return [int(i) for i in np.argsort(-cell_sims)[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) index, computed INLINE —
    exploration mode: trains centroids, assigns every row's cell, probes
    the ``nprobe`` nearest cells, exact cosine inside them. For repeated
    queries use operators/ann_index.py: ``build_ivf_index`` precomputes the
    cell once and partitions the table by it, so a query scans only the
    probed partitions instead of re-assigning the whole table.
    """
    Cn = train_ivf_centroids(df, vec_col, id_col, n_cells)
    cell_of = ivf_cell_udf(Cn)
    probes = ivf_probes(Cn, query_vec, nprobe)
    cand = df.withColumn("__cell", cell_of(F.col(vec_col))).where(F.col("__cell").isin(probes))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Per-dimension int8 scalar quantization — the standard 4× vector-
    storage compression for ANN at scale (float32 → uint8 codes + a
    k·d-sized codebook of per-dim (min, scale)).

    Pass 1: per-dimension global min/max via ``posexplode`` + a
    64-group aggregate (2·d cells — broadcast-sized driver state, like
    k-means centroids; map-side partial aggregation collapses each
    partition to d rows before the shuffle, so this is still one linear
    pass at 100 TB). Pass 2: codes = round((x − min_d) / scale_d)
    clamped to [0, 255], inlined as literals (codegen, no UDF). A
    constant dimension (max == min) maps to code 0 by convention.
    Deterministic: the only float ops are one subtract, one divide, one
    half-up round — both engines replay them identically.

    Round-16 plan-cost notes (guide §1.2 step 2): the old stats pass was
    one aggregate of 2·d separate ``min(v[i])``/``max(v[i])`` columns —
    at d=64 the 128-expression plan cost ~4.5 s to analyze+compile per
    call on a 2k-row table (measured; values identical to the exploded
    shape). The code projection is built as ONE ``selectExpr`` string
    (driver-side py4j construction of 64 nested Column trees measured
    2.6 s vs 0.35 s for the SQL parse; ``repr`` round-trips each double
    literal exactly, proven 0 diff rows vs the Column form). Non-finite
    codebook values fall back to the Column form with ``F.lit``.

    Returns ``(id_col, codes array<int>)``; the codebook is the
    (min, scale) literal pairs — recover x̂ = min + code·scale with
    max error scale/2 per dimension.
    """
    import math

    # column references are built as fully-quoted identifiers (backticks
    # doubled) — a bare F.col()/df[...] PARSES the name and rejects
    # identifier metacharacters like a stray backtick (round-17 ADVICE fix)
    def _qcol(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    if dim is None:
        dim = len(df.select(_qcol(vec_col)).first()[0])
    v = _qcol(vec_col)
    stats_rows = (
        df.select(F.posexplode(v.cast("array<double>")).alias("__dim", "__x"))
        .groupBy("__dim")
        .agg(F.min("__x").alias("lo"), F.max("__x").alias("hi"))
        .collect()
    )
    lohi = {int(r["__dim"]): (r["lo"], r["hi"]) for r in stats_rows}
    finite = all(
        i in lohi
        and lohi[i][0] is not None
        and math.isfinite(lohi[i][0])
        and math.isfinite(lohi[i][1])
        for i in range(dim)
    )
    if finite:
        # escape backticks in the interpolated identifiers — a column name
        # containing ` would otherwise break the parse or inject expression
        # text where the Column form handled any name (round-17 ADVICE fix)
        vq = vec_col.replace("`", "``")
        iq = id_col.replace("`", "``")
        exprs = []
        for i in range(dim):
            lo, hi = float(lohi[i][0]), float(lohi[i][1])
            if hi == lo:
                exprs.append("0")
                continue
            scale = (hi - lo) / 255.0
            exprs.append(
                f"CAST(least(greatest(round((CAST(`{vq}`[{i}] AS DOUBLE)"
                f" - CAST('{lo!r}' AS DOUBLE)) / CAST('{scale!r}' AS DOUBLE),"
                f" 0), 0.0D), 255.0D) AS INT)"
            )
        return df.selectExpr(
            f"`{iq}`", f"array({', '.join(exprs)}) AS codes"
        )
    codes = []
    for i in range(dim):
        lo, hi = float(lohi[i][0]), float(lohi[i][1])
        if hi == lo:
            codes.append(F.lit(0))
            continue
        scale = (hi - lo) / 255.0
        q = F.round((v[i].cast("double") - F.lit(lo)) / F.lit(scale), 0)
        codes.append(
            F.least(F.greatest(q, F.lit(0.0)), F.lit(255.0)).cast("int")
        )
    return df.select(_qcol(id_col).alias(id_col), F.array(*codes).alias("codes"))


def rp_signs(dim: int, k: int, seed: str = "rp") -> list[list[int]]:
    """Deterministic ±1 projection matrix rows (Achlioptas 2001, PODS:
    Rademacher entries satisfy the Johnson–Lindenstrauss lemma with the
    same distortion bounds as Gaussians — and, being ±1, the projection
    is adds/subtracts only). Entry (j, i) is the parity of
    ``md5('<seed>|i|j')`` — engine-identical, so a SQL oracle derives the
    exact same matrix; no RNG state to ship."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()[:8], 16) % 2
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def random_project(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int = 16,
    seed: str = "rp",
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project the
    ``dim``-dim embedding column onto ``k`` deterministic ±1 directions,
    scaled by 1/√k so expected norms (hence cosines, approximately) are
    preserved. The dimensionality-REDUCTION rung of the ANN ladder —
    upstream of LSH/IVF/PQ when the raw dimension is the cost driver
    (e.g. 4096-dim model embeddings cut to 64 before indexing).

    All codegen: each output component is one ``zip_with``/``aggregate``
    dot product against a literal sign array (k·d literal numbers — well
    under the round-7 plan-size ceiling for the shipped shapes; at
    k·d ≳ 10⁵ the literals belong in closure state, as in the mapInPandas
    stage k-means and PQ assign through, ``clustering._quantize``).
    One scan, no shuffle, no UDF; the sign matrix never exists as data —
    it is pinned by the md5 derivation (:func:`rp_signs`), which is what
    lets the oracle replay every output coordinate exactly.
    """
    signs = rp_signs(dim, k, seed)
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    scale = float(k) ** 0.5
    comps = [
        F.aggregate(
            F.zip_with(
                x,
                F.array(*[F.lit(float(s)) for s in row]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.lit(scale)
        for row in signs
    ]
    return df.withColumn(out_col, F.array(*comps))


def mmr_select(
    df: DataFrame,
    query_vec: list[float],
    k: int = 6,
    pool: int = 40,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "DataFrame":
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998, SIGIR —
    public algorithm): diversified top-k retrieval, the standard fix for
    RAG context windows full of near-duplicate passages. Greedily pick
    the candidate maximizing ``λ·rel − (1−λ)·max_sim_to_selected`` — high
    relevance, penalized by redundancy against what's already chosen
    (step 1 is pure relevance: the penalty term is empty).

    Scale split, stated honestly: the DISTRIBUTED part is candidate-pool
    scoring — one scan computing query-cosine inside codegen (the
    :func:`cosine_similarity` HOF) and a TakeOrdered cut to ``pool`` rows
    (rel DESC, id tiebreak). The greedy walk then runs on the driver over
    the pool's (pool × dim) matrix — BOUNDED state, the same discipline
    as k-means codebooks; pool=1000 at d=768 is 6 MB. At 100 TB the scan
    dominates and the driver part is constant.

    Ties argmax to the lowest id. Scores stay RAW doubles end-to-end —
    numpy and SQL agree at ulp level on this arithmetic, and rounding
    before an argmax would MANUFACTURE cross-engine boundary flips.
    Returns one row per step: ``(step, vec_id, rel, mmr)``."""
    import numpy as np

    rows = (
        brute_force_topk(df, query_vec, k=pool, vec_col=vec_col, id_col=id_col)
        .join(df.select(id_col, vec_col), id_col)
        .orderBy(F.col("sim").desc(), id_col)
        .collect()
    )
    ids = [r[id_col] for r in rows]
    rel = np.array([float(r["sim"]) for r in rows])
    V = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    norms = np.sqrt((V * V).sum(axis=1))
    selected: list[int] = []
    out = []
    for step in range(1, min(k, len(ids)) + 1):
        best_i, best_score = None, None
        for i in range(len(ids)):
            if i in selected:
                continue
            if selected:
                pen = max(
                    float(V[i] @ V[j] / (norms[i] * norms[j])) for j in selected
                )
                score = lam * rel[i] - (1.0 - lam) * pen
            else:
                score = lam * rel[i]
            if (
                best_score is None
                or score > best_score
                or (score == best_score and ids[i] < ids[best_i])
            ):
                best_i, best_score = i, score
        selected.append(best_i)
        out.append((step, ids[best_i], float(rel[best_i]), float(best_score)))
    spark = df.sparkSession
    return spark.createDataFrame(out, f"step int, {id_col} long, rel double, mmr double")
