"""[EXT] Product Quantization (PQ) for vector compression + ADC search.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search", IEEE TPAMI — public algorithm): split each d-dim vector into
``m`` subvectors, learn a small k-means codebook PER SUBSPACE, and store
each vector as ``m`` small codes (here m bytes — a 64-dim float vector
compresses 256 B → 4 B, 64×). Queries never decompress: Asymmetric
Distance Computation (ADC) precomputes, per subspace, the distance from
the query subvector to every codebook centroid (an m×k lookup table) and
scores a database vector as the SUM of m table lookups.

Scale shape (the engine is operators/clustering.py's, shared with
k-means):

- TRAINING is the shared Lloyd loop with m subspaces: per iteration one
  scan + an (m·k)×(d/m)-cell aggregate; only k·d doubles ever sit on the
  driver. Production trains on a sample (pass a sampled frame to
  :func:`pq_train`); the codebook is what matters, not seeing every row.
- ENCODING is one scan through the shared nearest-centroid stage
  (``mapInPandas`` + numpy argmin, codebooks as closure state — O(1) plan
  nodes at any k/m/d), emitting the m-byte code array. This is the only
  full-corpus pass.
- ADC SEARCH broadcasts nothing and joins nothing: the m×k lookup table
  is inlined as literal arrays, so scoring is ``element_at`` sums inside
  codegen and the plan is scan → project → TakeOrdered(k).

Determinism contract (inherited from clustering.py so a DuckDB oracle can
replay every code): init = subvectors of the k smallest ids; argmin ties
to the lowest code; centroids rounded after every update; empty clusters
keep their previous centroid; fixed iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zio_analytics_spark.operators.clustering import ROUND_DP, _lloyd, _quantize

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_train",
    "ivfpq_encode",
    "ivfpq_fit_encode",
    "ivfpq_search",
]


def _sql_darr(vals) -> str:
    """A double-array SQL literal; ``repr(float)`` is the shortest
    round-trip decimal, and Spark's ``D`` suffix parses it back to the
    identical double (asserted against CAST in a probe)."""
    return "array(" + ", ".join(repr(float(v)) + "D" for v in vals) + ")"


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
) -> list:
    """Learn ``m`` per-subspace codebooks; returns a list of m lists of k
    centroids (each d/m floats) — bounded driver state (k·d doubles), the
    same materialization a broadcast would perform."""
    return _lloyd(df, vec_col, id_col, m, k, n_iter, dim)


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """One scan → ``(id_col, *passthrough_cols, codes array<int>
    length m)``: every vector replaced by its m nearest-centroid codes."""
    keep = [id_col, *(passthrough_cols or [])]
    return _quantize(df, vec_col, keep, codebooks=codebooks)


def _query(query: list, codebooks: list) -> list[float]:
    """The query as floats, after checking its length against the index."""
    d = len(codebooks) * len(codebooks[0][0])
    if len(query) != d:
        raise ValueError(f"query dim {len(query)} != {d}")
    return [float(v) for v in query]


def _luts(q: list[float], codebooks: list) -> list[list[float]]:
    """Per subspace, the squared distance from ``q``'s subvector to every
    centroid: the m×k ADC lookup table."""
    sub_d = len(codebooks[0][0])
    return [
        [
            sum((qv - cv) ** 2 for qv, cv in zip(q[j * sub_d : (j + 1) * sub_d], cent))
            for cent in cents
        ]
        for j, cents in enumerate(codebooks)
    ]


def _adc_topk(encoded: DataFrame, luts: dict, top_k: int, id_col: str) -> DataFrame:
    """The ADC scorer: a row's score is the sum of m ``element_at`` lookups
    into literal tables — no decompression, no join, codegen all the way
    to TakeOrdered. ``luts`` maps a cell to its lookup tables; the key
    ``None`` scores every row with one table set. Returns ``(id_col,
    adc_dist)`` for the ``top_k`` nearest, distance rounded to
    :data:`ROUND_DP` (ordering key too, so ulp-level cross-engine
    summation drift cannot reorder the cut)."""
    dist = "CAST(NULL AS DOUBLE)"
    for cell, tables in luts.items():
        terms = " + ".join(
            ["0.0D"]
            + [f"element_at({_sql_darr(t)}, codes[{j}] + 1)" for j, t in enumerate(tables)]
        )
        dist = terms if cell is None else f"CASE WHEN cell = {cell} THEN {terms} ELSE {dist} END"
    scored = encoded.select(id_col, F.round(F.expr(dist), ROUND_DP).alias("adc_dist"))
    return scored.orderBy("adc_dist", id_col).limit(top_k)


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list,
    query: list,
    top_k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search over PQ codes: per subspace, the query→centroid distances
    become one literal k-element array (:func:`_adc_topk`). Returns
    ``(id_col, adc_dist)`` for the ``top_k`` nearest."""
    return _adc_topk(encoded, {None: _luts(_query(query, codebooks), codebooks)}, top_k, id_col)


def ivfpq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
) -> tuple[list, list]:
    """Train the two quantizer tiers: the coarse (IVF) centroids on full
    vectors, then PQ codebooks on the RESIDUALS x − centroid[cell] —
    residual codebooks are shared across cells, which is what keeps m·k
    centroids accurate over the whole space (the FAISS IVFPQ recipe).
    Returns ``(coarse, codebooks)``; both are bounded driver state.

    NOTE: encoding after this recomputes the coarse assignment — when you
    need codes for the SAME frame you trained on, use
    :func:`ivfpq_fit_encode`, which materializes the assigned/residual
    table once and feeds both codebook training and encoding from it."""
    (coarse,) = _lloyd(df, vec_col, id_col, 1, n_cells, n_iter, dim)
    residuals = _quantize(df, vec_col, [id_col], coarse=coarse)
    return coarse, pq_train(residuals, vec_col, id_col, m, k, n_iter, len(coarse[0]))


def ivfpq_fit_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
) -> tuple[list, list, DataFrame]:
    """Train AND encode with ONE coarse-assignment pass (round-7 scan cut):
    ``ivfpq_train`` + ``ivfpq_encode`` back-to-back each compute the
    full-corpus coarse argmin; here the ``(id, cell, residual)`` table is
    computed once, materialized to a scratch parquet (the dedup shingle-
    table discipline — no cache-release protocol, consumers re-scan
    columnar data; at 100 TB you'd persist this table anyway), and BOTH
    codebook training and code emission read it. Returns
    ``(coarse, codebooks, encoded)`` with ``encoded = (id, cell, codes)``
    — identical to ``ivfpq_encode(df, *ivfpq_train(df, ...))`` (asserted
    in test_pq)."""
    from zio_analytics_spark.tmpdirs import materialize_table

    (coarse,) = _lloyd(df, vec_col, id_col, 1, n_cells, n_iter, dim)
    res_tbl = materialize_table(
        _quantize(df, vec_col, [id_col], coarse=coarse), prefix="zas_ivfpq_res_"
    )
    codebooks = pq_train(res_tbl, vec_col, id_col, m, k, n_iter, len(coarse[0]))
    encoded = pq_encode(res_tbl, codebooks, vec_col, id_col, passthrough_cols=["cell"])
    return coarse, codebooks, encoded


def ivfpq_encode(
    df: DataFrame,
    coarse: list,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ encoding (the FAISS IVFPQ layout's algebra): assign each
    vector to its nearest coarse centroid (inverted-list cell), then PQ-
    encode the RESIDUAL x − centroid[cell] — residuals are what make a
    shared codebook accurate across cells. One scan. Returns
    ``(id_col, cell, codes)``; on disk this is exactly what
    ann_index-style ``partitionBy(cell)`` layouts store, so search scans
    prune to probed cells (PartitionFilters — proven in
    similarity_ann_partitioned) and read m bytes per vector."""
    return _quantize(df, vec_col, [id_col], coarse=coarse, codebooks=codebooks)


def ivfpq_search(
    encoded: DataFrame,
    coarse: list,
    codebooks: list,
    query: list,
    nprobe: int = 2,
    top_k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probed ADC search: rank coarse cells by query→centroid distance,
    keep the ``nprobe`` nearest (ties to the lower cell id), and score
    ONLY vectors in those cells with per-cell lookup tables built from
    the query's residual against that cell. Everything driver-side is
    k_c·d + nprobe·m·k doubles; the cell filter is a literal IN list, so
    a partitioned layout prunes the scan before it reads a byte of the
    other cells."""
    q = _query(query, codebooks)
    qd = [sum((qv - cv) ** 2 for qv, cv in zip(q, cent)) for cent in coarse]
    probed = sorted(range(len(coarse)), key=lambda c: (qd[c], c))[:nprobe]
    luts = {c: _luts([qv - cv for qv, cv in zip(q, coarse[c])], codebooks) for c in probed}
    return _adc_topk(encoded.where(F.col("cell").isin(probed)), luts, top_k, id_col)
