"""[EXT] DataFrame-native k-means (Lloyd's algorithm) and the vector-
quantization engine it shares with operators/pq.py.

The MLlib-shaped iteration without the MLlib dependency: centroids are
BOUNDED driver state (k·d doubles — the same materialization a broadcast
performs), each iteration is one scan that assigns every row its nearest
centroid plus one k×d-cell aggregate. At 100 TB that is: per-iteration
cost = one pass over the data + a k·d-sized shuffle — the known-optimal
distributed Lloyd shape.

One engine serves k-means, PQ and IVF-PQ:

- :func:`_quantize` is the one nearest-centroid stage: ``mapInPandas``
  with the centroids as closure state (O(1) plan nodes at any k/m/d) and
  :func:`_codes`, a numpy argmin per Arrow batch, as its kernel.
- :func:`_lloyd` is the one training loop. It learns ``m`` per-subspace
  codebooks; k-means is its ``m = 1`` case, PQ training is ``m > 1``.

Determinism contract (what makes a DuckDB oracle replay possible):

- init = the embeddings of the k smallest ids (data-derived, no RNG);
- ties in the argmin break toward the LOWEST cluster index (numpy
  ``argmin`` takes the first minimum; the oracle orders by ``(dist, j)``);
- centroid coordinates are ROUNDED to :data:`ROUND_DP` places after every
  update, so cross-engine summation-order ulps in the per-cluster means
  cannot accumulate across iterations;
- an empty cluster keeps its previous centroid (COALESCE in the oracle).

Iteration count is FIXED (like :func:`~zio_analytics_spark.operators.
graph.pagerank`): convergence-threshold stopping would make the plan
data-dependent and the oracle unreplayable.

Distances use the expanded ‖x‖²−2x·Cᵀ+‖c‖² BLAS form, whose summation
order differs from the oracle's sequential sum: two centroids whose
distances agree to <1 ulp could in principle argmin differently —
unobservable on continuous data, where distance gaps are many orders
above 1 ulp.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_assign"]

#: decimal places every centroid update and ADC distance is rounded to
#: (the oracles round to the same 6).
ROUND_DP = 6


def _codes(X, codebooks) -> "object":
    """(n, m) int32 nearest-centroid codes of the rows of ``X``, one column
    per subspace codebook (``X`` is split into m equal slices); ties →
    lowest code (np.argmin returns the first minimum). Distances via the
    expanded BLAS form — O(n·k) memory, no (n, k, d) intermediate."""
    import numpy as np

    sub_d = codebooks[0].shape[1]
    codes = np.empty((X.shape[0], len(codebooks)), dtype=np.int32)
    for j, C in enumerate(codebooks):
        S = X[:, j * sub_d : (j + 1) * sub_d]
        d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ C.T) + (C * C).sum(1)[None, :]
        codes[:, j] = d2.argmin(1)
    return codes


def _quantize(
    df: DataFrame,
    vec_col: str,
    keep: list[str],
    coarse: list | None = None,
    codebooks: list | None = None,
) -> DataFrame:
    """The one nearest-centroid stage. Emits the ``keep`` columns, then
    ``cell int`` (the nearest ``coarse`` centroid) when ``coarse`` is
    given, then ``codes array<int>`` (per-subspace nearest ``codebooks``
    entries of the vector — of its residual from its cell's centroid when
    ``coarse`` is given) or, without ``codebooks``, that residual itself
    as ``vec_col array<double>``. Centroids travel as closure state."""
    import numpy as np
    import pandas as pd

    C = None if coarse is None else np.asarray(coarse, dtype=np.float64)
    cbs = None if codebooks is None else [np.asarray(c, dtype=np.float64) for c in codebooks]
    out_col = vec_col if cbs is None else "codes"
    fields = [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]
    fields += ["cell int"] if C is not None else []
    fields += [f"{out_col} array<{'double' if cbs is None else 'int'}>"]

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = {c: pdf[c].to_numpy() for c in keep}
            if C is not None:
                out["cell"] = _codes(X, [C])[:, 0]
                X = X - C[out["cell"]]
            out[out_col] = list(X if cbs is None else _codes(X, cbs))
            yield pd.DataFrame(out)

    return df.select(*dict.fromkeys([*keep, vec_col])).mapInPandas(fn, ", ".join(fields))


def _lloyd(
    df: DataFrame, vec_col: str, id_col: str, m: int, k: int, n_iter: int, dim: int | None
) -> list:
    """The one Lloyd loop: ``m`` per-subspace codebooks of ``k`` centroids
    (each d/m floats) after ``n_iter - 1`` updates. ``dim`` defaults to the
    length of the first init vector. ONE scan per update for ALL subspaces:
    each row explodes into m (subspace, code, subvector) structs and a
    single groupBy(j, code) computes every codebook's update."""
    # Driver-bound: k rows.
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init)}")
    if dim is None:
        dim = len(init[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    cbs = [
        [[float(x) for x in r[vec_col][j * sub_d : (j + 1) * sub_d]] for r in init]
        for j in range(m)
    ]
    parts = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.col("codes")[j].alias("code"),
                    F.slice(vec_col, j * sub_d + 1, sub_d).alias("sub"),
                )
                for j in range(m)
            ]
        )
    )
    for _t in range(n_iter - 1):
        # Driver-bound: m·k rows of d/m doubles.
        rows = (
            _quantize(df, vec_col, [vec_col], codebooks=cbs)
            .select(parts.alias("s"))
            .select("s.*")
            .groupBy("j", "code")
            .agg(
                *[
                    F.round(F.avg(F.col("sub")[i].cast("double")), ROUND_DP).alias(f"x{i}")
                    for i in range(sub_d)
                ]
            )
            .collect()
        )
        new = {
            (int(r["j"]), int(r["code"])): [r[f"x{i}"] for i in range(sub_d)] for r in rows
        }
        cbs = [[new.get((j, c), cbs[j][c]) for c in range(k)] for j in range(m)]
    return cbs


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_iter: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means for ``n_iter`` fixed iterations; returns
    ``(id_col, cluster)`` — every row's assignment under the final
    centroids. ``dim`` defaults to the length of the first vector."""
    (cents,) = _lloyd(df, vec_col, id_col, 1, k, n_iter, dim)
    return _quantize(df, vec_col, [id_col], codebooks=[cents]).select(
        id_col, F.col("codes")[0].alias("cluster")
    )
