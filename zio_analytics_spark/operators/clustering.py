"""[EXT] DataFrame-native k-means (Lloyd's algorithm).

The MLlib-shaped iteration without the MLlib dependency: centroids are
BOUNDED driver state (k·d doubles — the same materialization a broadcast
performs), each iteration is one scan that assigns every row its nearest
centroid plus one k×d-cell aggregate. At 100 TB that is: per-iteration
cost = one pass over the data + a k·d-sized shuffle — the known-optimal
distributed Lloyd shape.

Determinism contract (what makes a DuckDB oracle replay possible):

- init = the embeddings of the k smallest ids (data-derived, no RNG);
- ties in the argmin break toward the LOWEST cluster index (Spark
  ``array_position`` and numpy ``argmin`` take the first minimum; the
  oracle orders by ``(dist, j)``);
- centroid coordinates are ROUNDED (default 6 dp) after every update, so
  cross-engine summation-order ulps in the per-cluster means cannot
  accumulate across iterations;
- an empty cluster keeps its previous centroid (COALESCE in the oracle).

Iteration count is FIXED (like :func:`~zio_analytics_spark.operators.
graph.pagerank`): convergence-threshold stopping would make the plan
data-dependent and the oracle unreplayable.

ENGINE CHOICE (shared with operators/pq.py): the codegen assignment
inlines the k·d centroid coordinates as literals into one whole-stage-
codegen expression, whose plan build and Janino compile grow with that
count. ``engine="auto"`` routes to an arrow (mapInPandas + numpy argmin)
assignment above pq's ``_CODEGEN_MAX_LITERALS`` (384 literals) —
centroids as closure state, O(1) plan nodes. The shipped catalog shapes
(k=10, d=64 → 640 literals) are above it, so ``kmeans_clusters`` and
``dedup_semantic`` run the arrow engine and replay their oracles through
it; codegen runs for k·d ≤ 384 or ``engine="codegen"``. Engine
equivalence is asserted in test_clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_assign"]


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_iter: int = 3,
    dim: int | None = None,
    round_dp: int = 6,
    engine: str = "auto",
) -> DataFrame:
    """Lloyd's k-means for ``n_iter`` fixed iterations; returns
    ``(id_col, cluster)`` — every row's assignment under the final
    centroids. ``dim`` defaults to the length of the first vector."""
    from zio_analytics_spark.operators.pq import _pick_engine

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    eng = _pick_engine(engine, k * dim)
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init)}")
    cents = [[float(x) for x in r[vec_col]] for r in init]

    def assign_arrow(frame):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.float64)
        id_type = frame.schema[id_col].dataType.simpleString()

        def fn(pdfs):
            for pdf in pdfs:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                d2 = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        vec_col: list(X),
                        "cluster": d2.argmin(1).astype(np.int32),
                    }
                )

        return frame.select(id_col, vec_col).mapInPandas(
            fn, f"{id_col} {id_type}, {vec_col} array<double>, cluster int"
        )

    def assign_expr():
        # ||x − c||² per centroid via zip_with + left-fold aggregate: the
        # SAME i-ascending (x_i − c_i)² summation as an explicit 64-term
        # sum, but an O(k)-node expression tree instead of O(k·d) — the
        # explicit form made Catalyst analysis/codegen the dominant cost
        # (measured 19.5 s/entry; HOF form ~2 s, identical numerics).
        # Built as ONE F.expr SQL string (pq._argmin_sql): the Column-API
        # form paid a py4j round-trip per literal — the round-7 plan-build
        # finding.
        from zio_analytics_spark.operators.pq import _argmin_expr

        return _argmin_expr(f"`{vec_col}`", cents)

    assigned = None
    for t in range(n_iter):
        if eng == "arrow":
            assigned = assign_arrow(df)
        else:
            assigned = df.select(id_col, vec_col, assign_expr().alias("cluster"))
        if t < n_iter - 1:
            rows = assigned.groupBy("cluster").agg(
                *[
                    F.round(F.avg(F.col(vec_col)[i].cast("double")), round_dp).alias(
                        f"x{i}"
                    )
                    for i in range(dim)
                ]
            ).collect()
            new = {int(r["cluster"]): [r[f"x{i}"] for i in range(dim)] for r in rows}
            cents = [new.get(j, cents[j]) for j in range(k)]
    return assigned.select(id_col, "cluster")
