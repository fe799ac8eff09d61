"""[EXT] Product Quantization (PQ) for vector compression + ADC search.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search", IEEE TPAMI — public algorithm): split each d-dim vector into
``m`` subvectors, learn a small k-means codebook PER SUBSPACE, and store
each vector as ``m`` small codes (here m bytes — a 64-dim float vector
compresses 256 B → 4 B, 64×). Queries never decompress: Asymmetric
Distance Computation (ADC) precomputes, per subspace, the distance from
the query subvector to every codebook centroid (an m×k lookup table) and
scores a database vector as the SUM of m table lookups.

Scale shape:

- TRAINING is m independent Lloyd runs over subvector slices — same
  bounded-driver-state discipline as clustering.kmeans_assign (per
  iteration: one scan + a k×(d/m)-cell aggregate; only k·d doubles ever
  sit on the driver). Production trains on a sample (pass ``train_df``);
  the codebook is what matters, not seeing every row.
- ENCODING is one scan with the m argmin expressions inlined as Column
  HOFs (zip_with/aggregate — whole-stage codegen, no UDF), emitting the
  m-byte code array. This is the only full-corpus pass.
- ADC SEARCH broadcasts nothing and joins nothing: the m×k lookup table
  is inlined as literal arrays, so scoring is ``element_at`` sums inside
  codegen and the plan is scan → project → TakeOrdered(k).

Determinism contract (inherited from clustering.py so a DuckDB oracle can
replay every code): init = subvectors of the k smallest ids; argmin ties
to the lowest code; centroids rounded after every update; empty clusters
keep their previous centroid; fixed iteration count.

PRODUCTION-PARAMETER CEILING (round-7): the codegen path inlines every
codebook value as a literal — measured plan-CONSTRUCTION cost at the
real-world PQ shape k=256/m=8/d=256 (~65k literals) was ~81 s with
per-literal ``F.lit`` Column building (one py4j round-trip each), cut to
~13 s by building each argmin as ONE ``F.expr`` SQL string
(:func:`_argmin_sql` — the string assembles Python-side, the JVM parses
it in one call; this also took the k=16 catalog entries from ~6-9 s to
~2.5-4.4 s). Catalyst analysis itself stays <50 ms; what remains at
production shape is SQL-parser time on a ~1.3 MB expression, still
literal-count-linear. Every entry point therefore takes ``engine``:

- ``"codegen"`` — the literal-inlined HOF path (whole-stage codegen, the
  oracle-replayed reference semantics).
- ``"arrow"`` — ``mapInPandas`` + numpy: codebooks travel as an O(k·d)
  closure broadcast, each Arrow batch computes argmin codes via the
  expanded ‖x‖²−2x·Cᵀ+‖c‖² BLAS form. O(1) plan nodes at ANY k/m/d;
  the 100 TB path for production parameters.
- ``"auto"`` (default) — ``"arrow"`` when the inlined-literal count would
  exceed :data:`_CODEGEN_MAX_LITERALS`, else ``"codegen"``.

Engine equivalence is tested at k=16 (test_pq): identical codes/results.
The one documented caveat: the arrow path's BLAS summation order differs
from the codegen path's sequential left-fold, so two centroids whose
distances agree to <1 ulp could in principle argmin differently —
unobservable on continuous data (centroid updates are rounded to 6 dp
and real embeddings have distance gaps many orders above 1 ulp).

The threshold was 2048 through round 15 (sized against the ~5 s plan-
BUILD wall only, keeping every oracle-checked entry on codegen); round-16
measurement showed Janino codegen COMPILE dominates well below that —
similarity_ivfpq warm total 3.7 s on codegen vs 2.9 s on arrow at 512-
to-1536 literals — so auto now flips at 384. Every affected catalog
entry (kmeans family, PQ/IVF-PQ ladder, SemDeDup) re-verified against
its oracle at sf0.001/sf0.01/sf0.1 after the flip.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_train",
    "ivfpq_encode",
    "ivfpq_fit_encode",
    "ivfpq_search",
]

#: codegen is preferred up to this many inlined literals; beyond it Janino
#: compile outweighs the arrow path (module doc), so auto switches to arrow.
_CODEGEN_MAX_LITERALS = 384


def _pick_engine(engine: str, n_literals: int) -> str:
    if engine not in ("auto", "codegen", "arrow"):
        raise ValueError(f"unknown pq engine: {engine!r}")
    if engine == "auto":
        return "arrow" if n_literals > _CODEGEN_MAX_LITERALS else "codegen"
    return engine


def _np_codebooks(codebooks: list):
    import numpy as np

    return [np.asarray(c, dtype=np.float64) for c in codebooks]


def _np_subspace_codes(X, np_cbs) -> "object":
    """(n, m) int32 nearest-centroid codes per subspace; ties → lowest code
    (np.argmin returns the first minimum). Distances via the expanded BLAS
    form — O(n·k) memory, no (n, k, d) intermediate."""
    import numpy as np

    n = X.shape[0]
    m = len(np_cbs)
    sub_d = np_cbs[0].shape[1]
    codes = np.empty((n, m), dtype=np.int32)
    for j, C in enumerate(np_cbs):
        S = X[:, j * sub_d : (j + 1) * sub_d]
        d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ C.T) + (C * C).sum(1)[None, :]
        codes[:, j] = d2.argmin(1)
    return codes


def _sql_darr(vals) -> str:
    """A double-array SQL literal; ``repr(float)`` is the shortest
    round-trip decimal, and Spark's ``D`` suffix parses it back to the
    identical double (asserted against CAST in a probe)."""
    return "array(" + ", ".join(repr(float(v)) + "D" for v in vals) + ")"


def _argmin_sql(sub_sql: str, cents: list) -> str:
    """Argmin-over-centroids as ONE SQL string (round-7 plan-build fix):
    the Column-API form paid one py4j round-trip per literal — ~1-2 s of
    driver time per argmin build even at the toy k=16/d=64 shape, dominant
    in the PQ catalog entries. Building the identical expression as text
    (JVM parses it in one call) removes that cost; semantics byte-match
    the old form: i-ascending (CAST(x AS DOUBLE) − c)² left-fold, ties to
    the lowest index."""
    dists = ", ".join(
        f"aggregate(zip_with({sub_sql}, {_sql_darr(c)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (a, b) -> a + b)"
        for c in cents
    )
    arr = f"array({dists})"
    return f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"


def _argmin_expr(sub_sql: str, cents: list) -> Column:
    """Code = index of the nearest centroid (ties → lowest index).
    ``sub_sql`` is a SQL fragment for the (sub)vector expression — see
    :func:`_argmin_sql` for why text, not Columns."""
    return F.expr(_argmin_sql(sub_sql, cents))


def _explode_subcodes_arrow(df: DataFrame, codebooks: list, vec_col: str) -> DataFrame:
    """Arrow twin of the codegen explode in :func:`pq_train`: one row per
    (input row, subspace) with the subspace index, assigned code, and
    subvector — codebooks as closure state, numpy argmin per batch."""
    import numpy as np
    import pandas as pd

    np_cbs = _np_codebooks(codebooks)
    m = len(np_cbs)
    sub_d = np_cbs[0].shape[1]

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = _np_subspace_codes(X, np_cbs)
            frames = []
            for j in range(m):
                frames.append(
                    pd.DataFrame(
                        {
                            "j": np.full(len(X), j, dtype=np.int32),
                            "code": codes[:, j],
                            "sub": list(X[:, j * sub_d : (j + 1) * sub_d]),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(vec_col).mapInPandas(fn, "j int, code int, sub array<double>")


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
    round_dp: int = 6,
    engine: str = "auto",
) -> list:
    """Learn ``m`` per-subspace codebooks; returns a list of m lists of k
    centroids (each d/m floats) — bounded driver state (k·d doubles), the
    same materialization a broadcast would perform."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    eng = _pick_engine(engine, m * k * sub_d)
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} training rows, got {len(init)}")
    codebooks = [
        [[float(x) for x in r[vec_col][j * sub_d : (j + 1) * sub_d]] for r in init]
        for j in range(m)
    ]
    # ONE scan per iteration for ALL subspaces: each row explodes into m
    # (subspace, code, subvector) structs and a single groupBy(j, code)
    # computes every codebook's update — iteration cost is one pass + an
    # (m·k)×(d/m)-cell aggregate regardless of m, not m passes.
    for _t in range(n_iter - 1):
        if eng == "arrow":
            exploded = _explode_subcodes_arrow(df, codebooks, vec_col)
        else:
            structs = []
            for j in range(m):
                sub_sql = f"slice(`{vec_col}`, {j * sub_d + 1}, {sub_d})"
                structs.append(
                    f"struct({j} AS j, {_argmin_sql(sub_sql, codebooks[j])} AS code, "
                    f"{sub_sql} AS sub)"
                )
            exploded = df.select(
                F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias("s")
            ).select("s.j", "s.code", "s.sub")
        rows = exploded.groupBy("j", "code").agg(
            *[
                F.round(F.avg(F.col("sub")[i].cast("double")), round_dp).alias(f"x{i}")
                for i in range(sub_d)
            ]
        ).collect()
        new = {
            (int(r["j"]), int(r["code"])): [r[f"x{i}"] for i in range(sub_d)]
            for r in rows
        }
        codebooks = [
            [new.get((j, c), codebooks[j][c]) for c in range(k)] for j in range(m)
        ]
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    engine: str = "auto",
    passthrough_cols: list[str] | None = None,
) -> DataFrame:
    """One scan → ``(id_col, *passthrough_cols, codes array<int> length m)``:
    every vector replaced by its m nearest-centroid codes."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    extra = list(passthrough_cols or [])
    eng = _pick_engine(engine, m * len(codebooks[0]) * sub_d)
    if eng == "arrow":
        import numpy as np
        import pandas as pd

        np_cbs = _np_codebooks(codebooks)
        keep = [id_col] + extra
        keep_types = [
            f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
        ]

        def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = _np_subspace_codes(X, np_cbs)
                out = {c: pdf[c].to_numpy() for c in keep}
                out["codes"] = list(codes)
                yield pd.DataFrame(out)

        return df.select(*keep, vec_col).mapInPandas(
            fn, ", ".join(keep_types) + ", codes array<int>"
        )
    codes_sql = ", ".join(
        _argmin_sql(f"slice(`{vec_col}`, {j * sub_d + 1}, {sub_d})", cents)
        for j, cents in enumerate(codebooks)
    )
    return df.select(
        id_col, *extra, F.expr(f"array({codes_sql})").alias("codes")
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list,
    query: list,
    top_k: int = 10,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """ADC search over PQ codes: per subspace, the query→centroid distances
    become one literal k-element array; a row's score is the sum of m
    ``element_at`` lookups — no decompression, no join, codegen all the
    way to TakeOrdered. Returns ``(id_col, adc_dist)`` for the ``top_k``
    nearest, distance rounded to ``round_dp`` (ordering key too, so ulp-
    level cross-engine summation drift cannot reorder the cut)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    if len(query) != m * sub_d:
        raise ValueError(f"query dim {len(query)} != {m * sub_d}")
    terms = ["0.0D"]
    for j, cents in enumerate(codebooks):
        qsub = [float(v) for v in query[j * sub_d : (j + 1) * sub_d]]
        lut = [
            sum((qv - cv) ** 2 for qv, cv in zip(qsub, cent)) for cent in cents
        ]
        terms.append(f"element_at({_sql_darr(lut)}, codes[{j}] + 1)")
    scored = encoded.select(
        id_col, F.round(F.expr(" + ".join(terms)), round_dp).alias("adc_dist")
    )
    return scored.orderBy("adc_dist", id_col).limit(top_k)


def _assign_cells_arrow(df: DataFrame, cents: list, vec_col: str) -> DataFrame:
    """Arrow twin of the codegen coarse assignment: (__v vector, __c cell)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.float64)

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = _np_subspace_codes(X, [C])[:, 0]
            yield pd.DataFrame({"__v": list(X), "__c": cells})

    return df.select(vec_col).mapInPandas(fn, "__v array<double>, __c int")


def _lloyd_full(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    n_iter: int,
    dim: int,
    round_dp: int = 6,
    engine: str = "auto",
) -> list:
    """Full-dimension Lloyd returning the CENTROIDS (the coarse quantizer
    for IVF) under the same determinism contract as clustering.py."""
    eng = _pick_engine(engine, k * dim)
    init = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} rows, got {len(init)}")
    cents = [[float(x) for x in r[vec_col]] for r in init]
    for _t in range(n_iter - 1):
        if eng == "arrow":
            assigned = _assign_cells_arrow(df, cents, vec_col)
        else:
            assigned = df.select(
                F.col(vec_col).alias("__v"),
                _argmin_expr(f"`{vec_col}`", cents).alias("__c"),
            )
        rows = assigned.groupBy("__c").agg(
            *[
                F.round(F.avg(F.col("__v")[i].cast("double")), round_dp).alias(f"x{i}")
                for i in range(dim)
            ]
        ).collect()
        new = {int(r["__c"]): [r[f"x{i}"] for i in range(dim)] for r in rows}
        cents = [new.get(c, cents[c]) for c in range(k)]
    return cents


def _assign_residual_arrow(
    df: DataFrame, coarse: list, vec_col: str, id_col: str
) -> DataFrame:
    """Arrow path: one pass → ``(id, cell, __res residual vector)``."""
    import numpy as np
    import pandas as pd

    C = np.asarray(coarse, dtype=np.float64)
    id_type = df.schema[id_col].dataType.simpleString()

    def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = _np_subspace_codes(X, [C])[:, 0]
            R = X - C[cells]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "cell": cells, "__res": list(R)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} {id_type}, cell int, __res array<double>"
    )


def _assign_residual(
    df: DataFrame, coarse: list, vec_col: str, id_col: str, engine: str = "auto"
) -> DataFrame:
    """``(id, cell, __res)`` — the shared first stage of IVF-PQ training and
    encoding (engine-dispatched)."""
    eng = _pick_engine(engine, len(coarse) * len(coarse[0]))
    if eng == "arrow":
        return _assign_residual_arrow(df, coarse, vec_col, id_col)
    assigned = df.select(
        id_col, vec_col, _argmin_expr(f"`{vec_col}`", coarse).alias("cell")
    )
    return assigned.select(id_col, "cell", _residual_expr(vec_col, coarse).alias("__res"))


def ivfpq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
    engine: str = "auto",
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
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    coarse = _lloyd_full(df, vec_col, id_col, n_cells, n_iter, dim, engine=engine)
    res_df = _assign_residual(df, coarse, vec_col, id_col, engine).select(
        id_col, F.col("__res").alias(vec_col)
    )
    codebooks = pq_train(
        res_df, vec_col=vec_col, id_col=id_col, m=m, k=k, n_iter=n_iter, dim=dim,
        engine=engine,
    )
    return coarse, codebooks


def ivfpq_fit_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
    dim: int | None = None,
    engine: str = "auto",
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

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    coarse = _lloyd_full(df, vec_col, id_col, n_cells, n_iter, dim, engine=engine)
    res_tbl = materialize_table(
        _assign_residual(df, coarse, vec_col, id_col, engine), prefix="zas_ivfpq_res_"
    )
    codebooks = pq_train(
        res_tbl.select(id_col, F.col("__res").alias(vec_col)),
        vec_col=vec_col, id_col=id_col, m=m, k=k, n_iter=n_iter, dim=dim,
        engine=engine,
    )
    encoded = pq_encode(
        res_tbl.select(id_col, "cell", F.col("__res").alias(vec_col)),
        codebooks, vec_col=vec_col, id_col=id_col, engine=engine,
        passthrough_cols=["cell"],
    ).select(id_col, "cell", "codes")
    return coarse, codebooks, encoded


def _residual_expr(vec_col: str, cents: list) -> Column:
    """x − coarse_centroid[cell] as one Column expression: the per-cell
    centroid arrays inline as an array-of-arrays literal indexed by the
    cell assignment (no join, no UDF; one F.expr — the plan-build fix)."""
    table = "array(" + ", ".join(_sql_darr(c) for c in cents) + ")"
    return F.expr(
        f"zip_with(`{vec_col}`, element_at({table}, cell + 1), "
        "(x, y) -> CAST(x AS DOUBLE) - y)"
    )


def ivfpq_encode(
    df: DataFrame,
    coarse: list,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    engine: str = "auto",
) -> DataFrame:
    """IVF-PQ encoding (the FAISS IVFPQ layout's algebra): assign each
    vector to its nearest coarse centroid (inverted-list cell), then PQ-
    encode the RESIDUAL x − centroid[cell] — residuals are what make a
    shared codebook accurate across cells. One scan, all codegen. Returns
    ``(id_col, cell, codes)``; on disk this is exactly what
    ann_index-style ``partitionBy(cell)`` layouts store, so search scans
    prune to probed cells (PartitionFilters — proven in
    similarity_ann_partitioned) and read m bytes per vector."""
    n_lits = len(coarse) * len(coarse[0]) + len(codebooks) * len(codebooks[0]) * len(
        codebooks[0][0]
    )
    eng = _pick_engine(engine, n_lits)
    if eng == "arrow":
        import numpy as np
        import pandas as pd

        C = np.asarray(coarse, dtype=np.float64)
        np_cbs = _np_codebooks(codebooks)
        id_type = df.schema[id_col].dataType.simpleString()

        def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                cells = _np_subspace_codes(X, [C])[:, 0]
                codes = _np_subspace_codes(X - C[cells], np_cbs)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "cell": cells,
                        "codes": list(codes),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(
            fn, f"{id_col} {id_type}, cell int, codes array<int>"
        )
    assigned = df.select(
        id_col, vec_col, _argmin_expr(f"`{vec_col}`", coarse).alias("cell")
    )
    sub_d = len(codebooks[0][0])
    with_res = assigned.withColumn("__res", _residual_expr(vec_col, coarse))
    codes_sql = ", ".join(
        _argmin_sql(f"slice(`__res`, {j * sub_d + 1}, {sub_d})", cents)
        for j, cents in enumerate(codebooks)
    )
    return with_res.select(
        id_col, "cell", F.expr(f"array({codes_sql})").alias("codes")
    )


def ivfpq_search(
    encoded: DataFrame,
    coarse: list,
    codebooks: list,
    query: list,
    nprobe: int = 2,
    top_k: int = 10,
    id_col: str = "vec_id",
    round_dp: int = 6,
    engine: str = "auto",
) -> DataFrame:
    """Probed ADC search: rank coarse cells by query→centroid distance,
    keep the ``nprobe`` nearest (ties to the lower cell id), and score
    ONLY vectors in those cells with per-cell lookup tables built from
    the query's residual against that cell. Everything driver-side is
    k_c·d + nprobe·m·k doubles; the cell filter is a literal IN list, so
    a partitioned layout prunes the scan before it reads a byte of the
    other cells (both engines filter FIRST — the arrow scorer runs after
    the prune)."""
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    k = len(codebooks[0])
    qd = [
        sum((float(qv) - cv) ** 2 for qv, cv in zip(query, cent))
        for cent in coarse
    ]
    probed = sorted(range(len(coarse)), key=lambda c: (qd[c], c))[:nprobe]
    # per probed cell: LUTs from the query residual w.r.t. that cell
    luts = {}
    for cell in probed:
        qres = [float(q) - c for q, c in zip(query, coarse[cell])]
        luts[cell] = [
            [
                sum((qv - cv) ** 2 for qv, cv in zip(qres[j * sub_d : (j + 1) * sub_d], cent))
                for cent in cents
            ]
            for j, cents in enumerate(codebooks)
        ]
    pruned = encoded.where(F.col("cell").isin(probed))
    eng = _pick_engine(engine, nprobe * m * k)
    if eng == "arrow":
        import numpy as np
        import pandas as pd

        np_luts = {c: np.asarray(t, dtype=np.float64) for c, t in luts.items()}
        id_type = encoded.schema[id_col].dataType.simpleString()

        def fn(pdfs: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                cells = pdf["cell"].to_numpy()
                dist = np.empty(len(pdf), dtype=np.float64)
                j_idx = np.arange(codes.shape[1])
                for c, lut in np_luts.items():
                    mask = cells == c
                    if mask.any():
                        dist[mask] = lut[j_idx[None, :], codes[mask]].sum(1)
                yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "__d": dist})

        scored = pruned.select(id_col, "cell", "codes").mapInPandas(
            fn, f"{id_col} {id_type}, __d double"
        ).select(
            # round in Spark (HALF_UP) so both engines share rounding semantics
            id_col, F.round(F.col("__d"), round_dp).alias("adc_dist")
        )
        return scored.orderBy("adc_dist", id_col).limit(top_k)
    dist_sql = "CAST(NULL AS DOUBLE)"
    for cell in probed:
        terms = ["0.0D"] + [
            f"element_at({_sql_darr(luts[cell][j])}, codes[{j}] + 1)"
            for j in range(m)
        ]
        dist_sql = (
            f"CASE WHEN cell = {cell} THEN {' + '.join(terms)} "
            f"ELSE {dist_sql} END"
        )
    scored = pruned.select(
        id_col, F.round(F.expr(dist_sql), round_dp).alias("adc_dist")
    )
    return scored.orderBy("adc_dist", id_col).limit(top_k)
