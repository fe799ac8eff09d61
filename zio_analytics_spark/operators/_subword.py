"""Subword-tokenizer core shared by BPE (``bpe.py``), WordPiece
(``wordpiece.py``) and unigram-LM (``unigram.py``).

Scale shape, the same for all three families:

- **Training** scans the corpus ONCE (:func:`word_vocab`) into the
  ``(word, freq[, syms])`` vocabulary. Its size is Zipf-bounded by the
  language, not by the corpus row count, so every later round runs on a
  broadcast-scale table and iteration cost is corpus-size-independent.
- **Merge training** (BPE, and WordPiece's ``engine="sql"`` reference) is
  one Column loop (:func:`train_merges`): a map-side-combinable pair count
  (:func:`pair_counts`), a pick that brings ONE row to the driver, and the
  greedy merge as one stack HOF (:func:`merge_expr`, no UDF). The
  post-merge symbol total rides the next round's pick job as an
  Observation, so each merge costs one Spark job.
- **Serving** segments the vocab once into a ``word → syms`` dimension;
  the corpus pass is then one explode + broadcast dimension join, summed
  per document (:func:`count_tokens`) or reassembled in word order
  (:func:`assemble_tokens`). Corpus cost is one scan whatever the merge
  count or vocabulary size. Documents with no word are excluded (inner
  join).
"""

from __future__ import annotations

from collections.abc import Callable
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "WORD_PATTERN", "BPE_RESULTS", "WP_RESULTS", "engine_name", "words",
    "chars", "word_vocab", "pair_counts", "merge_expr", "train_merges",
    "count_tokens", "assemble_tokens", "results_frame",
]

#: default pre-tokenizer: lowercase letter runs — identical in Java regex
#: and RE2 so the catalog oracles replay the same words. The operators
#: accept ANY ``word_pattern``/alphabet (symbols bind as literals, never as
#: SQL text — apostrophes/quotes/unicode train fine).
WORD_PATTERN = "[a-z]+"

#: per-merge training rows of BPE and of WordPiece
BPE_RESULTS = "iter int, lhs string, rhs string, pair_count bigint, total_syms bigint"
WP_RESULTS = (
    "iter int, lhs string, rhs string, pair_count bigint, "
    "lhs_count bigint, rhs_count bigint, total_syms bigint"
)


def engine_name(engine: str | None, default: str, what: str) -> str:
    """``engine`` or the module default; an unknown name raises rather than
    silently running the sql reference."""
    eng = engine or default
    if eng not in ("arrow", "sql"):
        raise ValueError(f"unknown {what} engine: {eng!r}")
    return eng


def words(text_col: str, word_pattern: str = WORD_PATTERN) -> Column:
    """Pre-tokenizer as a Column: lowercase + regexp word extraction (the
    pattern enters as a bound literal, not SQL text)."""
    return F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_pattern), 0)


def chars(word: Column) -> Column:
    """A word's characters as its initial symbol array."""
    return F.regexp_extract_all(word, F.lit("."), 0)


def word_vocab(
    df: DataFrame,
    toks: Column,
    syms: Callable[[Column], Column] | None = chars,
    word: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """One corpus scan → the Zipf-bounded ``(word, freq[, syms])`` table.

    ``toks`` is the per-document pre-token array. ``word`` optionally maps
    each DISTINCT pre-token to its word AFTER the group-by (an injective
    per-token mapping partitions the corpus the same way, so the costly
    mapping runs once per distinct token — the byte-level vocab measured
    3.7 s → ~1 s warm at sf0.1). ``syms`` builds the initial symbol array;
    ``None`` leaves it out."""
    vocab = (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if word is not None:
        vocab = vocab.select(word(F.col("word")).alias("word"), "freq")
    return vocab if syms is None else vocab.withColumn("syms", syms(F.col("word")))


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts ``(lhs, rhs, cnt)`` over
    ``(freq, syms)``: explode → groupBy → sum, which combines map-side."""
    return (
        vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(syms, 1, size(syms) - 1),"
                    "         slice(syms, 2, size(syms) - 1),"
                    "         (a, b) -> struct(a AS lhs, b AS rhs))"
                )
            ).alias("p"),
        )
        .groupBy("p.lhs", "p.rhs")
        .agg(F.sum("freq").alias("cnt"))
    )


def merge_expr(lhs: str, rhs: str, merged: str) -> Column:
    """Column expression applying ONE merge greedily to ``syms``.

    Left-to-right stack scan: push each symbol; when the stack top is
    ``lhs`` and the incoming symbol is ``rhs``, replace the top with
    ``merged``. A just-merged top is longer than ``lhs`` and never
    re-matches, so overlaps resolve like the sequential scan (a run of
    lhs == rhs merges at even offsets): greedy leftmost-non-overlapping
    merging as one whole-stage-codegen expression. Symbols enter as bound
    literals, so any alphabet works."""
    empty = F.array().cast("array<string>")

    def step(acc, x):
        mergeable = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (x == F.lit(rhs))
        )
        return F.when(
            mergeable,
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(F.col("syms"), empty, step)


def train_merges(
    vocab: DataFrame,
    n_merges: int,
    pick: Callable[[DataFrame, DataFrame], tuple | None],
    merged: Callable[[str, str], str] = add,
) -> tuple[list, DataFrame]:
    """The Column merge-training loop. Each round ``pick(cur, pairs)``
    returns the winning ``(lhs, rhs, *stats)`` from one driver collect, or
    ``None`` when no pair is left; the pair is then merged into
    ``merged(lhs, rhs)``. Returns ``(rows, final vocab)``: one
    ``(iter, lhs, rhs, *stats, total_syms)`` row per merge, where
    ``total_syms`` is Σ freq·|syms| AFTER the merge; the final vocab is
    persisted and the caller unpersists it.

    The total rides the NEXT round's pair scan as an Observation (one job
    per merge); only the last merge pays a dedicated total job, which also
    materializes the final vocab. The observation sits on the pair-count
    leg only: a pick that scans the vocab again gets ``cur`` unobserved. A
    round's vocab is unpersisted only after the next one has been
    materialized, so no round recomputes the corpus scan."""
    from pyspark.sql import Observation

    total = F.sum(F.col("freq") * F.size("syms")).alias("t")
    cur = vocab.persist()
    prev = None
    rows = []
    pending = None  # the previous round's row, waiting for its total
    for it in range(n_merges):
        obs = Observation() if pending is not None else None
        best = pick(cur, pair_counts(cur if obs is None else cur.observe(obs, total)))
        if prev is not None:  # the pick job materialized cur
            prev.unpersist()
            prev = None
        if obs is not None:
            rows.append((*pending, int(obs.get["t"])))
            pending = None
        if best is None:
            break
        lhs, rhs = best[0], best[1]
        prev, cur = cur, cur.withColumn("syms", merge_expr(lhs, rhs, merged(lhs, rhs))).persist()
        pending = (it, *best)
    if pending is not None:
        rows.append((*pending, int(cur.agg(total).collect()[0]["t"])))  # bound: 1 row
    if prev is not None:
        prev.unpersist()
    return rows, cur


def count_tokens(df: DataFrame, id_col: str, toks: Column, seg: DataFrame) -> DataFrame:
    """``(id, n_words, n_tokens)`` per document: explode ``toks``,
    broadcast-join the ``word → |syms|`` dimension of ``seg``, sum."""
    dim = seg.select("word", F.size("syms").alias("n_sub"))
    return (
        df.select(F.col(id_col), F.explode(toks).alias("word"))
        .join(F.broadcast(dim), "word")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("n_sub").alias("n_tokens"))
    )


def assemble_tokens(df: DataFrame, id_col: str, toks: Column, dim: DataFrame,
                    key: str = "word") -> DataFrame:
    """``(id, tokens array<string>, n_tokens)`` per document: posexplode
    ``toks`` as ``key``, broadcast-join ``dim``'s ``syms``, and reassemble
    in word order (array_sort over (pos, syms) structs + flatten, all
    codegen). Output volume ≈ input volume — the shape sequence packing
    consumes."""
    return (
        df.select(F.col(id_col), F.posexplode(toks).alias("pos", key))
        .join(F.broadcast(dim), key)
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
        .select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
    )


_PD_DTYPES = {"int": "int32", "bigint": "int64"}


def results_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Training rows as a DataFrame of the DDL ``schema``. pandas input
    rides the Arrow createDataFrame path — the pickled-list path costs
    ~0.5-2 s of py4j/Python-runner overhead even for a handful of rows
    (measured r17); empty results keep the explicit schema."""
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    fields = [f.split() for f in schema.split(",")]
    pdf = pd.DataFrame(rows, columns=[n for n, _ in fields]).astype(
        {n: _PD_DTYPES[t] for n, t in fields if t in _PD_DTYPES}
    )
    return spark.createDataFrame(pdf, schema=schema)
