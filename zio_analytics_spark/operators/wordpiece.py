"""[EXT] WordPiece TRAINING — the third production tokenizer family.

BPE (operators/bpe.py, Sennrich 2016) merges the most FREQUENT adjacent
pair; unigram-LM (operators/unigram.py, Kudo 2018) prunes a superset
vocabulary by EM likelihood; WordPiece (Schuster & Nakajima 2012, "Japanese
and Korean Voice Search"; the BERT-lineage tokenizer — public algorithm)
sits between them: BPE's bottom-up merge loop, but the pair chosen each
round maximizes the LIKELIHOOD GAIN of a unigram language model,

    score(a, b) = count(ab) / (count(a) · count(b)),

i.e. frequent pairs are discounted by how frequent their parts already are
— the merge that most increases Σ freq·log P(word) under the unigram model.
Continuation symbols carry the ``##`` prefix (the BERT convention): the
initial alphabet is {first char} ∪ {##c for word-internal chars}, and
merging ``a`` + ``##b`` yields ``a b`` spelled ``a##b``-stripped → ``ab``,
while ``##a`` + ``##b`` yields ``##ab``.

The shared scale shape (one corpus scan into a Zipf-bounded vocab, a
one-row argmax per merge, greedy merge application as one Column stack
HOF, broadcast-dimension serving) lives in ``_subword``. WordPiece adds the
symbol unigram counts the score needs, and the ``engine="sql"`` reference
is ``_subword.train_merges`` itself with WordPiece's pick and merge rule.

Determinism contract (what makes the DuckDB oracle exact): the score is
``cnt::double / (lhs_cnt · rhs_cnt)`` — one IEEE-double division of exact
integers, computed by the same expression in both engines — with
``(score DESC, lhs, rhs)`` tiebreak; symbol-count products stay far below
2^53 at any tested SF, so the double is exact anyway.

Reference parity: the reference engine has no tokenizer surface
(DataStream.scala:40-56) — this module is [EXT] for the LLM-pipeline
north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zio_analytics_spark.operators._subword import (
    WORD_PATTERN,
    WP_RESULTS,
    assemble_tokens,
    chars,
    count_tokens,
    engine_name,
    results_frame,
    train_merges,
    word_vocab,
    words,
)

__all__ = ["wordpiece_train", "wordpiece_model", "wordpiece_segment",
           "wordpiece_tokenize", "wordpiece_vocab_pieces", "wordpiece_apply"]

#: Default training engine (round-17, guide §4). "arrow": pair/symbol
#: counting runs as ONE mapInPandas with per-task Counter partials, merges
#: apply in Python inside the NEXT round's count job (the base vocab is
#: localCheckpoint'd once; re-apply depth is bounded by
#: _WP_CHECKPOINT_EVERY), and the post-merge symbol total rides the next
#: round's job as an Observation — one small constant-shape job per round.
#: Scoring, the argmax and its (score DESC, lhs, rhs) tie-break are the one
#: Spark SQL block both engines share (_best_by_score). "sql" runs the
#: Column-HOF loop ``_subword.train_merges`` — the cross-engine reference
#: test_wordpiece pins the arrow path against.
WP_ENGINE = "arrow"

#: bound the Python re-apply depth: every this-many merges the vocab is
#: re-checkpointed so round k never replays more than this many merges
#: (n_merges in the thousands stays O(k·V), not O(k²·V))
_WP_CHECKPOINT_EVERY = 8


def _merged(lhs: str, rhs: str) -> str:
    """The merged symbol: ``a`` + ``##b`` → ``ab``, ``##a`` + ``##b`` →
    ``##ab``. A just-merged stack top is strictly longer than ``lhs`` (a
    bare ``##`` is never a symbol), so the greedy stack scan holds."""
    return lhs + (rhs[2:] if rhs.startswith("##") else rhs)


def _wp_syms(word):
    """The ``##`` alphabet: first char bare, every word-internal char
    ##-prefixed."""
    cs = chars(word)
    return F.concat(
        F.slice(cs, 1, 1),
        F.transform(
            F.slice(cs, 2, F.greatest(F.size(cs) - 1, F.lit(0))),
            lambda c: F.concat(F.lit("##"), c),
        ),
    )


def _wp_vocab(df: DataFrame, text_col: str, word_pattern: str) -> DataFrame:
    """One corpus scan → (word, freq, syms) over the ``##`` alphabet."""
    return word_vocab(df, words(text_col, word_pattern), syms=_wp_syms)


def _best_by_score(pairs: DataFrame, sym_counts: DataFrame):
    """WordPiece's pick over ``(lhs, rhs, cnt)`` pairs and ``(sym, scnt)``
    unigram counts: ``cnt::double / (lhs_cnt · rhs_cnt)``, ties to
    (lhs, rhs) ascending. Returns ``(lhs, rhs, cnt, lhs_cnt, rhs_cnt)`` or
    None."""

    def side(name):
        return sym_counts.select(
            F.col("sym").alias(name), F.col("scnt").alias(f"{name}_cnt")
        )

    top = (
        pairs.join(side("lhs"), "lhs")
        .join(side("rhs"), "rhs")
        .withColumn(
            "score",
            F.col("cnt").cast("double") / (F.col("lhs_cnt") * F.col("rhs_cnt")),
        )
        .orderBy(F.desc("score"), "lhs", "rhs")
        .limit(1)
        .collect()  # bound: 1 row
    )
    if not top:  # all-single-symbol vocabulary
        return None
    b = top[0]
    return (b["lhs"], b["rhs"], int(b["cnt"]), int(b["lhs_cnt"]), int(b["rhs_cnt"]))


def _pick_sql(cur: DataFrame, pairs: DataFrame):
    """``train_merges``' pick: the symbol counts scan the unobserved vocab."""
    sym_counts = (
        cur.select("freq", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("freq").alias("scnt"))
    )
    return _best_by_score(pairs, sym_counts)


def _apply_merges_py(syms, merges) -> list:
    """Exact Python mirror of ``_subword.merge_expr``'s stack fold, applied
    for each learned merge in order: greedy-leftmost, a just-merged top
    never re-matches as lhs except in the lhs == rhs run case, which the
    linear scan resolves identically (even offsets within a run merge)."""
    out = list(syms)
    for lhs, rhs, merged in merges:
        nxt: list = []
        for x in out:
            if nxt and nxt[-1] == lhs and x == rhs:
                nxt[-1] = merged
            else:
                nxt.append(x)
        out = nxt
    return out


def _merged_vocab_arrow(base: DataFrame, merges: tuple) -> DataFrame:
    """``base`` with every merge in ``merges`` applied to ``syms`` — one
    mapInPandas carrying all other columns through unchanged."""
    if not merges:
        return base
    schema = base.schema
    cols = [f.name for f in schema.fields]

    def apply(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["syms"] = [_apply_merges_py(s, merges) for s in pdf["syms"]]
            yield pdf[cols]

    return base.mapInPandas(apply, schema)


def _wp_count_arrow(cur: DataFrame) -> DataFrame:
    """Adjacent-pair AND symbol unigram counts in ONE pass: per-task
    Counter partials (guide §2.3 — aggregate before you shuffle), tagged
    ``kind`` 'P'/'S', summed exactly by the downstream groupBy."""
    import pandas as pd

    def counter(batches):
        from collections import Counter

        cp: Counter = Counter()
        cs: Counter = Counter()
        for pdf in batches:
            for f, syms in zip(pdf["freq"], pdf["syms"]):
                f = int(f)
                prev = None
                for s in syms:
                    cs[s] += f
                    if prev is not None:
                        cp[(prev, s)] += f
                    prev = s
        rows = [("P", a, b, c) for (a, b), c in cp.items()] + [
            ("S", s, "", c) for s, c in cs.items()
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["kind", "a", "b", "cnt"])

    return cur.select("freq", "syms").mapInPandas(
        counter, "kind string, a string, b string, cnt long"
    )


def _wp_train_loop_arrow(vocab: DataFrame, n_merges: int) -> tuple[list, DataFrame]:
    """Arrow engine for the merge loop (see ``WP_ENGINE``). Exactness: the
    counts are integer sums (order-free), the score division/argmax/
    tie-break are the sql engine's own block, the merge fold is mirrored
    exactly, and the post-merge total is the same exact integer sum
    observed on the next round's scan."""
    from pyspark.sql import Observation

    base = vocab.localCheckpoint()
    merges: list = []  # (lhs, rhs, merged) applied in Python since base
    results = []
    pending = None  # last round's row, waiting for its post-merge total
    for it in range(n_merges):
        if len(merges) >= _WP_CHECKPOINT_EVERY:
            base = _merged_vocab_arrow(base, tuple(merges)).localCheckpoint()
            merges = []
        obs = Observation()
        cur = _merged_vocab_arrow(base, tuple(merges)).observe(
            obs, F.sum(F.col("freq") * F.size("syms")).alias("t")
        )
        agg = (
            _wp_count_arrow(cur)
            .groupBy("kind", "a", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
        best = _best_by_score(
            agg.where(F.col("kind") == "P").select(
                F.col("a").alias("lhs"), F.col("b").alias("rhs"), "cnt"
            ),
            agg.where(F.col("kind") == "S").select(
                F.col("a").alias("sym"), F.col("cnt").alias("scnt")
            ),
        )
        if pending is not None:
            # this round's scan observed Σ freq·|syms| AFTER the pending merge
            results.append((*pending, int(obs.get["t"])))
            pending = None
        if best is None:
            break
        merges.append((best[0], best[1], _merged(best[0], best[1])))
        pending = (it, *best)
    final = _merged_vocab_arrow(base, tuple(merges))
    if pending is not None:
        total = final.agg(
            F.sum(F.col("freq") * F.size("syms")).alias("t")
        ).collect()[0]["t"]  # bound: 1 row
        results.append((*pending, int(total)))
    return results, final


def _wp_train_loop(
    vocab: DataFrame, n_merges: int, engine: str | None = None
) -> tuple[list, DataFrame]:
    """The merge-learning loop; returns (rows, FINAL vocab). Driver state
    per round: one 5-number row (plus the bounded merge list on the arrow
    engine)."""
    if engine_name(engine, WP_ENGINE, "wordpiece") == "arrow":
        return _wp_train_loop_arrow(vocab, n_merges)
    return train_merges(vocab, n_merges, _pick_sql, _merged)


def wordpiece_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    engine: str | None = None,
) -> DataFrame:
    """Learn the first ``n_merges`` WordPiece merges from a text column.

    Returns one row per round:
    ``(iter, lhs, rhs, pair_count, lhs_count, rhs_count, total_syms)`` —
    the chosen pair, its frequency-weighted adjacent-pair count, BOTH
    unigram symbol counts entering the score denominator (so the oracle
    pins the score's inputs exactly, not just the winner), and
    Σ freq·|syms| over the vocab AFTER the merge (pins the application
    step, like bpe_train). ``engine`` is "arrow" (default) or "sql"."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = _wp_vocab(df, text_col, word_pattern).select("freq", "syms")
    results, cur = _wp_train_loop(vocab, n_merges, engine=engine)
    cur.unpersist()
    return results_frame(df.sparkSession, results, WP_RESULTS)


def wordpiece_model(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    engine: str | None = None,
) -> tuple[list, DataFrame]:
    """TRAIN-OFFLINE artifact pair for WordPiece — the deployment split the
    round-9 bench breach asked for (VERDICT r9 #1; same shape as
    unigram_model / quality_logreg_train).

    Returns ``(results, seg)``:

    - ``results`` — the per-round merge rows (wordpiece_train's content,
      as a plain list: bounded driver state, n_merges rows);
    - ``seg`` — the MERGE-CLOSED vocab segmentation ``(word, syms)`` as a
      materialized parquet scan: every serving pass (segment / tokenize /
      maximal-munch apply) derives its broadcast dimension from it with
      zero training jobs."""
    from zio_analytics_spark.tmpdirs import materialize_table

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = _wp_vocab(df, text_col, word_pattern)
    results, cur = _wp_train_loop(vocab, n_merges, engine=engine)
    seg = materialize_table(cur.select("word", "syms"), prefix="zas_wp_seg_")
    cur.unpersist()
    return results, seg


def wordpiece_segment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Apply side: segment every document with the learned merges →
    ``(id, n_words, n_tokens)`` (the ``_subword`` serving shape). This is
    the merge-consistent segmentation the trainer defines; serving stacks
    usually apply longest-match over the final vocab, which coincides on
    merge-closed vocabularies — :func:`wordpiece_tokenize` exposes the
    pieces themselves, ``##`` prefixes included, and
    :func:`wordpiece_apply` runs longest-match.

    ``seg`` is the pretrained ``(word, syms)`` table from
    :func:`wordpiece_model`; when given, zero training jobs run here."""
    if seg is None:
        _, seg = wordpiece_model(df, text_col, n_merges, word_pattern)
    return count_tokens(df, id_col, words(text_col, word_pattern), seg)


def wordpiece_tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Serving surface: the actual ``##``-prefixed piece sequence per
    document — ``(id, tokens array<string>, n_tokens)``, bpe_tokenize's
    plan shape.

    ``seg`` is the pretrained ``(word, syms)`` table from
    :func:`wordpiece_model`; when given, zero training jobs run here."""
    if seg is None:
        _, seg = wordpiece_model(df, text_col, n_merges, word_pattern)
    return assemble_tokens(df, id_col, words(text_col, word_pattern), seg)


def wordpiece_vocab_pieces(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    model: tuple[list, DataFrame] | None = None,
) -> tuple[list, list]:
    """Train and return the PIECE VOCABULARY as two driver-side lists:
    ``(bare_pieces, cont_pieces)`` — the initial alphabet (first-position
    chars bare, word-internal chars ##-prefixed) plus every merged symbol
    from the ``n_merges`` rounds. Bounded by |alphabet| + n_merges (a real
    30k-piece vocab is still broadcast-scale), which is what lets the
    serving tokenizer hold it as one broadcast set.

    ``model`` is the pretrained ``(results, seg)`` pair from
    :func:`wordpiece_model`; when given, only the bounded alphabet
    distinct runs here — zero training jobs."""
    if model is not None:
        results, cur = model
    else:
        vocab = _wp_vocab(df, text_col, word_pattern).select("freq", "syms")
        results, cur = _wp_train_loop(vocab, n_merges)
    alphabet = {
        r["sym"]  # bound: ≤ |alphabet| + n_merges rows
        for r in cur.select(F.explode("syms").alias("sym")).distinct().collect()
    }
    if model is None:
        cur.unpersist()
    # merged symbols from the training rows; the surviving alphabet plus
    # ALL merge products is the standard WordPiece vocab (a merge's parts
    # stay in the vocab — serving may still need them)
    pieces = set(alphabet)
    for _it, lhs, rhs, _pc, _lc, _rc, _tot in results:
        pieces.update((lhs, rhs, _merged(lhs, rhs)))
    bare = sorted(p for p in pieces if not p.startswith("##"))
    cont = sorted(p[2:] for p in pieces if p.startswith("##"))
    return bare, cont


def wordpiece_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    word_pattern: str = WORD_PATTERN,
    unk: str = "[UNK]",
    apply_df: DataFrame | None = None,
    model: tuple[list, DataFrame] | None = None,
) -> DataFrame:
    """SERVING-algorithm WordPiece tokenization: greedy LONGEST-MATCH-FIRST
    (maximal munch) against the trained piece vocabulary — the algorithm
    BERT's WordPieceTokenizer actually runs, as opposed to the
    merge-replay segmentation :func:`wordpiece_tokenize` derives from
    training (the two coincide on merge-closed vocabularies but can
    differ in general; shipping BOTH makes the difference testable). A
    word with an unmatchable position maps to the single ``unk`` piece
    (the BERT convention).

    ``apply_df`` lets a vocab trained on one corpus tokenize ANOTHER —
    the train-offline/serve-online shape; this is where ``unk`` actually
    fires (corpus-self application never does: every word's own chars
    are in the alphabet). ``model`` is the pretrained ``(results, seg)``
    pair from :func:`wordpiece_model`; when given, zero training jobs
    run here (the round-9 bench-breach fix).

    The piece vocab is a broadcast Python set; maximal munch runs ONCE per
    DISTINCT word of the apply corpus (Zipf-bounded) inside one Arrow
    ``mapInPandas``, and the corpus pass is wordpiece_tokenize's. Returns
    ``(id, tokens array<string>, n_tokens)``; wordless documents are excluded."""
    import pandas as pd

    from zio_analytics_spark.tmpdirs import materialize_table

    bare, cont = wordpiece_vocab_pieces(
        df, text_col, n_merges, word_pattern, model=model
    )
    bare_set, cont_set = set(bare), set(cont)
    max_len = max((len(p) for p in bare_set | cont_set), default=1)
    target = apply_df if apply_df is not None else df

    toks = words(text_col, word_pattern)
    distinct = target.select(F.explode(toks).alias("word")).distinct()

    def munch(batches):
        for pdf in batches:
            out_w, out_p = [], []
            for word in pdf["word"]:
                pieces: list[str] = []
                pos = 0
                while pos < len(word):
                    table = bare_set if pos == 0 else cont_set
                    ln = min(max_len, len(word) - pos)
                    while ln > 0 and word[pos : pos + ln] not in table:
                        ln -= 1
                    if ln == 0:
                        pieces = [unk]
                        break
                    frag = word[pos : pos + ln]
                    pieces.append(frag if pos == 0 else "##" + frag)
                    pos += ln
                out_w.append(word)
                out_p.append(pieces)
            yield pd.DataFrame({"word": out_w, "syms": out_p})

    dim = materialize_table(
        distinct.repartition(
            distinct.sparkSession.sparkContext.defaultParallelism
        ).mapInPandas(munch, "word string, syms array<string>"),
        prefix="zas_wp_mm_",
    )
    return assemble_tokens(target, id_col, toks, dim)
