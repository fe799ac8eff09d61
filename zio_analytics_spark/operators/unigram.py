"""[EXT] Unigram-LM (SentencePiece-style) tokenizer TRAINING — the second
production tokenizer family next to BPE (operators/bpe.py), per Kudo 2018,
"Subword Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates" (public algorithm). Where BPE grows a vocab
bottom-up by merging, unigram-LM starts from a LARGE candidate piece set
and iterates EM: score pieces by a unigram language model, segment the
corpus by maximum likelihood, re-estimate piece counts from the chosen
segmentations, prune pieces that stopped being used.

This implementation is the deterministic HARD-EM (Viterbi-EM) variant —
the E-step keeps only each word's single best segmentation — with every
source of nondeterminism pinned so a SQL oracle can replay training
bit-for-bit:

- FIXED iteration count (no convergence test);
- piece log-probs are INTEGER fixed-point: ``ilogp = round((ln(cnt) −
  ln(total)) · 10⁶)`` as BIGINT — the Viterbi DP then sums/compares
  integers only, so path scores are exact and engine-independent (the
  single per-piece ``ln`` is the only float op, pinned by the rounding);
- Viterbi tie-break: among equal-score segmentations the backtrace picks
  the match with the SMALLEST start (= longest last piece), recursively;
- seed selection tie-break: candidates rank by (count DESC, piece ASC).

Scale shape: the corpus scan, the vocab it builds and the serving passes
are the ``_subword`` ones every tokenizer here shares. Every EM round runs
on the Zipf-bounded ``(word, freq)`` vocab, so its cost is independent of
the corpus row count. The piece table is bounded by ``top_k + |alphabet|``
rows; single characters are never pruned (floor count 1), so the DP never
sees an unreachable position.

Reference scope note: the zio-analytics reference (Expression.scala:19-43)
stops at fixed string ops; tokenizer training is part of this repo's
[EXT] LLM-pipeline surface (SURVEY.md §2), not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zio_analytics_spark.operators._subword import (
    WORD_PATTERN,
    assemble_tokens,
    count_tokens,
    engine_name,
    results_frame,
    word_vocab,
    words,
)

__all__ = ["unigram_train", "unigram_model", "unigram_segment", "unigram_tokenize"]

#: Default Viterbi engine (round-17, guide §4). "arrow" runs the per-word DP
#: as ONE mapInPandas over the Zipf-bounded vocab — the piece model is a
#: bounded Python dict closure, scores are the same int64 fixed-point values
#: (exact in any engine), and the recount leaves each task as pre-aggregated
#: (piece, cnt) partials. "sql" keeps the original pure-Column-HOF pipeline;
#: it is the cross-engine reference test_unigram pins the arrow path against.
#: Why: the HOF DP is CodegenFallback and its plan is rebuilt per EM round —
#: Catalyst re-analysis + Janino compile dominated unigram_train's first shot
#: (~10.4 s measured r16; data work is milliseconds at any SF). ilogp is
#: STILL computed by the same Spark expression (_with_ilogp, one tiny job on
#: the bounded piece table) so the only float op keeps bit-identical
#: JVM semantics in both engines.
VITERBI_ENGINE = "arrow"


def _substr_structs(max_piece_len: int):
    """All (s, e, piece) substrings of ``word`` with 1 ≤ e−s ≤ max_piece_len,
    0-based [s, e) offsets — one flatten(transform(transform)) expression."""
    return F.expr(
        f"flatten(transform(sequence(0, length(word) - 1), s -> "
        f"transform(sequence(1, least({int(max_piece_len)}, length(word) - s)), "
        f"l -> struct(s AS s, s + l AS e, substring(word, s + 1, l) AS piece))))"
    )


def _with_ilogp(pieces: DataFrame) -> DataFrame:
    """Attach the fixed-point unigram log-prob: ilogp = round((ln(cnt) −
    ln(Σcnt))·10⁶) as BIGINT. The total enters the plan as a broadcast
    1-row aggregate — no collect, no driver round-trip."""
    tot = pieces.agg(F.sum("cnt").alias("__tot"))
    return (
        pieces.crossJoin(F.broadcast(tot))
        .withColumn(
            "ilogp",
            F.round(
                (F.log(F.col("cnt").cast("double")) - F.log(F.col("__tot").cast("double")))
                * F.lit(1000000.0)
            ).cast("long"),
        )
        .drop("__tot")
    )


def _ilogp_rows(spark: SparkSession, pairs: list) -> list:
    """``[(piece, cnt, ilogp)]`` for a bounded driver-side piece list, via
    ONE tiny JVM projection job. The expression is _with_ilogp's exactly —
    ``round((ln(cnt) − ln(tot))·10⁶)`` with both operands cast long→double
    in the JVM — but the total enters as a literal (it is an exact integer
    sum the driver already holds), so no aggregate and no broadcast
    exchange: the r16 shape cost ~1-3 s PER ROUND in plan/exchange
    overhead on an 88-row local table (measured r17)."""
    tot = sum(c for _, c in pairs)
    scored = results_frame(spark, pairs, "piece string, cnt bigint").withColumn(
        "ilogp",
        F.round(
            (F.log(F.col("cnt").cast("double")) - F.log(F.lit(tot).cast("double")))
            * F.lit(1000000.0)
        ).cast("long"),
    )
    return [(r["piece"], r["cnt"], r["ilogp"]) for r in scored.collect()]  # bound: |pieces| rows


def _viterbi_toks_py(word: str, lp: dict, L: int) -> list:
    """Pure-Python mirror of the Column-HOF Viterbi (same DP, same
    smallest-start tie-break, tokens LAST-PIECE-FIRST). All scores are the
    int64 fixed-point ``ilogp`` values — integer sums and compares, so the
    result is exact and engine-independent (pinned vs the sql engine in
    test_unigram::test_engines_equivalent). Raises on a word the piece set
    cannot cover — impossible in training, where every single character of
    the vocab is a floored piece (the coverage guarantee)."""
    n = len(word)
    best = [0] * (n + 1)
    for e in range(1, n + 1):
        m = None
        lo = e - L if e > L else 0
        for s in range(lo, e):
            v = lp.get(word[s:e])
            if v is not None and best[s] is not None:
                c = best[s] + v
                if m is None or c > m:
                    m = c
        if m is None:
            raise ValueError(f"piece set cannot cover word: {word!r}")
        best[e] = m
    toks = []
    pos = n
    while pos > 0:
        lo = pos - L if pos > L else 0
        for s in range(lo, pos):  # ascending = smallest-start tie-break
            v = lp.get(word[s:pos])
            if v is not None and best[s] + v == best[pos]:
                toks.append(word[s:pos])
                pos = s
                break
    return toks


#: words per Python task below which extra fan-out loses: one mapInPandas
#: task costs ~20-40 ms of dispatch vs ~1 ms of DP per 64 words (measured
#: r17: fanning a 31-word vocab to 32 tasks cost 1.2-1.7 s/call; 1 task
#: 0.42 s). Above it, tasks saturate the session's cores.
_WORDS_PER_TASK = 4096


def _vocab_parts(vocab_rows: int, spark: SparkSession) -> int:
    """Scale-adaptive Python-stage fan-out: ≥1 task per _WORDS_PER_TASK
    words, capped at defaultParallelism (cluster-tracking, never a
    literal). A tiny vocab runs one task; a 10M-word vocab fills the
    fleet."""
    dp = spark.sparkContext.defaultParallelism
    need = -(-int(vocab_rows) // _WORDS_PER_TASK)  # ceil
    return max(1, min(dp, need))


def _fan_out(df: DataFrame, n_parts: int) -> DataFrame:
    """Spread the vocab over ``n_parts`` tasks before per-row Python work."""
    return df.repartition(int(n_parts))


def _viterbi_paths_arrow(
    words: DataFrame, lp: dict, max_piece_len: int, n_parts: int = 1
) -> DataFrame:
    """Arrow engine for :func:`_viterbi_paths`: ``(word, freq, toks)`` via one
    mapInPandas — the bounded piece→ilogp dict rides the task closure."""
    import pandas as pd

    L = int(max_piece_len)

    def seg(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "freq": pdf["freq"],
                    "toks": [_viterbi_toks_py(w, lp, L) for w in pdf["word"]],
                }
            )

    return _fan_out(words.select("word", "freq"), n_parts).mapInPandas(
        seg, "word string, freq long, toks array<string>"
    )


def _viterbi_recount_arrow(
    words: DataFrame, lp: dict, max_piece_len: int, n_parts: int = 1
) -> DataFrame:
    """Arrow engine for the EM recount: Viterbi + piece recount in the SAME
    pass, leaving each task as pre-aggregated ``(piece, cnt)`` partials
    (map-side combine in Python — guide §2.3: aggregate before you shuffle;
    rows out per task ≈ |pieces|, not |vocab|·|toks|)."""
    import pandas as pd

    L = int(max_piece_len)

    def recount(batches):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            for w, f in zip(pdf["word"], pdf["freq"]):
                f = int(f)
                for t in _viterbi_toks_py(w, lp, L):
                    c[t] += f
        if c:
            yield pd.DataFrame({"piece": list(c.keys()), "cnt": list(c.values())})

    return _fan_out(words.select("word", "freq"), n_parts).mapInPandas(
        recount, "piece string, cnt long"
    )


def _viterbi_paths(
    words: DataFrame, scored_pieces: DataFrame, max_piece_len: int
) -> DataFrame:
    """Maximum-likelihood segmentation of every vocab word under the piece
    model: returns ``(word, freq, toks array<string>)``.

    All pure Column HOFs (codegen, no UDF):
    1. explode the word's (s, e, piece) substrings, broadcast-join the
       piece table → per-word match list ``ms``;
    2. DP forward pass: ``best[e] = max over matches (s,e) of best[s]+lp``
       via ``aggregate`` over positions (integer scores — exact);
    3. backtrace as a position PATH [n, s₁, s₂, …, 0] (ties → smallest
       start), then slice the word along consecutive path entries. The
       path encoding (a flat bigint array, not a struct accumulator)
       deliberately matches the DuckDB oracle's replay shape.
    Tokens come out LAST-PIECE-FIRST; counting and sizing don't care.
    """
    subs = words.select("word", "freq", F.explode(_substr_structs(max_piece_len)).alias("m"))
    mt = (
        subs.join(
            F.broadcast(scored_pieces.select("piece", "ilogp")),
            F.col("m.piece") == F.col("piece"),
        )
        .groupBy("word", "freq")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("m.s").cast("long").alias("s"),
                    F.col("m.e").cast("long").alias("e"),
                    F.col("ilogp").alias("lp"),
                )
            ).alias("ms")
        )
    )
    best = F.aggregate(
        F.sequence(F.lit(1), F.length("word")),
        F.array(F.lit(0).cast("long")),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.array_max(
                    F.transform(
                        F.filter(F.col("ms"), lambda m: m["e"] == e),
                        lambda m: F.element_at(acc, (m["s"] + 1).cast("int")) + m["lp"],
                    )
                )
            ),
        ),
    )
    dp = mt.withColumn("best", best)

    def _chosen_s(acc):
        # smallest start among matches ending at the current position whose
        # score is on the optimal path — the deterministic tie-break
        cur = F.element_at(acc, -1)
        return F.array_min(
            F.transform(
                F.filter(
                    F.col("ms"),
                    lambda m: (m["e"] == cur)
                    & (
                        F.element_at(F.col("best"), (m["s"] + 1).cast("int")) + m["lp"]
                        == F.element_at(F.col("best"), (cur + 1).cast("int"))
                    ),
                ),
                lambda m: m["s"],
            )
        )

    path = F.aggregate(
        F.sequence(F.lit(1), F.length("word")),
        F.array(F.length("word").cast("long")),
        lambda acc, _: F.when(F.element_at(acc, -1) <= 0, acc).otherwise(
            F.concat(acc, F.array(_chosen_s(acc)))
        ),
    )
    bt = dp.withColumn("path", path)
    toks = F.transform(
        F.sequence(F.lit(1), F.size("path") - 1),
        lambda i: F.col("word").substr(
            (F.element_at(F.col("path"), (i + 1).cast("int")) + 1).cast("int"),
            (
                F.element_at(F.col("path"), i.cast("int"))
                - F.element_at(F.col("path"), (i + 1).cast("int"))
            ).cast("int"),
        ),
    )
    return bt.select("word", "freq", toks.alias("toks"))


def _seed_cand_arrow(
    vocab: DataFrame, max_piece_len: int, n_parts: int = 1
) -> DataFrame:
    """Arrow engine for the seed candidate count: substring enumeration +
    per-task Counter partials in one mapInPandas (same partial-aggregate
    discipline as the recount — the groupBy sum downstream is exact)."""
    import pandas as pd

    L = int(max_piece_len)

    def cand(batches):
        from collections import Counter

        c: Counter = Counter()
        for pdf in batches:
            for w, f in zip(pdf["word"], pdf["freq"]):
                f = int(f)
                n = len(w)
                for s in range(n):
                    top = L if L < n - s else n - s
                    for ln in range(1, top + 1):
                        c[w[s : s + ln]] += f
        if c:
            yield pd.DataFrame({"piece": list(c.keys()), "cnt": list(c.values())})

    return _fan_out(vocab.select("word", "freq"), n_parts).mapInPandas(
        cand, "piece string, cnt long"
    )


def _seed_pieces(
    vocab: DataFrame, max_piece_len: int, top_k: int, engine: str, n_parts: int
) -> DataFrame:
    """Seed candidate set: every substring of length ≤ max_piece_len,
    counted with multiplicity × word frequency. Keeps ALL single characters
    (the coverage floor) plus the ``top_k`` multi-char candidates by
    (count DESC, piece ASC) — a TakeOrdered, never a global window rank."""
    if engine == "arrow":
        cand = (
            _seed_cand_arrow(vocab, max_piece_len, n_parts)
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        cand = (
            vocab.select("freq", F.explode(_substr_structs(max_piece_len)).alias("m"))
            .select("freq", F.col("m.piece").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
    singles = cand.where(F.length("piece") == 1)
    multi = (
        cand.where(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), "piece")
        .limit(int(top_k))
    )
    return singles.unionByName(multi)


def _em_driver(
    spark: SparkSession,
    vocab: DataFrame,
    n_iters: int,
    max_piece_len: int,
    top_k: int,
    engine: str,
    n_parts: int,
) -> list[tuple[str, int]]:
    """Run ``n_iters`` hard-EM rounds with BOUNDED driver state; returns the
    FINAL ``[(piece, cnt), …]`` list.

    The piece table is bounded by ``top_k + |alphabet|`` rows, so it is the
    same class of driver state as a k-means codebook or a BPE argmax row —
    each round does ONE Spark job (the Viterbi recount collect) instead of
    the round-9 persist+count barrier pair, and the round's piece model
    re-enters the plan as a broadcast ``createDataFrame``. Semantics are
    byte-identical to the DataFrame formulation the catalog oracle replays:
    multi-char pieces keep their recount, alphabet singles floor at 1 (the
    coverage guarantee), counts are exact BIGINT sums. ``vocab`` should be
    materialized/persisted by the caller — every round re-scans it.

    Engine (round-17): on the default "arrow" path each round runs the
    bounded ilogp job (same Spark expression as before — the one float op
    keeps JVM semantics) plus ONE mapInPandas recount job whose plan is
    two nodes; the "sql" path keeps the per-round Column-HOF Viterbi plan
    (re-analyzed + Janino-compiled every round — the r16-measured 10.4 s
    first-shot)."""
    # bound: |alphabet| singles + top_k multis
    rows = _seed_pieces(vocab, max_piece_len, top_k, engine, n_parts).collect()
    cur: list[tuple[str, int]] = sorted((r["piece"], int(r["cnt"])) for r in rows)
    # WORD_PATTERN-extracted words are plain codepoint strings on both
    # sides, so Python len() and Spark length() agree on "single char"
    alphabet = sorted(p for p, _ in cur if len(p) == 1)
    for _ in range(n_iters):
        if engine == "arrow":
            lp = {p: int(il) for p, _c, il in _ilogp_rows(spark, cur)}
            counts = (
                _viterbi_recount_arrow(vocab, lp, max_piece_len, n_parts)
                .groupBy("piece")
                .agg(F.sum("cnt").alias("cnt"))
                .collect()  # bound: ≤ |pieces| rows
            )
        else:
            cur_df = spark.createDataFrame(cur, "piece string, cnt long")
            counts = (
                _viterbi_paths(vocab, _with_ilogp(cur_df), max_piece_len)
                .select("freq", F.explode("toks").alias("piece"))
                .groupBy("piece")
                .agg(F.sum("freq").alias("cnt"))
                .collect()  # bound: ≤ |pieces| rows
            )
        cmap = {r["piece"]: int(r["cnt"]) for r in counts}
        cur = sorted(
            [(p, c) for p, c in cmap.items() if len(p) > 1]
            + [(ch, max(cmap.get(ch, 0), 1)) for ch in alphabet]
        )
    return cur


def _fit(
    df: DataFrame,
    text_col: str,
    n_iters: int,
    max_piece_len: int,
    top_k: int,
    word_pattern: str,
    engine: str | None,
) -> tuple[DataFrame, DataFrame, dict | None, int]:
    """Validate, scan the vocab once and run EM. Returns ``(vocab, pieces,
    lp, n_parts)``: the checkpointed ``(word, freq)`` vocab, the final
    ``(piece, cnt, ilogp)`` table, and on the arrow engine the piece →
    ilogp dict and the Python-stage fan-out (``None`` and 1 on sql)."""
    from zio_analytics_spark.tmpdirs import materialize_table

    eng = engine_name(engine, VITERBI_ENGINE, "unigram")
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    spark = df.sparkSession
    # localCheckpoint, not a parquet materialize: the vocab is a training-
    # internal intermediate re-scanned by every EM round (the same class
    # cluster_duplicates / linkage checkpoint — §5); the parquet committer
    # alone cost 1.4-2.7 s per write on this host (measured r17)
    vocab = word_vocab(df, words(text_col, word_pattern), syms=None).localCheckpoint()
    # one count (a scalar) on the checkpointed vocab sizes EVERY Python
    # stage of the run (seed, per-round recounts, the seg pass)
    n_parts = _vocab_parts(vocab.count(), spark) if eng == "arrow" else 1
    final = _em_driver(spark, vocab, n_iters, max_piece_len, top_k, eng, n_parts)
    if eng == "arrow":
        # same values as _with_ilogp (the JVM expression ran in
        # _ilogp_rows); the BOUNDED final table ships as an Arrow local
        # frame — a parquet round-trip (~1.4-2.7 s of committer overhead,
        # measured r17) buys nothing and clearCache() cannot evict it
        scored = _ilogp_rows(spark, final)
        pieces = results_frame(spark, scored, "piece string, cnt bigint, ilogp bigint")
        return vocab, pieces, {p: int(il) for p, _c, il in scored}, n_parts
    pieces = materialize_table(
        _with_ilogp(spark.createDataFrame(final, "piece string, cnt long")),
        prefix="zas_unigram_",
    )
    return vocab, pieces, None, n_parts


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
    engine: str | None = None,
) -> DataFrame:
    """Train a unigram-LM tokenizer vocabulary (hard-EM, fixed rounds).

    Returns the final piece table ``(piece, cnt, ilogp)``: surviving
    pieces with their last-round Viterbi counts and fixed-point unigram
    log-probs. Deterministic end to end (see module docstring), so the
    catalog oracle replays every EM round in SQL. ``engine`` selects the
    Viterbi implementation ("arrow" default / "sql" reference — identical
    results, pinned in test_unigram).
    """
    return _fit(df, text_col, n_iters, max_piece_len, top_k, word_pattern, engine)[1]


def unigram_model(
    df: DataFrame,
    text_col: str = "text",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
    engine: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """TRAIN-OFFLINE artifact pair — the deployment split the round-9
    bench breach asked for (VERDICT r9 #1; the quality_logreg_train/score
    shape from classify.py): train ONCE, hand the artifacts to every
    serving call instead of re-running EM inside each query.

    Returns ``(pieces, seg)``:

    - ``pieces`` — ``(piece, cnt, ilogp)``, exactly :func:`unigram_train`'s
      output;
    - ``seg`` — ``(word, toks array<string>)``, the final model's Viterbi
      segmentation of the Zipf-bounded vocab (tokens last-piece-first, the
      backtrace order), materialized — the dimension both
      :func:`unigram_segment` and :func:`unigram_tokenize` broadcast."""
    from zio_analytics_spark.tmpdirs import materialize_table

    vocab, pieces, lp, n_parts = _fit(
        df, text_col, n_iters, max_piece_len, top_k, word_pattern, engine
    )
    if lp is not None:
        seg_df = _viterbi_paths_arrow(vocab, lp, max_piece_len, n_parts)
    else:
        seg_df = _viterbi_paths(vocab, pieces, max_piece_len)
    seg = materialize_table(seg_df.select("word", "toks"), prefix="zas_unigram_seg_")
    return pieces, seg


def unigram_segment(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Apply side: ``(id, n_words, n_tokens)`` per document over the
    Viterbi segmentation of the vocab (the ``_subword`` serving shape).

    ``seg`` is the pretrained ``(word, toks)`` table from
    :func:`unigram_model` — the train-offline/serve-online split: when
    given, this call runs ZERO training jobs (the round-9 bench-breach
    fix). When None, the model is trained here from ``df``."""
    if seg is None:
        _, seg = unigram_model(
            df, text_col, n_iters, max_piece_len, top_k, word_pattern
        )
    seg = seg.withColumnRenamed("toks", "syms")
    return count_tokens(df, id_col, words(text_col, word_pattern), seg)


def unigram_tokenize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = 2,
    max_piece_len: int = 3,
    top_k: int = 64,
    word_pattern: str = WORD_PATTERN,
    seg: DataFrame | None = None,
) -> DataFrame:
    """Serving surface (``bpe_tokenize``'s sibling): each document's
    actual PIECE SEQUENCE in word order, ``(id, tokens array<string>,
    n_tokens)`` — the backtrace pieces are reversed into word order in the
    broadcast dimension.

    ``seg`` is the pretrained ``(word, toks)`` table from
    :func:`unigram_model`; when given, zero training jobs run here."""
    if seg is None:
        _, seg = unigram_model(
            df, text_col, n_iters, max_piece_len, top_k, word_pattern
        )
    dim = seg.select("word", F.reverse("toks").alias("syms"))
    return assemble_tokens(df, id_col, words(text_col, word_pattern), dim)
