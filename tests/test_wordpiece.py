"""WordPiece trainer (operators/wordpiece.py): naive-equivalence against a
direct dict-based reimplementation of Schuster & Nakajima's merge rule,
plus the ``##`` continuation-alphabet contract."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from zio_analytics_spark.operators.wordpiece import (
    wordpiece_segment,
    wordpiece_tokenize,
    wordpiece_train,
)


def naive_wordpiece(texts, n_merges):
    """Reference trainer: literal Counter loops, greedy leftmost merge
    application, (score DESC, lhs, rhs) argmax with the exact double
    division the Spark side computes."""
    vocab = Counter()
    for t in texts:
        for w in re.findall("[a-z]+", t.lower()):
            vocab[w] += 1
    segs = {w: [w[0]] + ["##" + c for c in w[1:]] for w in vocab}
    rows = []
    for it in range(n_merges):
        pc, sc = Counter(), Counter()
        for w, f in vocab.items():
            s = segs[w]
            for sym in s:
                sc[sym] += f
            for a, b in zip(s, s[1:]):
                pc[a, b] += f
        if not pc:
            break
        best = min(pc, key=lambda p: (-(pc[p] / (sc[p[0]] * sc[p[1]])), p[0], p[1]))
        l, r = best
        merged = l + (r[2:] if r.startswith("##") else r)
        for w in segs:
            s, ns, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            segs[w] = ns
        total = sum(f * len(segs[w]) for w, f in vocab.items())
        rows.append((it, l, r, pc[best], sc[l], sc[r], total))
    return rows, segs


CORPORA = [
    ["the cat sat on the mat", "the mats were catty", "a cat and a hat",
     "banana bandana", "sat mat cat hat that", "the the the theme"],
    ["low lower lowest", "new newer newest", "wide wider widest",
     "old older oldest bold bolder"],
    ["aaa aa a aaaa", "bab abab baba", "zzz zz z"],  # lhs==rhs overlap runs
]


@pytest.mark.parametrize("corpus_i", range(len(CORPORA)))
def test_wordpiece_train_matches_naive(spark, corpus_i):
    texts = CORPORA[corpus_i]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in wordpiece_train(df, n_merges=5).orderBy("iter").collect()]
    exp, _ = naive_wordpiece(texts, 5)
    assert got == exp


def test_wordpiece_segment_and_tokenize_match_naive(spark):
    texts = CORPORA[0]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    _, segs = naive_wordpiece(texts, 5)
    got_seg = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in wordpiece_segment(df, n_merges=5).collect()
    }
    got_tok = {
        r["doc_id"]: r["tokens"] for r in wordpiece_tokenize(df, n_merges=5).collect()
    }
    for i, t in enumerate(texts):
        ws = re.findall("[a-z]+", t.lower())
        assert got_seg[i] == (len(ws), sum(len(segs[w]) for w in ws))
        assert got_tok[i] == [p for w in ws for p in segs[w]]


def test_wordpiece_score_beats_raw_frequency(spark):
    """The defining WordPiece property: a frequent pair with VERY frequent
    parts loses to a rarer pair with rare parts. 'th' dominates raw counts
    (BPE would pick it) but score = cnt/(cnt_l·cnt_r) prefers the pair
    whose parts occur nowhere else."""
    texts = ["the this that then them"] * 10 + ["qux qux"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    first = wordpiece_train(df, n_merges=1).collect()[0]
    # naive check: same corpus through the reference trainer
    exp, _ = naive_wordpiece(texts, 1)
    assert (first["lhs"], first["rhs"]) == (exp[0][1], exp[0][2])
    assert (first["lhs"], first["rhs"]) != ("t", "##h")  # not the BPE pick


def test_wordpiece_alphabet_convention(spark):
    """Continuation symbols carry ##; merging a + ##b strips the prefix;
    ##a + ##b keeps it. Single-char words segment to one bare symbol."""
    df = spark.createDataFrame([(0, "ab ab ab a b x")], "doc_id long, text string")
    r = wordpiece_train(df, n_merges=1).collect()[0]
    assert (r["lhs"], r["rhs"]) == ("a", "##b")
    tok = {
        row["doc_id"]: row["tokens"]
        for row in wordpiece_tokenize(df, n_merges=1).collect()
    }
    assert tok[0] == ["ab", "ab", "ab", "a", "b", "x"]


def test_wordpiece_validation(spark):
    df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        wordpiece_train(df, n_merges=0)
    with pytest.raises(ValueError, match="engine"):
        wordpiece_train(df, n_merges=2, engine="bogus")


def test_wordpiece_wordless_docs_excluded(spark):
    df = spark.createDataFrame(
        [(0, "some words here"), (1, "12345 !!!"), (2, "")],
        "doc_id long, text string",
    )
    ids = [r["doc_id"] for r in wordpiece_segment(df, n_merges=2).collect()]
    assert ids == [0]


def naive_munch(word, bare, cont, unk="[UNK]"):
    bs, cs = set(bare), set(cont)
    ml = max(len(p) for p in bs | cs)
    pieces, pos = [], 0
    while pos < len(word):
        table = bs if pos == 0 else cs
        ln = min(ml, len(word) - pos)
        while ln > 0 and word[pos : pos + ln] not in table:
            ln -= 1
        if ln == 0:
            return [unk]
        pieces.append(word[pos : pos + ln] if pos == 0 else "##" + word[pos : pos + ln])
        pos += ln
    return pieces


def test_wordpiece_apply_matches_naive_munch(spark):
    """The serving tokenizer (longest-match-first over the trained piece
    vocab) equals a direct Python maximal-munch over the same pieces."""
    import re

    from zio_analytics_spark.operators.wordpiece import (
        wordpiece_apply,
        wordpiece_vocab_pieces,
    )

    texts = CORPORA[0]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bare, cont = wordpiece_vocab_pieces(df, n_merges=5)
    out = {r["doc_id"]: r["tokens"] for r in wordpiece_apply(df, n_merges=5).collect()}
    for i, t in enumerate(texts):
        ws = re.findall("[a-z]+", t.lower())
        assert out[i] == [p for w in ws for p in naive_munch(w, bare, cont)]


def test_wordpiece_apply_unk_on_foreign_corpus(spark):
    """[UNK] fires only cross-corpus: a word starting with a character
    never seen word-initially in training has no bare piece to start
    from — the whole word collapses to [UNK] (BERT convention)."""
    from zio_analytics_spark.operators.wordpiece import wordpiece_apply

    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPORA[0])], "doc_id long, text string"
    )
    apply = spark.createDataFrame(
        [(100, "xylophone the cat")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["tokens"]
           for r in wordpiece_apply(train, n_merges=5, apply_df=apply).collect()}
    assert out[100][0] == "[UNK]"
    assert "[UNK]" not in out[100][1:]  # the known words still tokenize


def test_wordpiece_apply_can_diverge_from_merge_replay(spark):
    """The two segmentations are DIFFERENT algorithms: maximal munch takes
    the longest vocab piece, merge replay applies training history. With
    pieces {'a','ab','##b','##c'} learned from 'ab' merges, the word
    'abc' munches to [ab, ##c]-style greedy splits while replay follows
    the merge order — assert both run and agree on token COUNTS for this
    corpus or differ only in split points, never in concatenation."""
    from zio_analytics_spark.operators.wordpiece import (
        wordpiece_apply,
        wordpiece_tokenize,
    )

    texts = ["abc abd ab ab ab", "abc abc abd"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    munch = {r["doc_id"]: r["tokens"] for r in wordpiece_apply(df, n_merges=3).collect()}
    replay = {r["doc_id"]: r["tokens"] for r in wordpiece_tokenize(df, n_merges=3).collect()}
    for i in munch:
        # both must spell the same text back (## stripped, concatenated)
        def respell(toks):
            return "".join(t[2:] if t.startswith("##") else t for t in toks)
        assert respell(munch[i]) == respell(replay[i])


def test_engines_equivalent(spark):
    """Round-17: the arrow training engine (Python counting/merging, SQL
    scoring) must reproduce the sql (Column-HOF) engine EXACTLY — every
    per-round row and the final merged segmentation."""
    from zio_analytics_spark.operators.wordpiece import wordpiece_model

    texts = [
        "hugs hugging hugged bug bugs pugs pug",
        "the hug hug hug of bugs and pugs",
        "aaaa aaa aa a",  # lhs == rhs run-resolution case
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    res_sql, seg_sql = wordpiece_model(df, n_merges=5, engine="sql")
    res_ar, seg_ar = wordpiece_model(df, n_merges=5, engine="arrow")
    assert res_ar == res_sql
    d_sql = {r["word"]: list(r["syms"]) for r in seg_sql.collect()}
    d_ar = {r["word"]: list(r["syms"]) for r in seg_ar.collect()}
    assert d_ar == d_sql
