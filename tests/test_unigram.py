"""Unigram-LM tokenizer training (operators/unigram.py): hand-checked
fixture, randomized equivalence vs a pure-Python reference implementation
of the same hard-EM spec, segment consistency, and plan shape."""

from __future__ import annotations

import math
import random
import re
from collections import Counter

import pytest

from zio_analytics_spark.operators.unigram import unigram_segment, unigram_train


# --- pure-Python reference of the exact spec --------------------------------

def _naive_viterbi(w: str, ilogp: dict, L: int) -> list[str]:
    n = len(w)
    best = [0] + [None] * n
    for e in range(1, n + 1):
        best[e] = max(
            best[s] + ilogp[w[s:e]]
            for s in range(max(0, e - L), e)
            if w[s:e] in ilogp
        )
    toks, pos = [], n
    while pos > 0:
        s = min(
            s
            for s in range(max(0, pos - L), pos)
            if w[s:pos] in ilogp and best[s] + ilogp[w[s:pos]] == best[pos]
        )
        toks.append(w[s:pos])  # last-piece-first, same as the operator
        pos = s
    return toks


def _naive_unigram(texts, n_iters: int, L: int, top_k: int) -> dict:
    words = Counter()
    for t in texts:
        for w in re.findall("[a-z]+", t.lower()):
            words[w] += 1
    cand = Counter()
    for w, f in words.items():
        for s in range(len(w)):
            for l in range(1, min(L, len(w) - s) + 1):
                cand[w[s : s + l]] += f
    singles = {p: c for p, c in cand.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in cand.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:top_k]
    pieces = dict(singles, **dict(multi))
    alphabet = set(singles)
    for _ in range(n_iters):
        tot = sum(pieces.values())
        ilogp = {
            p: round((math.log(c) - math.log(tot)) * 1e6) for p, c in pieces.items()
        }
        counts = Counter()
        for w, f in words.items():
            for tok in _naive_viterbi(w, ilogp, L):
                counts[tok] += f
        pieces = {p: c for p, c in counts.items() if len(p) > 1}
        for ch in alphabet:
            pieces[ch] = max(counts.get(ch, 0), 1)
    tot = sum(pieces.values())
    return {
        p: (c, round((math.log(c) - math.log(tot)) * 1e6)) for p, c in pieces.items()
    }


def _naive_segment(texts, n_iters, L, top_k):
    words_per_doc = {
        i: re.findall("[a-z]+", t.lower()) for i, t in enumerate(texts)
    }
    final = _naive_unigram(texts, n_iters, L, top_k)
    tot = sum(c for c, _ in final.values())
    ilogp = {
        p: round((math.log(c) - math.log(tot)) * 1e6) for p, (c, _) in final.items()
    }
    out = {}
    for i, ws in words_per_doc.items():
        if not ws:
            continue
        out[i] = (len(ws), sum(len(_naive_viterbi(w, ilogp, L)) for w in ws))
    return out


# --- tests ------------------------------------------------------------------

def test_hand_checked_tiny_corpus(spark):
    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "a cat and a hat",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["piece"]: (r["cnt"], r["ilogp"])
        for r in unigram_train(df, n_iters=2, max_piece_len=3, top_k=10).collect()
    }
    # "the"/"at"/"cat" dominate; they must survive with their path counts
    assert got["the"][0] == 4
    assert got["cat"][0] == 3
    assert got["at"][0] == 4
    assert got == _naive_unigram(texts, 2, 3, 10)


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_randomized_naive_equivalence(spark, seed):
    rng = random.Random(seed)
    alpha = "abcd"
    texts = [
        " ".join(
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(2, 10))
        )
        for _ in range(25)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n_iters, L, top_k = rng.choice([(1, 2, 8), (2, 3, 12), (3, 3, 6)])
    got = {
        r["piece"]: (r["cnt"], r["ilogp"])
        for r in unigram_train(
            df, n_iters=n_iters, max_piece_len=L, top_k=top_k
        ).collect()
    }
    assert got == _naive_unigram(texts, n_iters, L, top_k)


def test_segment_matches_naive(spark):
    rng = random.Random(3)
    texts = [
        " ".join(
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(1, 8))
        )
        for _ in range(20)
    ] + ["1234 %%"]  # wordless doc: excluded
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in unigram_segment(df, n_iters=2, max_piece_len=3, top_k=10).collect()
    }
    assert got == _naive_segment(texts, 2, 3, 10)
    assert len(texts) - 1 not in got  # the wordless doc is absent


def test_single_chars_never_pruned(spark):
    # one dominant multi-char piece: every char must still be in the vocab
    df = spark.createDataFrame(
        [(1, "aaab aaab aaab")], "doc_id long, text string"
    )
    got = {r["piece"] for r in unigram_train(df, n_iters=3, max_piece_len=3, top_k=4).collect()}
    assert {"a", "b"} <= got


def test_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        unigram_train(df, n_iters=0)
    with pytest.raises(ValueError):
        unigram_train(df, max_piece_len=0)
    with pytest.raises(ValueError, match="engine"):
        unigram_train(df, engine="bogus")


def test_plan_shape(spark):
    # apply-side corpus pass: broadcast dimension join, no cartesian, and
    # the whole train loop contains no Python UDF (pure Column HOFs)
    df = spark.createDataFrame(
        [(i, "the cat sat") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        unigram_segment(df, n_iters=1, max_piece_len=3, top_k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("seed", [5, 23])
def test_engines_equivalent(spark, seed):
    """Round-17: the arrow (mapInPandas) Viterbi engine must reproduce the
    sql (Column-HOF) engine EXACTLY — final piece table (counts and
    ilogp), and the full per-word segmentation including tie-breaks and
    token order (the test_pq cross-engine pin, for the tokenizer)."""
    from zio_analytics_spark.operators.unigram import unigram_model

    rng = random.Random(seed)
    texts = [
        " ".join(
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(2, 12))
        )
        for _ in range(30)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    p_sql, s_sql = unigram_model(df, n_iters=2, max_piece_len=3, top_k=12,
                                 engine="sql")
    p_ar, s_ar = unigram_model(df, n_iters=2, max_piece_len=3, top_k=12,
                               engine="arrow")
    tbl_sql = {r["piece"]: (r["cnt"], r["ilogp"]) for r in p_sql.collect()}
    tbl_ar = {r["piece"]: (r["cnt"], r["ilogp"]) for r in p_ar.collect()}
    assert tbl_ar == tbl_sql
    seg_sql = {r["word"]: list(r["toks"]) for r in s_sql.collect()}
    seg_ar = {r["word"]: list(r["toks"]) for r in s_ar.collect()}
    assert seg_ar == seg_sql  # token-for-token, backtrace order included


def test_arrow_is_default_and_in_plan(spark):
    """The default engine is arrow and the training recount actually runs
    through MapInPandas (guide §4: the HOF DP was the first-shot cost)."""
    from zio_analytics_spark.operators import unigram as U

    assert U.VITERBI_ENGINE == "arrow"
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    )
    from zio_analytics_spark.operators._subword import word_vocab, words
    from zio_analytics_spark.tmpdirs import materialize_table

    vocab = materialize_table(
        word_vocab(df, words("text", "[a-z]+"), syms=None), prefix="zas_unigram_voc_"
    )
    plan = (
        U._viterbi_recount_arrow(vocab, {"t": -1, "h": -1, "e": -1}, 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan


def test_tokenize_matches_naive(spark):
    from zio_analytics_spark.operators.unigram import unigram_tokenize

    rng = random.Random(11)
    texts = [
        " ".join(
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(1, 8))
        )
        for _ in range(15)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in unigram_tokenize(df, n_iters=2, max_piece_len=3, top_k=10).collect()
    }
    final = _naive_unigram(texts, 2, 3, 10)
    tot = sum(c for c, _ in final.values())
    ilogp = {
        p: round((math.log(c) - math.log(tot)) * 1e6) for p, (c, _) in final.items()
    }
    want = {}
    for i, t in enumerate(texts):
        ws = re.findall("[a-z]+", t.lower())
        if not ws:
            continue
        toks = []
        for w in ws:
            toks.extend(reversed(_naive_viterbi(w, ilogp, 3)))  # to word order
        want[i] = (toks, len(toks))
    assert got == want
