"""Bigram-LM quality scoring: identical-arithmetic pure-Python parity
(randomized), trained-model contracts, OOV/backoff paths, degenerate
docs, and the natural-vs-gibberish perplexity ordering."""

from __future__ import annotations

import math
import random
import re
from collections import Counter

import pytest

from hexspark.ops.lm import lm_score, train_bigram_lm

_DDL = "doc_id int, text string"

_TRAIN = [
    (1, "the cat sat on the mat"),
    (2, "the cat ran to the mat"),
    (3, "a dog sat on a log"),
    (4, "the dog ran to the log"),
]


def _tok(t):
    return re.findall(r"[a-z0-9]+", t.lower())


def _py_lm(train, min_count=2, k=0.5):
    uni = Counter(w for _, t in train for w in _tok(t))
    n = sum(uni.values())
    vocab = {w: c for w, c in uni.items() if c >= min_count}
    bi = Counter(
        (ws[i], ws[i + 1])
        for _, t in train
        for ws in [_tok(t)]
        for i in range(len(ws) - 1)
        if ws[i] in vocab
    )
    return uni, vocab, bi, n, len(vocab), k


def _py_score(text, model):
    _, vocab, bi, n, v, k = model
    pad = k * (v + 1)
    lp1 = lambda w: math.log2((vocab.get(w, 0) + k) / (n + pad))
    ws = _tok(text)
    if not ws:
        return (0, None, None)
    lp = lp1(ws[0])
    for w1, w2 in zip(ws, ws[1:]):
        if w1 in vocab:
            lp += math.log2((bi.get((w1, w2), 0) + k) / (vocab[w1] + pad))
        else:
            lp += lp1(w2)
    h = -lp / len(ws)
    return (len(ws), h, 2.0 ** h)


def _spark_scores(spark, train, docs, min_count=2, k=0.5):
    lm = train_bigram_lm(spark.createDataFrame(train, _DDL), min_count=min_count, k=k)
    out = lm_score(spark.createDataFrame(docs, _DDL), lm)
    return lm, {
        r["doc_id"]: (r["n_tokens"], r["cross_entropy"], r["perplexity"])
        for r in out.collect()
    }


def test_trained_model_counts(spark):
    lm = train_bigram_lm(spark.createDataFrame(_TRAIN, _DDL))
    uni, vocab, bi, n, v, _ = _py_lm(_TRAIN)
    assert lm.n_tokens == n == 24
    assert lm.vocab_size == v
    got_uni = {r["w"]: r["c1"] for r in lm.unigrams.collect()}
    assert got_uni == vocab
    got_bi = {(r["w1"], r["w2"]): r["c12"] for r in lm.bigrams.collect()}
    assert got_bi == dict(bi)


def test_scores_match_python_replay_incl_oov_and_backoff(spark):
    docs = [
        (10, "the cat sat on the mat"),          # all in-vocab
        (11, "the zebra sat"),                    # OOV token + OOV context backoff
        (12, "zebra"),                            # single OOV token
        (13, ""),                                 # zero tokens
    ]
    model = _py_lm(_TRAIN)
    _, got = _spark_scores(spark, _TRAIN, docs)
    for i, text in docs:
        n, h, p = _py_score(text, model)
        assert got[i][0] == n
        if h is None:
            assert got[i][1] is None and got[i][2] is None
        else:
            assert got[i][1] == pytest.approx(h, rel=1e-12)
            assert got[i][2] == pytest.approx(p, rel=1e-12)


def test_randomized_python_parity(spark):
    rng = random.Random(4242)
    vocab = [f"t{i}" for i in range(15)] + ["rareword"]
    train = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(10)
    ]
    docs = [
        (100 + i, " ".join(rng.choice(vocab + ["oovword"]) for _ in range(rng.randint(0, 12))))
        for i in range(15)
    ]
    model = _py_lm(train, min_count=2, k=0.25)
    _, got = _spark_scores(spark, train, docs, min_count=2, k=0.25)
    for i, text in docs:
        n, h, p = _py_score(text, model)
        assert got[i][0] == n, (i, text)
        if h is None:
            assert got[i][1] is None
        else:
            assert got[i][1] == pytest.approx(h, rel=1e-12), (i, text)


def test_natural_text_beats_gibberish(spark):
    # a doc made of trained phrases scores lower perplexity than shuffled
    # rare/no-context tokens — the property the CCNet filter relies on
    docs = [(20, "the cat sat on the mat"), (21, "mat zebra log xyzzy cat qq")]
    _, got = _spark_scores(spark, _TRAIN, docs)
    assert got[20][2] < got[21][2]


def test_guards(spark):
    df = spark.createDataFrame(_TRAIN, _DDL)
    with pytest.raises(ValueError, match="min_count"):
        train_bigram_lm(df, min_count=0)
    with pytest.raises(ValueError, match="smoothing k"):
        train_bigram_lm(df, k=0.0)


def test_score_plan_no_python(spark):
    lm = train_bigram_lm(spark.createDataFrame(_TRAIN, _DDL))
    out = lm_score(spark.createDataFrame([(1, "the cat")], _DDL), lm)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
