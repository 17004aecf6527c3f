"""Interpolated Kneser-Ney trigram LM: identical-arithmetic pure-Python
replay of train + score, OOV/<unk> symmetry, KN-vs-frequency behavior
(the "francisco" property), in-domain vs gibberish ordering, guards."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from hexspark.ops.kn import UNK, kn_score, train_kn_lm

_TRAIN = [
    (1, "the cat sat on the mat and the cat ate the fish"),
    (2, "the dog sat on the rug and the dog ate the bone"),
    (3, "a cat and a dog sat on the mat near the door"),
    (4, "san francisco is foggy and san francisco is steep"),
    (5, "the fish and the bone were on the mat by the door"),
]
_SCORE = [
    (10, "the cat sat on the mat"),          # in-domain
    (11, "zq xv qqq zzz vvv"),               # gibberish (all OOV)
    (12, "san francisco is foggy"),          # context-bound tokens
    (13, ""),                                 # empty
]


def _words(text):
    return re.findall(r"[a-z0-9]+", text.lower())


def _fit(pairs, min_count=2, d=0.75, k=0.5):
    seqs = [_words(t) for _, t in pairs]
    raw = Counter(w for ws in seqs for w in ws)
    vocab = {w for w, c in raw.items() if c >= min_count}
    mapped = [[w if w in vocab else UNK for w in ws] for ws in seqs]
    c1 = Counter(w for ws in mapped for w in ws)
    tri = Counter(
        (ws[i], ws[i + 1], ws[i + 2]) for ws in mapped for i in range(len(ws) - 2)
    )
    big_types = {(ws[i], ws[i + 1]) for ws in mapped for i in range(len(ws) - 1)}
    c2 = Counter()
    c2types = Counter()
    mid = Counter()
    for (w1, w2, w3), c in tri.items():
        c2[(w1, w2)] += c
        c2types[(w1, w2)] += 1
        mid[(w2, w3)] += 1
    midsum, midtypes = Counter(), Counter()
    for (w2, w3), c in mid.items():
        midsum[w2] += c
        midtypes[w2] += 1
    cont1 = Counter(wb for (_, wb) in big_types)
    conttot = len(big_types)
    V = len(c1)
    return dict(
        c1=c1, tri=tri, c2=c2, c2types=c2types, mid=mid, midsum=midsum,
        midtypes=midtypes, cont1=cont1, conttot=conttot, V=V,
        vocab=set(c1), d=d, k=k,
    )


def _score_doc(m, text):
    ws = [w if w in m["vocab"] else UNK for w in _words(text)]
    if not ws:
        return 0, None, None
    d, k = m["d"], m["k"]

    def p1(w):
        return (m["cont1"].get(w, 0) + k) / (m["conttot"] + k * (m["V"] + 1))

    def p2(w3, w2):
        ms = m["midsum"].get(w2, 0)
        if ms <= 0:
            return p1(w3)
        return (
            max(m["mid"].get((w2, w3), 0) - d, 0.0) / ms
            + d * m["midtypes"][w2] / ms * p1(w3)
        )

    def p3(w3, w1, w2):
        c2 = m["c2"].get((w1, w2), 0)
        if c2 <= 0:
            return p2(w3, w2)
        return (
            max(m["tri"].get((w1, w2, w3), 0) - d, 0.0) / c2
            + d * m["c2types"][(w1, w2)] / c2 * p2(w3, w2)
        )

    floor = k / (m["conttot"] + k * (m["V"] + 1))

    def term(i):
        if ws[i] == UNK:  # predicted-<unk> floor (quality-gate flavor)
            return math.log2(floor)
        if i == 0:
            return math.log2(p1(ws[0]))
        if i == 1:
            return math.log2(p2(ws[1], ws[0]))
        return math.log2(p3(ws[i], ws[i - 2], ws[i - 1]))

    lp = sum(term(i) for i in range(len(ws)))
    h = -lp / len(ws)
    return len(ws), h, 2.0 ** h


@pytest.fixture(scope="module")
def fitted(spark):
    docs = spark.createDataFrame(_TRAIN, "doc_id long, text string")
    lm = train_kn_lm(docs, min_count=2)
    return docs, lm


def test_train_matches_python_replay(spark, fitted):
    _, lm = fitted
    m = _fit(_TRAIN)
    assert lm.vocab_size == m["V"]
    assert lm.conttot == m["conttot"]
    got_uni = {r["w"]: (r["c1"], r["cont1"]) for r in lm.unigrams.collect()}
    assert got_uni == {w: (c, m["cont1"].get(w, 0)) for w, c in m["c1"].items()}
    got_tri = {(r["w1"], r["w2"], r["w3"]): r["c3"] for r in lm.trigrams.collect()}
    assert got_tri == dict(m["tri"])
    got_mid = {(r["w2"], r["w3"]): r["mid"] for r in lm.bigrams.collect()}
    assert got_mid == dict(m["mid"])
    got_ctx3 = {
        (r["w1"], r["w2"]): (r["c2"], r["c2types"]) for r in lm.ctx3.collect()
    }
    assert got_ctx3 == {kk: (m["c2"][kk], m["c2types"][kk]) for kk in m["c2"]}


def test_score_matches_python_replay(spark, fitted):
    _, lm = fitted
    m = _fit(_TRAIN)
    sc = spark.createDataFrame(_SCORE, "doc_id long, text string")
    got = {r["doc_id"]: r for r in kn_score(sc, lm).collect()}
    assert set(got) == {10, 11, 12, 13}
    for did, text in _SCORE:
        n, h, ppl = _score_doc(m, text)
        assert got[did]["n_tokens"] == n
        if n == 0:
            assert got[did]["cross_entropy"] is None
            assert got[did]["perplexity"] is None
        else:
            assert got[did]["cross_entropy"] == pytest.approx(h, rel=1e-9)
            assert got[did]["perplexity"] == pytest.approx(ppl, rel=1e-9)


def test_gibberish_scores_worse_than_indomain(spark, fitted):
    _, lm = fitted
    sc = spark.createDataFrame(_SCORE, "doc_id long, text string")
    got = {r["doc_id"]: r["perplexity"] for r in kn_score(sc, lm).collect()}
    assert got[11] > got[10]  # all-OOV soup above the in-domain head
    assert got[12] < got[11]  # context-bound but well-modeled phrase


def test_kn_continuation_beats_raw_frequency(spark, fitted):
    """The KN signature: 'francisco' is frequent (c1 high) but occurs
    after ONE context, so its continuation count — and with it the
    unigram backoff probability — is low; a token of equal raw
    frequency seen after many contexts must get strictly higher p1."""
    _, lm = fitted
    m = _fit(_TRAIN)
    assert m["c1"]["francisco"] >= 2
    assert m["cont1"]["francisco"] == 1  # only ever after "san"
    # "sat" appears after distinct predecessors ("cat sat", "dog sat")
    assert m["cont1"]["sat"] > m["cont1"]["francisco"]
    k = lm.k

    def p1(w):
        return (m["cont1"][w] + k) / (m["conttot"] + k * (m["V"] + 1))

    assert p1("sat") > p1("francisco")


def test_unk_symmetry_between_train_and_score(spark, fitted):
    """A scored OOV token and the train-time <unk> class share the same
    statistics: scoring a raw OOV word equals scoring the literal
    <unk> token."""
    _, lm = fitted
    sc = spark.createDataFrame(
        [(1, "the cat zzzz"), (2, f"the cat {UNK}")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["cross_entropy"] for r in kn_score(sc, lm).collect()}
    # note: "<unk>" the literal contains no [a-z0-9]+ run except "unk",
    # which IS itself OOV -> maps to UNK; both docs score identically
    assert got[1] == pytest.approx(got[2], rel=1e-12)


def test_guards(spark):
    docs = spark.createDataFrame(_TRAIN, "doc_id long, text string")
    with pytest.raises(ValueError, match="min_count"):
        train_kn_lm(docs, min_count=0)
    with pytest.raises(ValueError, match="discount"):
        train_kn_lm(docs, d=1.5)
    with pytest.raises(ValueError, match="smoothing"):
        train_kn_lm(docs, k=0.0)


def test_score_plan_no_python(spark, fitted):
    docs, lm = fitted
    out = kn_score(docs, lm)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_score_plan_has_no_broadcast_hint(spark, fitted):
    """Neither training nor scoring forces a broadcast: AQE decides from
    the measured model-table sizes, so a corpus-scale trigram table is
    never shipped to every executor on a hint."""
    docs, lm = fitted
    plan = kn_score(docs, lm)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan
    assert "broadcast" not in plan.lower()


def test_train_count_tables_match_duckdb_on_testdata(spark):
    """Cross-engine oracle on REAL testdata: every KN training count
    table (all integers — unigram/continuation counts, mid/midsum/
    midtypes, c2/c2types, trigram counts, V, conttot) is replayed
    exactly by DuckDB SQL over the same parquet, including the <unk>
    closed-vocabulary mapping. Upgrades the module's evidence from
    pure-Python replay to hash-exact cross-engine, the same epistemics
    as the driver oracles (the float scoring stays replay-pinned)."""
    import os

    import duckdb

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(sf, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("testdata absent")
    docs = spark.read.parquet(path)
    lm = train_kn_lm(docs, min_count=2)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    con.execute("""
        CREATE TEMP TABLE seq AS
        WITH raw AS (
          SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
          FROM documents),
        pos AS (
          SELECT doc_id, unnest(ws) AS w,
                 unnest(generate_series(1, len(ws))) AS i
          FROM raw),
        c_raw AS (SELECT w, count(*) AS c FROM pos GROUP BY w),
        vocab AS (SELECT w FROM c_raw WHERE c >= 2),
        mp AS (
          SELECT doc_id, i,
                 CASE WHEN w IN (SELECT w FROM vocab) THEN w
                      ELSE '<unk>' END AS w
          FROM pos)
        SELECT doc_id, list(w ORDER BY i) AS ws FROM mp GROUP BY doc_id
    """)
    con.execute("""
        CREATE TEMP TABLE tri AS
        SELECT ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
              FROM seq WHERE len(ws) >= 3)
    """)
    con.execute("""
        CREATE TEMP TABLE big AS
        SELECT DISTINCT ws[i] AS wa, ws[i+1] AS wb
        FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
              FROM seq WHERE len(ws) >= 2)
    """)

    duck_tri = {
        (r[0], r[1], r[2]): r[3]
        for r in con.execute(
            "SELECT w1, w2, w3, count(*) FROM tri GROUP BY 1,2,3"
        ).fetchall()
    }
    got_tri = {
        (r["w1"], r["w2"], r["w3"]): r["c3"] for r in lm.trigrams.collect()
    }
    assert got_tri == duck_tri and len(got_tri) > 100

    duck_ctx3 = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            "SELECT w1, w2, sum(c)::BIGINT, count(*) FROM "
            "(SELECT w1, w2, w3, count(*) AS c FROM tri GROUP BY 1,2,3) "
            "GROUP BY 1,2"
        ).fetchall()
    }
    got_ctx3 = {
        (r["w1"], r["w2"]): (r["c2"], r["c2types"]) for r in lm.ctx3.collect()
    }
    assert got_ctx3 == duck_ctx3

    duck_mid = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            "SELECT w2, w3, count(DISTINCT w1) FROM tri GROUP BY 1,2"
        ).fetchall()
    }
    got_mid = {(r["w2"], r["w3"]): r["mid"] for r in lm.bigrams.collect()}
    assert got_mid == duck_mid

    duck_ctx2 = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT w2, sum(m)::BIGINT, count(*) FROM "
            "(SELECT w2, w3, count(DISTINCT w1) AS m FROM tri GROUP BY 1,2) "
            "GROUP BY 1"
        ).fetchall()
    }
    got_ctx2 = {
        r["w2"]: (r["midsum"], r["midtypes"]) for r in lm.ctx2.collect()
    }
    assert got_ctx2 == duck_ctx2

    duck_uni = {
        r[0]: (r[1], r[2])
        for r in con.execute("""
            SELECT m.w, m.c, coalesce(ct.n, 0) FROM
              (SELECT w, count(*) AS c FROM
                 (SELECT unnest(ws) AS w FROM seq) GROUP BY 1) m
              LEFT JOIN (SELECT wb AS w, count(*) AS n FROM big GROUP BY 1) ct
              USING (w)
        """).fetchall()
    }
    got_uni = {r["w"]: (r["c1"], r["cont1"]) for r in lm.unigrams.collect()}
    assert got_uni == duck_uni

    v, ct = con.execute(
        "SELECT (SELECT count(DISTINCT w) FROM (SELECT unnest(ws) AS w FROM seq)),"
        " (SELECT count(*) FROM big)"
    ).fetchone()
    assert lm.vocab_size == v and lm.conttot == ct
