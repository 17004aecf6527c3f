"""Mutual-best one-to-one matching (pipeline/matching)."""

from __future__ import annotations

import random

from hexspark.pipeline.matching import mutual_best_match


def _brute_mutual_best(pairs, descending=True):
    """pairs: {(l, r): score} → set of mutual-best (l, r)."""
    sign = -1 if descending else 1
    best_l = {}
    for (l, r), s in pairs.items():
        k = (sign * s, r)
        if l not in best_l or k < best_l[l][0]:
            best_l[l] = (k, r)
    best_r = {}
    for (l, r), s in pairs.items():
        k = (sign * s, l)
        if r not in best_r or k < best_r[r][0]:
            best_r[r] = (k, l)
    return {
        (l, r)
        for (l, r) in pairs
        if best_l[l][1] == r and best_r[r][1] == l
    }


def test_mutual_best_simple(spark):
    rows = [
        ("a", "x", 0.9),  # a's best is x; x's best is a → kept
        ("a", "y", 0.5),
        ("b", "x", 0.8),  # b's best is x, but x prefers a → dropped
        ("b", "y", 0.7),  # b's 2nd; y's best is b → dropped (not b's best)
    ]
    df = spark.createDataFrame(rows, "l string, r string, score double")
    got = {(r["l"], r["r"]) for r in mutual_best_match(df, "l", "r").collect()}
    assert got == {("a", "x")}


def test_one_to_one_cardinality(spark):
    rng = random.Random(0x11)
    pairs = {
        (f"l{i}", f"r{j}"): round(rng.random(), 6)
        for i in range(30) for j in range(30) if rng.random() < 0.3
    }
    df = spark.createDataFrame(
        [(l, r, s) for (l, r), s in pairs.items()], "l string, r string, score double"
    )
    out = mutual_best_match(df, "l", "r").collect()
    ls = [r["l"] for r in out]
    rs = [r["r"] for r in out]
    assert len(ls) == len(set(ls)) and len(rs) == len(set(rs))
    assert {(r["l"], r["r"]) for r in out} == _brute_mutual_best(pairs)


def test_ascending_distance_mode(spark):
    rows = [("a", "x", 3.0), ("a", "y", 1.0), ("b", "y", 2.0)]
    df = spark.createDataFrame(rows, "l string, r string, d double")
    got = {
        (r["l"], r["r"])
        for r in mutual_best_match(df, "l", "r", score="d", descending=False).collect()
    }
    # a prefers y (d=1); y prefers a (1 < 2) → (a, y). b's best y is taken
    # in mutual-best terms: y's best is a, so (b, y) is not mutual.
    assert got == {("a", "y")}


def test_deterministic_tie_break(spark):
    # two right partners with identical score: partner-id ascending wins
    rows = [("a", "x", 0.5), ("a", "w", 0.5)]
    df = spark.createDataFrame(rows, "l string, r string, score double")
    got = {(r["l"], r["r"]) for r in mutual_best_match(df, "l", "r").collect()}
    assert got == {("a", "w")}


def test_passthrough_columns_survive(spark):
    rows = [("a", "x", 0.9, "extra")]
    df = spark.createDataFrame(rows, "l string, r string, score double, note string")
    out = mutual_best_match(df, "l", "r").collect()
    assert out[0]["note"] == "extra"
