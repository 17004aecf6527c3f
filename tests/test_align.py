"""Turn-level alignment (pipeline/align.py): per-turn equality, prefix
containment (resumed sessions), opening-prefix blocking. Semantics are
pinned by hand-built fixtures plus a randomized python replay of the
common-prefix count."""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from hexspark.pipeline import align

DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _conv(conv_id, turns, t0=datetime(2024, 1, 1)):
    return [
        (conv_id, i, r, t, None, t0 + timedelta(minutes=i))
        for i, (r, t) in enumerate(turns)
    ]


BASE = [("user", "hello there"), ("assistant", "hi, how can I help"),
        ("user", "fix my build"), ("assistant", "run make clean")]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    rows += _conv("a", BASE)                                   # original
    rows += _conv("b", BASE)                                   # exact dup of a
    rows += _conv("c", BASE + [("user", "thanks"), ("assistant", "np")])  # resumed a
    rows += _conv("d", [BASE[0], BASE[1], ("user", "different ask"),
                        ("assistant", "different answer")])    # diverges at 2
    rows += _conv("e", [("user", "unrelated opener"), ("assistant", "ok")])
    df = spark.createDataFrame(rows, DDL)
    return df


def test_turn_signatures_order_and_shape(spark, corpus):
    # shuffled input rows must produce identical signatures: ordering comes
    # from sort_array on (turn_idx, digest), not from input order
    shuffled = corpus.orderBy(F.rand(7))
    s1 = {r["conv_id"]: (r["turn_hashes"], r["n_turns"])
          for r in align.turn_signatures(corpus).collect()}
    s2 = {r["conv_id"]: (r["turn_hashes"], r["n_turns"])
          for r in align.turn_signatures(shuffled).collect()}
    assert s1 == s2
    assert s1["a"][1] == 4 and s1["c"][1] == 6
    # digest replay: md5(role US text)
    exp0 = hashlib.md5(("user\x1fhello there").encode()).hexdigest()
    assert s1["a"][0][0] == exp0
    # exact dup -> identical arrays; resumed -> strict prefix
    assert s1["a"][0] == s1["b"][0]
    assert s1["c"][0][:4] == s1["a"][0]


def test_align_relationships(spark, corpus):
    sigs = align.turn_signatures(corpus)
    pairs = align.opening_block_pairs(sigs, k=2)
    out = {(r["conv_id_a"], r["conv_id_b"]): r
           for r in align.align_pairs(pairs, sigs).collect()}
    # e shares no opener; all of a/b/c/d share the first two turns
    assert set(out) == {("a", "b"), ("a", "c"), ("a", "d"),
                        ("b", "c"), ("b", "d"), ("c", "d")}
    assert out[("a", "b")]["relationship"] == "exact"
    assert out[("a", "b")]["n_aligned"] == 4
    assert out[("a", "c")]["relationship"] == "prefix"
    assert out[("a", "c")]["n_aligned"] == 4
    assert out[("a", "d")]["relationship"] == "partial"
    assert out[("a", "d")]["n_aligned"] == 2
    assert out[("c", "d")]["relationship"] == "partial"
    assert out[("c", "d")]["n_aligned"] == 2


def test_containment_pairs_end_to_end(spark, corpus):
    """Prefix-index candidates aligned, 'partial' dropped: every exact and
    prefix pair, and nothing else."""
    sigs = align.turn_signatures(corpus)
    aligned = align.align_pairs(align.prefix_block_pairs(sigs), sigs)
    got = {(r["conv_id_a"], r["conv_id_b"]): r["relationship"]
           for r in aligned.where(F.col("relationship") != "partial").collect()}
    assert got == {("a", "b"): "exact", ("a", "c"): "prefix",
                   ("b", "c"): "prefix"}


def test_opening_block_k_sensitivity(spark, corpus):
    sigs = align.turn_signatures(corpus)
    # k=1: d' sharing only turn 0 would pair; build one such conv
    extra = spark.createDataFrame(
        _conv("f", [BASE[0], ("assistant", "totally different")]), DDL)
    sigs2 = align.turn_signatures(corpus.unionByName(extra))
    k1 = {(r["conv_id_a"], r["conv_id_b"])
          for r in align.opening_block_pairs(sigs2, k=1).collect()}
    k2 = {(r["conv_id_a"], r["conv_id_b"])
          for r in align.opening_block_pairs(sigs2, k=2).collect()}
    assert ("a", "f") in k1 and ("a", "f") not in k2
    assert k2 < k1  # deeper opener strictly prunes here
    with pytest.raises(ValueError, match="k must be"):
        align.opening_block_pairs(sigs, k=0)


def test_null_and_empty_content(spark):
    # NULL text hashes like empty text (coalesce-to-'' is documented)
    rows = [("x", 0, "user", None, None, datetime(2024, 1, 1)),
            ("y", 0, "user", "", None, datetime(2024, 1, 1))]
    sigs = align.turn_signatures(spark.createDataFrame(rows, DDL))
    h = {r["conv_id"]: r["turn_hashes"] for r in sigs.collect()}
    assert h["x"] == h["y"]


def test_randomized_common_prefix_replay(spark):
    rng = random.Random(13)
    vocab = ["aa", "bb", "cc"]
    convs = {}
    rows = []
    for i in range(24):
        n = rng.randint(1, 6)
        turns = [("user", rng.choice(vocab)) for _ in range(n)]
        convs[f"c{i:02d}"] = [t for _, t in turns]
        rows += _conv(f"c{i:02d}", turns)
    sigs = align.turn_signatures(spark.createDataFrame(rows, DDL))
    ids = sorted(convs)
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "conv_id_a string, conv_id_b string",
    )
    got = align.align_pairs(pairs, sigs).collect()
    assert len(got) == len(ids) * (len(ids) - 1) // 2
    for r in got:
        ta, tb = convs[r["conv_id_a"]], convs[r["conv_id_b"]]
        exp = sum(1 for x, y in zip(ta, tb) if x == y)
        assert r["n_aligned"] == exp, (r, ta, tb)
        if len(ta) == len(tb) == exp:
            assert r["relationship"] == "exact"
        elif exp == min(len(ta), len(tb)):
            assert r["relationship"] == "prefix"
        else:
            assert r["relationship"] == "partial"


def _brute_containment(convs: dict[str, list[str]]) -> set[tuple[str, str]]:
    ids = sorted(convs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ta, tb = convs[a], convs[b]
            m = min(len(ta), len(tb))
            if ta[:m] == tb[:m]:
                out.add((a, b))
    return out


def test_prefix_block_exact_vs_brute_force(spark):
    """With depth_cap >= max length, prefix-index candidates are EXACTLY
    the containment pairs (false candidates would need an md5 collision)."""
    rng = random.Random(29)
    vocab = ["aa", "bb"]
    convs, rows = {}, []
    for i in range(30):
        n = rng.randint(1, 7)
        turns = [("user", rng.choice(vocab)) for _ in range(n)]
        convs[f"p{i:02d}"] = [t for _, t in turns]
        rows += _conv(f"p{i:02d}", turns)
    sigs = align.turn_signatures(spark.createDataFrame(rows, DDL))
    got = {(r["conv_id_a"], r["conv_id_b"])
           for r in align.prefix_block_pairs(sigs, depth_cap=16).collect()}
    assert got == _brute_containment(convs)


def test_prefix_block_boilerplate_opener_immunity(spark, corpus):
    """Every conversation in this corpus shares NO opener except the
    planted family — but with a universal system prompt prepended to all,
    the opening blocker pairs everyone while the prefix index still emits
    only the true containment family."""
    sys_prompt = [("system", "you are a helpful assistant")]
    rows = []
    rows += _conv("a", sys_prompt + BASE)
    rows += _conv("b", sys_prompt + BASE)  # exact dup
    rows += _conv("c", sys_prompt + BASE + [("user", "more")])  # resumed
    rows += _conv("d", sys_prompt + [("user", "totally different ask")])
    rows += _conv("e", sys_prompt + [("user", "another unrelated thing")])
    sigs = align.turn_signatures(spark.createDataFrame(rows, DDL))
    opener = {(r["conv_id_a"], r["conv_id_b"])
              for r in align.opening_block_pairs(sigs, k=1).collect()}
    assert len(opener) == 10  # all C(5,2): the opener key degenerated
    pref = {(r["conv_id_a"], r["conv_id_b"])
            for r in align.prefix_block_pairs(sigs).collect()}
    # d/e are 2-turn convs whose full prefix is (sys, own ask) — no other
    # conversation shares it, so they must NOT pair with anyone
    assert pref == {("a", "b"), ("a", "c"), ("b", "c")}


def test_prefix_block_one_turn_and_depth_cap(spark):
    """1-turn prefixes ARE detected (the opening blocker's k>=2 floor
    missed them); a tiny depth_cap keeps every containment pair (lossless)
    and may only ADD collision candidates, which align_pairs then rejects."""
    rows = (_conv("s", [("user", "hello")])
            + _conv("l", [("user", "hello"), ("assistant", "hi")])
            + _conv("m", [("user", "hello"), ("assistant", "other")]))
    sigs = align.turn_signatures(spark.createDataFrame(rows, DDL))
    full = {(r["conv_id_a"], r["conv_id_b"])
            for r in align.prefix_block_pairs(sigs).collect()}
    assert full == {("l", "s"), ("m", "s")}  # s prefix of both; l vs m diverge
    capped = {(r["conv_id_a"], r["conv_id_b"])
              for r in align.prefix_block_pairs(sigs, depth_cap=1).collect()}
    assert full <= capped  # lossless under the cap
    assert ("l", "m") in capped  # coarse key adds the collision candidate
    verified = align.align_pairs(
        align.prefix_block_pairs(sigs, depth_cap=1), sigs
    ).where(F.col("relationship") != "partial")
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in verified.collect()}
    assert got == full  # verification discards the collision
    with pytest.raises(ValueError, match="depth_cap"):
        align.prefix_block_pairs(sigs, depth_cap=0)


def test_contained_map_one_turn_prefix(spark):
    rows = (_conv("s", [("user", "hello")])
            + _conv("l", [("user", "hello"), ("assistant", "hi")]))
    sigs = align.turn_signatures(spark.createDataFrame(rows, DDL))
    cm = {r["conv_id"]: r["rep_id"]
          for r in align.contained_map(sigs).collect()}
    assert cm == {"s": "l"}


def test_plan_no_python_no_cartesian(spark, corpus):
    sigs = align.turn_signatures(corpus)
    plan = align.align_pairs(
        align.opening_block_pairs(sigs, k=2), sigs
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
