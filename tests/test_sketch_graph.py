"""Unit oracles for ops/sketch (count-min, Bloom) and ops/graph
(triangles) plus the word-ngram token blocker — pure-Python references on
randomized fixed-seed inputs."""

import itertools
import random

import pytest
from pyspark.sql import functions as F


def test_cms_never_undercounts_and_is_tight_when_sparse(spark):
    """est >= true for every key (the CMS contract), and with width far
    above the distinct-key count the estimate is exact for every probe."""
    from hexspark.ops.sketch import cms_build, cms_estimate

    rng = random.Random(11)
    keys = [f"k{i}" for i in range(40)]
    stream = [(rng.choice(keys),) for _ in range(2000)]
    true = {}
    for (k,) in stream:
        true[k] = true.get(k, 0) + 1

    df = spark.createDataFrame(stream, "tok string")
    probes = spark.createDataFrame([(k,) for k in keys], "tok string")

    # narrow sketch: collisions expected, but never an undercount
    sk = cms_build(df, F.col("tok"), depth=3, width=16)
    est = {r["tok"]: r["est_cnt"] for r in
           cms_estimate(sk, probes, F.col("tok"), 3, 16).collect()}
    assert all(est[k] >= true[k] for k in keys)

    # wide sketch: 4096 buckets for 40 keys -> exact with overwhelming odds
    sk = cms_build(df, F.col("tok"), depth=4, width=4096)
    est = {r["tok"]: r["est_cnt"] for r in
           cms_estimate(sk, probes, F.col("tok"), 4, 4096).collect()}
    assert est == true

    # absent key estimates 0 on the wide sketch
    ghost = spark.createDataFrame([("nope",)], "tok string")
    assert cms_estimate(sk, ghost, F.col("tok"), 4, 4096).collect()[0]["est_cnt"] == 0


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """bloom_prune over the collected filter keeps every member, passes few
    non-members, and is a pure narrow filter on the probe: zero exchanges,
    joins, generates or aggregates."""
    from hexspark.ops.sketch import bloom_build, bloom_literal, bloom_prune

    members = list(range(0, 400, 2))
    build = spark.createDataFrame([(k,) for k in members], "k long")
    probe = spark.createDataFrame([(k,) for k in range(400)], "k long")

    bf = bloom_build(build, F.col("k"), n_words=64, n_hashes=3)
    pruned = bloom_prune(probe, F.col("k"), bloom_literal(bf, 64), n_hashes=3)
    kept = {r["k"] for r in pruned.collect()}

    assert set(members) <= kept  # a Bloom filter NEVER drops a member
    fps = kept - set(members)
    # 200 keys in 3968 bits, k=3 -> expected fp rate well under 2%
    assert len(fps) <= 10

    # word rows never exceed n_words and all bits land in [0, 62)
    rows = bf.collect()
    assert len(rows) <= 64
    assert all(0 <= r["word"] < 64 for r in rows)

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Join", "Generate", "Aggregate"):
        assert bad not in plan, bad


def test_bloom_filter_is_deterministic(spark):
    """Same build set -> bit-identical filter rows (md5 hashing, no RNG) —
    the property the DuckDB oracle depends on."""
    from hexspark.ops.sketch import bloom_build

    build = spark.createDataFrame([(i * 7,) for i in range(50)], "k long")
    a = sorted((r["word"], r["bits"]) for r in
               bloom_build(build, F.col("k"), n_words=16, n_hashes=4).collect())
    b = sorted((r["word"], r["bits"]) for r in
               bloom_build(build, F.col("k"), n_words=16, n_hashes=4).collect())
    assert a == b and a


@pytest.mark.parametrize("seed,n_nodes,n_draws", [(7, 40, 150), (23, 25, 90)])
def test_triangles_match_bruteforce(spark, seed, n_nodes, n_draws):
    """Degree-oriented node-iterator vs itertools brute force: identical
    triangle set (canonical x<y<z) and identical per-node counts, with
    input edges in random endpoint order and with duplicates."""
    from hexspark.ops.graph import node_triangle_counts, triangles

    rng = random.Random(seed)
    nodes = list(range(n_nodes))
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(n_draws)})
    es = set(edges)
    want = sorted(
        (x, y, z)
        for x, y, z in itertools.combinations(nodes, 3)
        if (x, y) in es and (y, z) in es and (x, z) in es
    )

    rows = [(a, b) if rng.random() < 0.5 else (b, a) for a, b in edges]
    rows += rows[: len(rows) // 3]  # duplicates must not double-count
    df = spark.createDataFrame(rows, "id_a long, id_b long")

    got = sorted(tuple(r) for r in triangles(df).collect())
    assert got == want

    want_counts = {}
    for t in want:
        for n in t:
            want_counts[n] = want_counts.get(n, 0) + 1
    got_counts = {r["node"]: r["n_triangles"] for r in node_triangle_counts(df).collect()}
    assert got_counts == want_counts


def test_word_ngram_token_blocking(spark):
    """Trigram keys against a hand-computed reference: pairs share a key
    only when a 3-word run matches; the df cap drops keys above it; docs
    shorter than n words produce no keys."""
    from hexspark.ops.setjoin import token_blocking_pairs, word_ngram_keys

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a quick brown fox sleeps"),
            (3, "the quick brown fox jumps high"),  # shares runs with 1 AND 2
            (4, "completely different text here"),
            (5, "two words"),  # shorter than the ngram -> no keys
        ],
        "doc_id long, text string",
    )

    keys = {(r["doc_id"], r["token"]) for r in
            word_ngram_keys(docs, "doc_id", F.col("text"), 3).collect()}
    assert (5, "two words") not in {(d, t) for d, t in keys if d == 5}
    assert not [t for d, t in keys if d == 5]
    assert (1, "quick brown fox") in keys and (2, "quick brown fox") in keys

    out = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared_rare"]
        for r in token_blocking_pairs(
            docs, "doc_id", F.col("text"), max_df=2, ngram=3
        ).collect()
    }
    # "quick brown fox" has df=3 -> capped out; surviving shared keys:
    # 1-3 share "the quick brown" + "brown fox jumps" (df 2 each);
    # 2-? : "a quick brown"/"brown fox sleeps" are df=1 -> no pair
    assert out == {(1, 3): 2}

    # cap 3 readmits the df=3 key -> 1-2, 1-3, 2-3 all pair up
    out3 = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared_rare"]
        for r in token_blocking_pairs(
            docs, "doc_id", F.col("text"), max_df=3, ngram=3
        ).collect()
    }
    assert out3 == {(1, 2): 1, (1, 3): 3, (2, 3): 1}


def test_hll_registers_match_python_reference(spark):
    """bucket/rho against a hashlib reference, and the estimate lands
    within the expected HLL error envelope (~1.04/sqrt(m))."""
    import hashlib

    from hexspark.ops.sketch import HLL_RHO_MAX, hll_estimate, hll_registers

    m = 64
    keys = [str(i * 13 + 1) for i in range(900)]

    def ref_bucket_rho(ks: str):
        b = int(hashlib.md5(("g" + ks).encode()).hexdigest()[:12], 16) % m
        s = hashlib.md5(("h" + ks).encode()).hexdigest()[:12]
        w = int(s, 16)
        rho = HLL_RHO_MAX if w == 0 else 48 - w.bit_length() + 1
        return b, rho

    want = {}
    for ks in keys:
        b, rho = ref_bucket_rho(ks)
        want[b] = max(want.get(b, 0), rho)

    df = spark.createDataFrame([(k,) for k in keys] * 3, "k string")  # dups
    regs = hll_registers(df, F.col("k"), m=m)
    got = {r["bucket"]: r["max_rho"] for r in regs.collect()}
    assert got == want

    est = hll_estimate(regs, m).collect()[0]
    assert abs(est["est_distinct"] - 900) / 900 < 0.30  # ~2.3 sigma at m=64
    assert est["n_set"] <= m


def test_salted_equijoin_matches_plain_join(spark):
    """Salting is layout-only: inner and left results equal the plain
    join row-for-row, including null-key rows (never matched) and
    unmatched big rows under 'left'."""
    from hexspark.ops.skewjoin import salted_equijoin

    big = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (1, 12, "c"), (2, 20, "d"),
         (3, 30, "e"), (None, 40, "f")],
        "k int, sub int, payload string",
    )
    small = spark.createDataFrame(
        [(1, "one"), (2, "two"), (9, "nine")], "k int, name string"
    )

    for how in ("inner", "left"):
        want = sorted(
            (tuple(r) for r in big.join(small, ["k"], how).select(
                "k", "sub", "payload", "name").collect()), key=repr
        )
        got = sorted(
            (tuple(r) for r in salted_equijoin(
                big, small, on=["k"], salt_from=["sub"], n_salts=5, how=how
            ).select("k", "sub", "payload", "name").collect()), key=repr
        )
        assert got == want, how

    with pytest.raises(ValueError):
        salted_equijoin(big, small, on=["k"], salt_from=[], n_salts=4)
    with pytest.raises(ValueError):
        salted_equijoin(big, small, on=["k"], salt_from=["sub"], how="outer")


def test_salted_equijoin_spreads_hot_key_partitions(spark):
    """The physical point of the salt: with broadcast off, the join
    exchange partitions on (key, salt) — a hot key's rows hash to
    multiple reducers. Asserted on the plan string, and the hot key's
    rows really do land in >1 partition of the salted key space."""
    from pyspark.sql import functions as F

    from hexspark.ops.skewjoin import SALT_COL, salted_equijoin

    hot = spark.createDataFrame(
        [(7, i, "x") for i in range(500)] + [(8, 0, "y")],
        "k int, sub int, payload string",
    )
    dim = spark.createDataFrame([(7, "seven"), (8, "eight")], "k int, name string")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_equijoin(hot, dim, on=["k"], salt_from=["sub"], n_salts=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert SALT_COL in plan  # exchange/join keys carry the salt
        n_parts = (
            hot.withColumn(
                "_s", F.pmod(F.xxhash64("sub"), F.lit(8))
            ).where(F.col("k") == 7).select("_s").distinct().count()
        )
        assert n_parts > 1  # hot key genuinely spread
        assert out.count() == 501
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bridge_edges_vs_bruteforce(spark):
    """bridge = edge on no triangle; randomized check against the
    itertools triangle oracle plus a hand case (path edges are bridges,
    triangle edges are not)."""
    from hexspark.ops.graph import bridge_edges

    # hand case: triangle {1,2,3} + pendant path 3-4-5
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    got = sorted((r["u"], r["v"]) for r in bridge_edges(df).collect())
    assert got == [(3, 4), (4, 5)]

    rng = random.Random(31)
    nodes = list(range(30))
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(100)})
    es = set(edges)
    in_tri = set()
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            in_tri |= {(x, y), (y, z), (x, z)}
    want = sorted(e for e in edges if e not in in_tri)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted((r["u"], r["v"]) for r in bridge_edges(df).collect())
    assert got == want


def test_robust_components_vs_union_find(spark):
    """Robust CC == union-find over triangle edges only, with stranded
    nodes as singletons; the hand case shows one bad bridge NOT merging
    two triangles."""
    from hexspark.ops.graph import robust_components

    # two triangles joined by a single (uncorroborated) bridge 3-4
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)],
        "id_a long, id_b long",
    )
    clusters, _ = robust_components(df)
    got = {r["conv_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}  # NOT glued

    rng = random.Random(41)
    nodes = list(range(30))
    edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(90)})
    es = set(edges)
    tri_edges = set()
    for x, y, z in itertools.combinations(nodes, 3):
        if (x, y) in es and (y, z) in es and (x, z) in es:
            tri_edges |= {(x, y), (y, z), (x, z)}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in tri_edges:
        parent[find(u)] = find(v)
    touched = {n for e in edges for n in e}
    comp = {}
    for n in touched:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(comp[find(n)]) for n in touched}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    clusters, _ = robust_components(df)
    got = {r["conv_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == want


def test_graph_ops_accept_precomputed_triangles(spark):
    """Passing a precomputed triangles() output must give identical
    results to the internal enumeration for all three consumers."""
    import random

    from hexspark.ops.graph import (
        bridge_edges,
        node_triangle_counts,
        robust_components,
        triangles,
    )

    rng = random.Random(9)
    edges = [(f"n{rng.randint(0, 11)}", f"n{rng.randint(0, 11)}") for _ in range(40)]
    df = spark.createDataFrame(
        [e for e in edges if e[0] != e[1]], "id_a string, id_b string"
    )
    tri = triangles(df).persist()

    for fn in (node_triangle_counts, bridge_edges):
        auto = {tuple(r) for r in fn(df).collect()}
        pre = {tuple(r) for r in fn(df, tri=tri).collect()}
        assert auto == pre, fn.__name__
    auto_c, _ = robust_components(df)
    pre_c, _ = robust_components(df, tri=tri)
    assert {tuple(r) for r in auto_c.collect()} == {tuple(r) for r in pre_c.collect()}
    tri.unpersist()


@pytest.mark.parametrize("seed,n_nodes,n_draws,n_new", [(11, 30, 110, 25), (37, 18, 60, 12)])
def test_incremental_triangles_equals_batch_delta(spark, seed, n_nodes, n_draws, n_new):
    """Append-only invariant: triangles(old ∪ new) == triangles(old) ∪
    incremental_triangles(old, new), and every incremental triangle has
    >= 1 new side (all-old triangles are exactly the prior table)."""
    from hexspark.ops.graph import incremental_triangles, triangles

    rng = random.Random(seed)
    nodes = list(range(n_nodes))
    all_edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(n_draws)})
    rng.shuffle(all_edges)
    new_e, old_e = all_edges[:n_new], all_edges[n_new:]
    old = spark.createDataFrame(old_e, "id_a long, id_b long")
    new = spark.createDataFrame(new_e, "id_a long, id_b long")
    both = spark.createDataFrame(old_e + new_e, "id_a long, id_b long")

    tri_old = {tuple(r) for r in triangles(old).collect()}
    tri_all = {tuple(r) for r in triangles(both).collect()}
    tri_inc = {tuple(r) for r in incremental_triangles(old, new).collect()}

    assert tri_old | tri_inc == tri_all
    assert tri_old & tri_inc == set()  # no all-old triangle re-emitted
    ne = set(new_e)
    for x, y, z in tri_inc:
        assert {(x, y), (y, z), (x, z)} & ne, (x, y, z)
