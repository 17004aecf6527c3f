"""Clean-clean linkage (pipeline/linkage.py): brute-force band parity,
exactly-once emission, hot-block salting equivalence, quadrant discipline,
and the one-to-one composition."""

import random

from hexspark.pipeline.linkage import link_candidate_pairs_wide
from hexspark.pipeline.matching import mutual_best_match
from hexspark.pipeline.scoring import score_wide

N_BANDS = 16
W = 64 // N_BANDS


def _hex(rng: random.Random) -> str:
    return "".join(rng.choice("0123456789abcdef") for _ in range(64))


def _mutate(rng: random.Random, h: str, k: int) -> str:
    s = list(h)
    for pos in rng.sample(range(64), k):
        s[pos] = rng.choice("0123456789abcdef".replace(s[pos], ""))
    return "".join(s)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, sig_hex string, canon string"
    )


def _expected_pairs(a_rows, b_rows):
    def bands(h):
        return {(i, h[i * W : (i + 1) * W]) for i in range(N_BANDS)}

    out = set()
    for ca, ha, _ in a_rows:
        for cb, hb, _ in b_rows:
            if bands(ha) & bands(hb):
                out.add((ca, cb))
    return out


def _rand_tables(seed: int, n_base: int = 30):
    """Two tables with planted cross-table near-dups (small mutations keep
    most bands intact) plus unrelated randoms."""
    rng = random.Random(seed)
    a_rows, b_rows = [], []
    for i in range(n_base):
        base = _hex(rng)
        a_rows.append((f"a{i:03d}", base, f"record alpha {i}"))
        if i % 2 == 0:  # planted cross-table near-dup
            b_rows.append((f"b{i:03d}", _mutate(rng, base, rng.randint(0, 3)), f"record alpha {i}"))
        else:
            b_rows.append((f"b{i:03d}", _hex(rng), f"record beta {i}"))
    return a_rows, b_rows


def test_link_pairs_match_bruteforce_exactly_once(spark):
    a_rows, b_rows = _rand_tables(7)
    pairs, _ = link_candidate_pairs_wide(_mk(spark, a_rows), _mk(spark, b_rows))
    got = [(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == _expected_pairs(a_rows, b_rows)
    assert set(got), "fixture must produce at least one candidate"


def test_link_never_generates_within_table_pairs(spark):
    # identical signatures INSIDE table A must not pair with each other
    rng = random.Random(3)
    dup = _hex(rng)
    a_rows = [("a0", dup, "x"), ("a1", dup, "x"), ("a2", _hex(rng), "y")]
    b_rows = [("b0", dup, "x"), ("b1", _hex(rng), "z")]
    pairs, _ = link_candidate_pairs_wide(_mk(spark, a_rows), _mk(spark, b_rows))
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}
    for x, y in got:
        assert x.startswith("a") and y.startswith("b")
    assert ("a0", "b0") in got and ("a1", "b0") in got


def test_link_hot_block_salting_is_invisible(spark):
    """A planted hot block (everyone agrees on band 0) must produce the
    IDENTICAL exactly-once pair set whether or not the salting subplan is
    engaged, and block_stats must flag it."""
    rng = random.Random(11)
    hot_band = "beef"
    a_rows = [
        (f"a{i:03d}", hot_band + _hex(rng)[W:], f"hot a {i}") for i in range(12)
    ]
    b_rows = [
        (f"b{i:03d}", hot_band + _hex(rng)[W:], f"hot b {i}") for i in range(9)
    ]
    A, B = _mk(spark, a_rows), _mk(spark, b_rows)

    plain, cold_stats = link_candidate_pairs_wide(A, B, hot_pairs=10**9)
    salted, stats = link_candidate_pairs_wide(A, B, hot_pairs=50, n_salts=4)
    p = sorted((r["conv_id_a"], r["conv_id_b"]) for r in plain.collect())
    s = sorted((r["conv_id_a"], r["conv_id_b"]) for r in salted.collect())
    assert len(s) == len(set(s)), "salting duplicated a pair"
    assert s == p
    assert set(p) == _expected_pairs(a_rows, b_rows)

    # block_stats lists the salted (hot) blocks only, as collected Rows
    assert cold_stats == []
    flagged = {(r["band_id"], r["band_val"]): r for r in stats}
    assert flagged, "hot block not flagged in block_stats"
    # the planted block is band 0 with value int('beef', 16)
    beef = flagged[(0, int(hot_band, 16))]
    assert (beef["n_a"], beef["n_b"], beef["n_pairs"]) == (12, 9, 108)
    assert all(r["n_pairs"] > 50 for r in stats)


def test_link_pairs_share_the_batch_pair_schema(spark):
    """Linkage pairs come out of the same banded pair join as the batch
    blocker: one column list (and order) for every banded join's pairs."""
    from hexspark.pipeline.blocking import candidate_pairs_wide

    a_rows, b_rows = _rand_tables(7)
    A, B = _mk(spark, a_rows), _mk(spark, b_rows)
    linked, _ = link_candidate_pairs_wide(A, B)
    batch, _ = candidate_pairs_wide(A.unionByName(B))
    assert linked.columns == batch.columns
    assert linked.schema == batch.schema


def test_link_tables_one_to_one_cardinality(spark):
    a_rows, b_rows = _rand_tables(23, n_base=24)
    pairs, _ = link_candidate_pairs_wide(_mk(spark, a_rows), _mk(spark, b_rows))
    links = mutual_best_match(
        score_wide(pairs, max_dist=40), "conv_id_a", "conv_id_b", "score"
    )
    rows = links.collect()
    assert rows, "no links survived the gate"
    lefts = [r["conv_id_a"] for r in rows]
    rights = [r["conv_id_b"] for r in rows]
    assert len(lefts) == len(set(lefts)), "left id matched twice"
    assert len(rights) == len(set(rights)), "right id matched twice"
    for r in rows:
        assert r["hamming_dist"] <= 40
        assert r["conv_id_a"].startswith("a") and r["conv_id_b"].startswith("b")


def test_link_tables_scores_match_thin_recompute(spark):
    """score_wide over the linkage pairs must equal re-scoring the same
    (id, id) pairs from scratch — the wide carry can't corrupt payloads."""
    a_rows, b_rows = _rand_tables(5, n_base=16)
    A, B = _mk(spark, a_rows), _mk(spark, b_rows)
    pairs, _ = link_candidate_pairs_wide(A, B)
    links = score_wide(pairs, max_dist=64)
    got = {
        (r["conv_id_a"], r["conv_id_b"]): r["hamming_dist"] for r in links.collect()
    }
    assert got
    ha = {c: h for c, h, _ in a_rows}
    hb = {c: h for c, h, _ in b_rows}
    for (x, y), d in got.items():
        expect = sum(
            bin(int(ha[x][i], 16) ^ int(hb[y][i], 16)).count("1") for i in range(64)
        )
        assert d == expect, (x, y)


def test_link_plan_shapes(spark):
    """Plan pins: (a) with no hot blocks the salting subplan (xxhash64
    salt + sequence replication) is absent from the optimized plan; (b)
    with a planted hot block it is present; (c) neither shape contains a
    cartesian product or nested-loop join."""
    # wide pair rows exceed the default 25-field toString elision, which
    # would hide the markers behind "..." — set, then restore so the knob
    # doesn't leak into later tests that assert on plan strings
    prev = spark.conf.get("spark.sql.debug.maxToStringFields", None)
    spark.conf.set("spark.sql.debug.maxToStringFields", "500")
    try:
        rng = random.Random(41)
        a_rows = [(f"a{i}", _hex(rng), "x") for i in range(6)]
        b_rows = [(f"b{i}", _hex(rng), "y") for i in range(6)]
        A, B = _mk(spark, a_rows), _mk(spark, b_rows)

        cold, _ = link_candidate_pairs_wide(A, B, hot_pairs=10**9)
        plan_cold = cold._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" not in plan_cold
        assert "ELSE [0] END" not in plan_cold

        hot_band = "f00d"
        ah = [(f"a{i}", hot_band + _hex(rng)[W:], "x") for i in range(8)]
        bh = [(f"b{i}", hot_band + _hex(rng)[W:], "y") for i in range(8)]
        hot, _ = link_candidate_pairs_wide(
            _mk(spark, ah), _mk(spark, bh), hot_pairs=10, n_salts=4
        )
        plan_hot = hot._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" in plan_hot
        # the B-side replication explode: hot rows take the (constant-folded)
        # salt array, everything else the single-element [0] fallback
        assert "ELSE [0] END" in plan_hot

        for plan in (
            cold._jdf.queryExecution().executedPlan().toString(),
            hot._jdf.queryExecution().executedPlan().toString(),
        ):
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.debug.maxToStringFields")
        else:
            spark.conf.set("spark.sql.debug.maxToStringFields", prev)


def test_link_plan_build_collects_hot_blocks_once(spark):
    """Building the linkage plan finds hot blocks with ONE collect of the
    block sizes (fed back as a local relation), not a localCheckpoint +
    isEmpty probe: fewer than the 4 Spark jobs the probe took, with and
    without a hot block, and the salted pairs stay the exact band pairs."""
    sc = spark.sparkContext

    def build_jobs(group, a_rows, b_rows, **kw):
        sc.setJobGroup(group, "linkage plan build")
        try:
            pairs, _ = link_candidate_pairs_wide(_mk(spark, a_rows), _mk(spark, b_rows), **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return pairs, len(sc.statusTracker().getJobIdsForGroup(group))

    a_rows, b_rows = _rand_tables(7)
    _, cold_jobs = build_jobs("link-build-cold", a_rows, b_rows)
    assert 1 <= cold_jobs < 4, cold_jobs

    rng = random.Random(11)
    ah = [(f"a{i:03d}", "beef" + _hex(rng)[W:], f"hot a {i}") for i in range(12)]
    bh = [(f"b{i:03d}", "beef" + _hex(rng)[W:], f"hot b {i}") for i in range(9)]
    hot, hot_jobs = build_jobs("link-build-hot", ah, bh, hot_pairs=50, n_salts=4)
    assert 1 <= hot_jobs < 4, hot_jobs
    got = [(r["conv_id_a"], r["conv_id_b"]) for r in hot.collect()]
    assert len(got) == len(set(got)) == 108
    assert set(got) == _expected_pairs(ah, bh)
