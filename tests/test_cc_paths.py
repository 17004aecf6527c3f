"""connected_components has two evaluation paths, the driver labelling for
a graph within the driver bound and the large-star/small-star rounds above
it. These tests keep them one operator: on the same graphs both must
return the same rows, under the same schema, as a pure-Python union-find
with the minimum id as root."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hexspark import fixtures
from hexspark.pipeline import assemble, blocking, clustering, scoring, simhash
from hexspark.pipeline.runner import PipelineConfig, Runner

DDL = "conv_id_a string, conv_id_b string"
# ASCII beside accents, CJK, fullwidth forms and astral-plane characters:
# U+1F600 sorts after U+FF21 in code-point (= UTF-8 byte) order but before
# it in UTF-16 order, so a path that ordered ids as Java strings do would
# pick a different minimum
UNICODE_IDS = [
    "A", "Z", "a", "z", "é", "è", "ä", "ß", "中", "文", "Ａ", "ｚ",
    "\U0001F600", "\U0001F4A9", "á", "Ω", "ω", "ñ", "~", "0",
]


def _oracle(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _chain(rng, n):
    nodes = [f"{i:03d}" for i in range(n)]
    rng.shuffle(nodes)
    return list(zip(nodes, nodes[1:]))


def _star(rng, n):
    nodes = [f"{i:03d}" for i in range(n)]
    center = rng.choice(nodes)
    return [
        (center, x) if rng.random() < 0.5 else (x, center)
        for x in nodes if x != center
    ]


def _dups_and_loops(rng, n, m):
    es = [(f"{rng.randrange(n):02d}", f"{rng.randrange(n):02d}") for _ in range(m)]
    es += rng.sample(es, m // 3)  # repeated edges, some reversed
    es += [(b, a) for a, b in rng.sample(es, m // 4)]
    es += [(x, x) for x, _ in rng.sample(es, m // 5)]  # self-loops
    return es


def _unicode(rng, m):
    return [(rng.choice(UNICODE_IDS), rng.choice(UNICODE_IDS)) for _ in range(m)]


@pytest.fixture(scope="module")
def mega_block_edges(spark):
    """The match edges of 60 byte-identical conversations blocked with
    max_block=16: every LSH block is oversize and salt-chained (the shape
    of test_incremental's test_mega_block_bridged_across_batches)."""
    rows = [(f"c{i:03d}", 0, "user", "the same boilerplate text repeated verbatim",
             "none") for i in range(60)]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    sigs = simhash.signatures(assemble.assemble_conversations(tr))
    pairs, _ = blocking.candidate_pairs_wide(sigs, max_block=16)
    edges = scoring.score_wide(pairs, max_dist=40).select("conv_id_a", "conv_id_b")
    return [(r.conv_id_a, r.conv_id_b) for r in edges.collect()]


def _both_paths(spark, monkeypatch, edges, max_iter=40):
    out = {}
    for path, bound in (("driver", 10**9), ("distributed", 0)):
        monkeypatch.setattr(clustering, "_driver_edge_bound", lambda s, b=bound: b)
        df = spark.createDataFrame(edges, DDL)
        cc, rounds = clustering.connected_components(df, max_iter=max_iter)
        rows = cc.collect()
        out[path] = (cc.schema, rows, rounds)
    return out


@pytest.mark.parametrize("seed", [7, 8])
def test_driver_and_star_rounds_agree_on_random_graphs(spark, monkeypatch, mega_block_edges, seed):
    """One seeded disjoint union of long chains, big stars, the salt-chained
    mega-block, duplicate edges with self-loops and non-ASCII ids: both
    paths return the same rows and schema, one row per node, each named by
    its component's minimum id."""
    rng = random.Random(seed)
    parts = {
        "chain": _chain(rng, 48),
        "chain2": _chain(rng, 20),
        "star": _star(rng, 120),
        "mega": mega_block_edges,
        "dups": _dups_and_loops(rng, 30, 40),
        "uni": _unicode(rng, 16),
    }
    edges = [(f"{k}/{a}", f"{k}/{b}") for k, es in parts.items() for a, b in es]
    rng.shuffle(edges)
    want = _oracle(edges)
    got = _both_paths(spark, monkeypatch, edges)
    (d_schema, d_rows, d_rounds), (s_schema, s_rows, s_rounds) = (
        got["driver"], got["distributed"]
    )
    assert d_schema == s_schema
    assert d_rounds == 1 and s_rounds >= 1
    for rows in (d_rows, s_rows):
        labels = {r.conv_id: r.cluster_id for r in rows}
        assert len(rows) == len(labels)  # one row per node
        assert labels == want
    assert sorted(d_rows) == sorted(s_rows)


@pytest.mark.parametrize(
    "edges", [[], [("a", "a"), ("é", "é")]], ids=["no_edges", "only_loops"]
)
def test_edgeless_graph_is_empty_on_both_paths(spark, monkeypatch, edges):
    got = _both_paths(spark, monkeypatch, edges)
    assert got["driver"] == got["distributed"]
    schema, rows, rounds = got["driver"]
    assert rows == [] and rounds == 0
    assert schema.fieldNames() == ["conv_id", "cluster_id"]


def test_star_rounds_refuse_a_non_converged_state(spark, monkeypatch):
    """Above the driver bound, a graph that needs more than max_iter rounds
    raises instead of returning a non-star-forest state."""
    monkeypatch.setattr(clustering, "_driver_edge_bound", lambda spark: 0)
    df = spark.createDataFrame(_chain(random.Random(3), 64), DDL)
    with pytest.raises(RuntimeError, match="did not converge within max_iter=1"):
        clustering.connected_components(df, max_iter=1)


def test_driver_bound_follows_driver_memory_and_result_size(spark):
    """The bound is 1/8 of the smaller of spark.driver.memory and
    spark.driver.maxResultSize, at 512 bytes per edge."""
    conf = spark.sparkContext._jsc.sc().conf()
    mem = conf.getSizeAsMb("spark.driver.memory", "1g") << 20
    cap = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    want = min(mem, cap) // 8 // 512
    assert clustering._driver_edge_bound(spark) == want
    assert want >= 100_000  # the test session labels every graph locally


def test_clusters_stage_is_at_most_three_spark_jobs(spark, tmp_path, monkeypatch):
    """A default run's clusters stage (CC, singletons, the write) fetches
    the edges once, labels them on the driver and writes: ≤ 3 Spark jobs
    (15 with the star rounds on this graph)."""
    tr = fixtures.transcripts_df(spark, n_base=120, seed=42, mutation_rate=0.01)
    sc = spark.sparkContext
    group = "cc-clusters-stage"
    run_stage = Runner._run_stage

    def grouped(self, manifest, result, stage, build):
        if stage != "clusters":
            return run_stage(self, manifest, result, stage, build)
        sc.setJobGroup(group, "clusters stage")
        try:
            return run_stage(self, manifest, result, stage, build)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(Runner, "_run_stage", grouped)
    result = Runner(spark, str(tmp_path / "wd"), PipelineConfig(max_dist=40)).run(tr)
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert "clusters" in result.stages_run
    assert result.cc_rounds == 1
    assert 1 <= jobs <= 3, jobs
