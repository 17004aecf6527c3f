"""End-to-end ER pipeline correctness on the synthetic transcript table
(FIXTURES.md F1/F2): planted duplicate clusters → pairwise F1 ≥ 0.99 at the
shared blocking key, connected-components vs a union-find oracle, per-turn
ordering invariant, and the LSH pigeonhole recall guarantee.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hexspark import columns as C
from hexspark import fixtures
from hexspark.pipeline import (
    assemble,
    blocking,
    clustering,
    evaluate,
    scoring,
)
from hexspark.pipeline.runner import PipelineConfig, Runner

N_BASE = 120
SEED = 42


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, monkeypatch):
    """Force clustering.connected_components down one evaluation path: a
    huge driver bound labels every graph on the driver, a zero bound sends
    every non-empty graph through the star rounds."""
    bound = 10**9 if request.param == "driver" else 0
    monkeypatch.setattr(clustering, "_driver_edge_bound", lambda spark: bound)
    return request.param


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    tr = fixtures.transcripts_df(spark, n_base=N_BASE, seed=SEED, mutation_rate=0.01)
    tr = tr.cache()
    tr.count()
    labels = fixtures.labeled_pairs_df(spark, tr).cache()
    workdir = str(tmp_path_factory.mktemp("pipeline"))
    runner = Runner(spark, workdir, PipelineConfig(max_dist=40))
    result = runner.run(tr)
    return tr, labels, runner, result


def test_transcripts_shape(spark, data):
    tr, _, _, _ = data
    assert tr.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # turn_idx contiguous from 0 per conversation
    chk = (
        tr.groupBy("conv_id")
        .agg(F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi"), F.count("*").alias("n"))
        .where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
    )
    assert chk.count() == 0


def test_per_turn_ordering_invariant(spark, data):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the assembled doc must equal the
    turn-texts concatenated in turn_idx order (independent window-based
    reconstruction)."""
    tr, _, runner, result = data
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    oracle = (
        tr.withColumn("doc2", F.array_join(F.collect_list("text").over(w), " "))
        .select("conv_id", "doc2")
        .distinct()
    )
    convs = result.tables["conversations"]
    mismatched = (
        convs.join(oracle, "conv_id")
        .where(F.col("doc_text") != F.col("doc2"))
        .count()
    )
    assert mismatched == 0


def test_conversations_stage_derives_no_text_keys(spark, data):
    """The conversations table is the document and its turn count only:
    `canon` and `n_chars` come from the fingerprint kernel, so the
    assembly plan runs no JVM regex over the documents."""
    tr, _, _, result = data
    assert result.tables["conversations"].columns == ["conv_id", "doc_text", "n_turns"]
    plan = assemble.assemble_conversations(tr)._jdf.queryExecution().optimizedPlan()
    assert "regexp_replace" not in plan.toString()


def test_signature_shape(spark, data):
    _, _, _, result = data
    sigs = result.tables["signatures"]
    bad = sigs.where(
        (F.length("sig") != 32)
        | (F.length("sig_hex") != 64)
        | ~F.col("sig_hex").rlike("^[0-9a-fA-F]*$")
    ).count()
    assert bad == 0


def test_lsh_pigeonhole_guarantee(spark, data):
    """Pairs within hamming distance < n_bands MUST share at least one band
    (pigeonhole) — the blocking recall guarantee that replaces the
    reference's early-exit pruning (cc:62-64) at plan level."""
    _, labels, _, result = data
    sigs = result.tables["signatures"]
    s1 = sigs.select(F.col("conv_id").alias("conv_id_a"), F.col("sig_hex").alias("hex_a"))
    s2 = sigs.select(F.col("conv_id").alias("conv_id_b"), F.col("sig_hex").alias("hex_b"))
    close = (
        labels.join(s1, "conv_id_a")
        .join(s2, "conv_id_b")
        .withColumn("d", C.hamming_hex("hex_a", "hex_b"))
        .where(F.col("d") < 16)
        .select("conv_id_a", "conv_id_b")
    )
    pairs = result.tables["candidate_pairs"]
    missed = close.join(pairs, ["conv_id_a", "conv_id_b"], "left_anti").count()
    assert missed == 0


def test_pairwise_f1(spark, data):
    _, labels, _, result = data
    m = evaluate.pairwise_f1(
        labels, result.tables["clusters"], result.tables["candidate_pairs"]
    )
    assert m["f1"] >= 0.99, m
    # and even unrestricted (all labeled pairs, blocking misses count
    # against recall) the pipeline should stay strong
    m_all = evaluate.pairwise_f1(labels, result.tables["clusters"], None)
    assert m_all["f1"] >= 0.97, m_all


def test_connected_components_vs_union_find_oracle(spark, data):
    _, _, _, result = data
    edges = result.tables["edges"].select("conv_id_a", "conv_id_b").collect()
    clusters = {
        r["conv_id"]: r["cluster_id"] for r in result.tables["clusters"].collect()
    }

    # pure-Python union-find oracle (test-only; independent of both CC
    # evaluation paths, the numpy driver labelling and the star rounds)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in edges:
        union(r["conv_id_a"], r["conv_id_b"])

    # oracle cluster id = min member = root under min-union
    for node in list(parent):
        find(node)
    for node, root in ((n, find(n)) for n in parent):
        assert clusters[node] == root, (node, clusters[node], root)

    # every clustered node's cluster_id is the min conv_id of its cluster
    from collections import defaultdict

    members = defaultdict(list)
    for node, cid in clusters.items():
        members[cid].append(node)
    for cid, nodes in members.items():
        assert cid == min(nodes + [cid])


def test_edge_scores_sane(spark, data):
    _, _, _, result = data
    edges = result.tables["edges"]
    bad = edges.where(
        (F.col("hamming_dist") < 0)
        | (F.col("hamming_dist") > 40)
        | (F.col("jw") < 0)
        | (F.col("jw") > 1)
        | (F.col("score") < 0)
        | (F.col("score") > 1)
    ).count()
    assert bad == 0


def test_clusters_cover_all_conversations(spark, data):
    tr, _, _, result = data
    n_convs = tr.select("conv_id").distinct().count()
    clusters = result.tables["clusters"]
    assert clusters.count() == n_convs
    assert clusters.select("conv_id").distinct().count() == n_convs


def test_stage_metrics_lineage(spark, data):
    _, _, runner, result = data
    metrics = runner.io.read("stage_metrics")
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert set(Runner.STAGES) <= stages
    assert metrics.where(F.col("run_id") == result.run_id).count() > 0
    # lineage row counts match manifest
    per_stage = {
        r["stage"]: r["rows"]
        for r in metrics.groupBy("stage").agg(F.sum("rows_out").alias("rows")).collect()
    }
    for stage in Runner.STAGES:
        assert result.tables[stage].count() == per_stage[stage]


def test_wide_path_equals_thin_path(spark):
    """blocking.candidate_pairs_wide + scoring.score_wide must produce the
    exact edge set of thin candidate_pairs widened by attach_signatures
    (same bands, same kernels — only where the chunks are attached
    differs; the runner widens its extra-pass union the same way)."""
    from pyspark.sql import functions as F

    from hexspark import fixtures
    from hexspark.pipeline import assemble, blocking, scoring
    from hexspark.pipeline import simhash as sm

    tr = fixtures.transcripts_df(spark, n_base=120, seed=7, mutation_rate=0.01)
    sigs = sm.signatures(assemble.assemble_conversations(tr)).persist()

    thin, _ = blocking.candidate_pairs(sigs)
    e_thin = scoring.score_wide(
        scoring.attach_signatures(thin, sigs), max_dist=40
    ).select(
        "conv_id_a", "conv_id_b", "hamming_dist", F.round("jw", 9).alias("jw")
    )
    wide, _ = blocking.candidate_pairs_wide(sigs)
    e_wide = scoring.score_wide(wide, max_dist=40).select(
        "conv_id_a", "conv_id_b", "hamming_dist", F.round("jw", 9).alias("jw")
    )
    assert e_thin.exceptAll(e_wide).count() == 0
    assert e_wide.exceptAll(e_thin).count() == 0
    assert e_wide.count() > 0
    sigs.unpersist()


def test_connected_components_multi_parent_counterexample(spark, cc_path):
    """Regression: a state where no root appears as a child but one node
    has TWO parents fooled the earlier root-as-child-only convergence test
    into stopping a round early, splitting one true component into two
    clusters (and assigning that node twice). This exact graph reproduced
    the corruption. Run on both CC paths, so the star-forest test keeps its
    coverage while small graphs are labelled on the driver."""
    edges = spark.createDataFrame(
        [("c2", "c4"), ("c5", "c3"), ("c5", "c4"),
         ("c5", "c6"), ("c6", "c0"), ("c6", "c5")],
        "conv_id_a string, conv_id_b string",
    )
    cc, _ = clustering.connected_components(edges)
    rows = cc.collect()
    got = {(r.conv_id, r.cluster_id) for r in rows}
    nodes = {"c0", "c2", "c3", "c4", "c5", "c6"}
    assert got == {(n, "c0") for n in nodes}, got
    assert len(rows) == len({r.conv_id for r in rows})  # one row per node


def test_connected_components_random_graphs_vs_union_find(spark, cc_path):
    """Randomized sweep: CC over many small random graphs must match a
    union-find oracle exactly (the multi-parent early-stop bug above hit
    ~1% of small random graphs — a fixed fixture cannot cover the space).
    Run on both CC paths."""
    import random

    rng = random.Random(424242)
    for trial in range(25):
        n = rng.randint(2, 14)
        m = rng.randint(1, 2 * n)
        es = [
            (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
            for _ in range(m)
        ]
        es = [(a, b) for a, b in es if a != b]
        if not es:
            continue
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in es:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}

        df = spark.createDataFrame(es, "conv_id_a string, conv_id_b string")
        cc, _ = clustering.connected_components(df)
        rows = cc.collect()
        got = {r.conv_id: r.cluster_id for r in rows}
        assert got == want, (trial, sorted(es), got, want)
        assert len(rows) == len(got), (trial, "duplicate node assignment")
