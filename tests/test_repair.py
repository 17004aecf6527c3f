"""Cluster repair (pipeline/repair.py): cohesion, eviction, re-clustering.

Fixture: two dense true entities {a1,a2,a3} and {b1,b2,b3} (all internal
pairs scored 0.9+) glued into ONE transitive cluster by a node g whose two
edges (a1-g, g-b1) score only 0.30 — the classic false-glue shape that
robust mode prevents and repair undoes after the fact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hexspark.pipeline import repair
from hexspark.pipeline.clustering import connected_components, with_singletons


def _edges(spark, rows):
    return spark.createDataFrame(rows, "conv_id_a string, conv_id_b string, score double")


def _repair(clusters, edges, min_avg_score):
    """Evict low-cohesion members, then re-cluster the rest: the two stages
    the Runner materializes in repair mode."""
    evicted = repair.evicted_nodes(clusters, edges, min_avg_score).localCheckpoint(
        eager=True
    )
    return repair.reclustered(clusters, edges, evicted), evicted


@pytest.fixture(scope="module")
def glued(spark):
    rows = [
        ("a1", "a2", 0.95),
        ("a1", "a3", 0.92),
        ("a2", "a3", 0.94),
        ("b1", "b2", 0.91),
        ("b1", "b3", 0.93),
        ("b2", "b3", 0.96),
        ("a1", "g", 0.30),
        ("g", "b1", 0.30),
    ]
    edges = _edges(spark, rows)
    cc, _ = connected_components(edges)
    nodes = spark.createDataFrame(
        [(n,) for n in ["a1", "a2", "a3", "b1", "b2", "b3", "g", "lone"]],
        "conv_id string",
    )
    clusters = with_singletons(cc, nodes)
    return edges, clusters


def test_glued_fixture_is_one_cluster(glued):
    _, clusters = glued
    sizes = {
        r["cluster_id"]: r["n"]
        for r in clusters.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {"a1": 7, "lone": 1}


def test_node_cohesion_exact(glued):
    edges, clusters = glued
    coh = {r["conv_id"]: r.asDict() for r in repair.node_cohesion(clusters, edges).collect()}
    assert coh["g"]["n_within"] == 2
    assert coh["g"]["avg_within"] == pytest.approx(0.30)
    assert coh["a1"]["n_within"] == 3  # a2, a3, g
    assert coh["a1"]["avg_within"] == pytest.approx((0.95 + 0.92 + 0.30) / 3)
    assert coh["lone"]["n_within"] == 0 and coh["lone"]["avg_within"] is None


def test_repair_splits_glued_cluster(glued):
    edges, clusters = glued
    repaired, evicted = _repair(clusters, edges, 0.5)
    assert [r["conv_id"] for r in evicted.collect()] == ["g"]
    got = {
        r["cluster_id"]: sorted(r["members"])
        for r in repaired.groupBy("cluster_id")
        .agg(F.collect_list("conv_id").alias("members"))
        .collect()
    }
    assert got == {
        "a1": ["a1", "a2", "a3"],
        "b1": ["b1", "b2", "b3"],
        "g": ["g"],
        "lone": ["lone"],
    }


def test_repair_is_partition_of_input_nodes(glued):
    edges, clusters = glued
    repaired, _ = _repair(clusters, edges, 0.5)
    # exactly one row per original node
    assert repaired.count() == clusters.count()
    assert repaired.select("conv_id").distinct().count() == clusters.count()
    assert (
        repaired.select("conv_id").exceptAll(clusters.select("conv_id")).isEmpty()
    )


def test_repair_noop_below_all_scores(glued):
    edges, clusters = glued
    repaired, evicted = _repair(clusters, edges, 0.0)
    assert evicted.isEmpty()
    # same partition as the input (canonical min-id labels on both sides)
    got = sorted((r["conv_id"], r["cluster_id"]) for r in repaired.collect())
    want = sorted((r["conv_id"], r["cluster_id"]) for r in clusters.collect())
    assert got == want


def test_repair_evicts_zero_edge_member_of_foreign_partition(spark):
    # caller-supplied (non-CC) partition: x3 claims membership in cluster x1
    # but has no edge to it at all -> defensively evicted as a singleton
    edges = _edges(spark, [("x1", "x2", 0.9)])
    clusters = spark.createDataFrame(
        [("x1", "x1"), ("x2", "x1"), ("x3", "x1")], "conv_id string, cluster_id string"
    )
    repaired, evicted = _repair(clusters, edges, 0.5)
    assert [r["conv_id"] for r in evicted.collect()] == ["x3"]
    got = {r["conv_id"]: r["cluster_id"] for r in repaired.collect()}
    assert got == {"x1": "x1", "x2": "x1", "x3": "x3"}


def test_cohesion_ignores_cross_cluster_edges(spark):
    # an edge between two different clusters must count for neither
    edges = _edges(spark, [("p1", "p2", 0.9), ("p2", "q1", 0.8), ("q1", "q2", 0.7)])
    clusters = spark.createDataFrame(
        [("p1", "p1"), ("p2", "p1"), ("q1", "q1"), ("q2", "q1")],
        "conv_id string, cluster_id string",
    )
    coh = {r["conv_id"]: r.asDict() for r in repair.node_cohesion(clusters, edges).collect()}
    assert coh["p2"]["n_within"] == 1 and coh["p2"]["avg_within"] == pytest.approx(0.9)
    assert coh["q1"]["n_within"] == 1 and coh["q1"]["avg_within"] == pytest.approx(0.7)
