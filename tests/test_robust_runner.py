"""Robust (triangle-corroborated) pipeline mode — VERDICT r3 #5.

The fixture is a crafted glued-entity graph: two true entities
{a1, a2, a3} and {b1, b2, b3}, each an internal triangle, plus ONE
false-positive edge a3—b1 (a3 and b1 share a 10-token "gamma" suffix
that drags their SimHash distance to ~59, under the max_dist=60 gate,
while every other cross pair sits >= 80). Default transitive closure
glues the two entities into one cluster through that lone edge; robust
mode must (a) split them, (b) queue exactly a3—b1 for review, and
(c) merge them later only when an incremental batch delivers a witness
conversation that corroborates the bridge into a triangle.

Token distances were tuned empirically against the production SimHash
kernel (48-token docs; intra-entity pairs differ by <= 2 tokens → sig
distance ~16-23; the leaning pair shares 38+10 partial vocab → ~59).
"""

from __future__ import annotations

from datetime import datetime

import pytest

from hexspark.pipeline.runner import PipelineConfig, Runner

A = [f"alpha{i}" for i in range(48)]
B = [f"alpha{i}" for i in range(24)] + [f"beta{i}" for i in range(24)]
G = [f"gamma{i}" for i in range(24)]


def _txt(toks):
    return " ".join(toks)


def _mut(toks, n, tag):
    return toks[:-n] + [f"{tag}{i}" for i in range(n)]


TEXTS = {
    "a1": _txt(A),
    "a2": _txt(_mut(A, 2, "am")),
    "a3": _txt(A[:38] + G[:10]),
    "b1": _txt(B[:38] + G[:10]),
    "b2": _txt(B),
    "b3": _txt(_mut(B, 2, "bm")),
}
# sits between a3 and b1: enough shared vocabulary with both to match
# each, forming the corroborating triangle (a3, b1, c1)
WITNESS = _txt(A[:31] + B[31:38] + G[:10])

CFG = dict(max_dist=60, n_bands=32)


def _transcripts(spark, texts, ts):
    rows = [(k, 1, "user", v, "", ts) for k, v in texts.items()]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


@pytest.fixture(scope="module")
def glued(spark):
    return _transcripts(spark, TEXTS, datetime(2024, 1, 1))


@pytest.fixture(scope="module")
def runs(spark, glued, tmp_path_factory):
    """One default and one robust batch run over the glued fixture."""
    wd_default = str(tmp_path_factory.mktemp("robust_default"))
    wd_robust = str(tmp_path_factory.mktemp("robust_on"))
    r_default = Runner(spark, wd_default, PipelineConfig(**CFG))
    r_robust = Runner(spark, wd_robust, PipelineConfig(**CFG, robust=True))
    return (
        (r_default, r_default.run(glued)),
        (r_robust, r_robust.run(glued)),
    )


def _clusters(result):
    return {
        r["conv_id"]: r["cluster_id"] for r in result.tables["clusters"].collect()
    }


def test_fixture_match_graph_is_two_triangles_plus_bridge(runs):
    (_, res_default), _ = runs
    edges = sorted(
        (r["conv_id_a"], r["conv_id_b"]) for r in res_default.tables["edges"].collect()
    )
    assert edges == [
        ("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
        ("a3", "b1"),
        ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
    ]


def test_default_mode_glues_the_two_entities(runs):
    (_, res_default), _ = runs
    cl = _clusters(res_default)
    assert len(set(cl.values())) == 1  # one glued cluster through a3—b1


def test_robust_mode_splits_and_queues_the_bridge(runs):
    _, (r_robust, res_robust) = runs
    cl = _clusters(res_robust)
    assert {cl["a1"], cl["a2"], cl["a3"]} == {cl["a1"]}
    assert {cl["b1"], cl["b2"], cl["b3"]} == {cl["b1"]}
    assert cl["a1"] != cl["b1"]
    bridges = sorted(
        (r["u"], r["v"]) for r in res_robust.tables["bridge_edges"].collect()
    )
    assert bridges == [("a3", "b1")]
    tri = sorted(tuple(r) for r in res_robust.tables["triangles"].collect())
    assert tri == [("a1", "a2", "a3"), ("b1", "b2", "b3")]


def test_robust_stages_in_lineage(runs):
    """The review queue is a first-class stage: run order, manifest, and
    stage_metrics lineage all record triangles + bridge_edges."""
    _, (r_robust, res_robust) = runs
    assert res_robust.stages_run == [
        "conversations", "signatures", "candidate_pairs", "edges",
        "triangles", "bridge_edges", "clusters",
    ]
    metrics_stages = {
        r["stage"]
        for r in r_robust.io.read("stage_metrics").select("stage").distinct().collect()
    }
    assert {"triangles", "bridge_edges"} <= metrics_stages


def test_incremental_witness_corroborates_the_bridge(spark, glued, tmp_path):
    """The monotone fold: a new conversation matching BOTH a3 and b1 forms
    the triangle (a3, b1, c1), promoting the old bridge to corroborated —
    the two entities merge and the review queue empties."""
    wd = str(tmp_path / "robust_inc")
    cfg = PipelineConfig(**CFG, robust=True)
    Runner(spark, wd, cfg).run(glued)

    newtr = _transcripts(spark, {"c1": WITNESS}, datetime(2024, 1, 2))
    r2 = Runner(spark, wd, cfg)
    res = r2.run_incremental(newtr)

    cl = _clusters(res)
    assert len(set(cl.values())) == 1 and set(cl) == {*TEXTS, "c1"}
    assert r2.io.read("bridge_edges").count() == 0
    tri = sorted(tuple(r) for r in r2.io.read("triangles").collect())
    assert tri == [("a1", "a2", "a3"), ("a3", "b1", "c1"), ("b1", "b2", "b3")]
    new_edges = sorted(
        (r["conv_id_a"], r["conv_id_b"])
        for r in r2.io.read("edges").collect()
        if "c1" in (r["conv_id_a"], r["conv_id_b"])
    )
    assert new_edges == [("a3", "c1"), ("b1", "c1")]
    assert "triangles_incremental" in res.stages_run
    assert "bridge_edges_incremental" in res.stages_run


def test_incremental_lone_new_edge_stays_bridged(spark, glued, tmp_path):
    """A new conversation matching only ONE existing side adds an edge but
    no triangle: clusters must NOT merge through it, and the new edge joins
    the review queue alongside the old bridge."""
    wd = str(tmp_path / "robust_inc_lone")
    cfg = PipelineConfig(**CFG, robust=True)
    Runner(spark, wd, cfg).run(glued)

    # near-duplicate of a1 only (2-token mutation; far from everything else
    # except the a-entity — but a 1-edge attachment is still uncorroborated
    # when it matches a single conversation)
    lone = _txt(_mut(A, 4, "cx"))
    newtr = _transcripts(spark, {"c2": lone}, datetime(2024, 1, 2))
    r2 = Runner(spark, wd, cfg)
    res = r2.run_incremental(newtr)

    new_edges = sorted(
        (r["conv_id_a"], r["conv_id_b"])
        for r in r2.io.read("edges").collect()
        if "c2" in (r["conv_id_a"], r["conv_id_b"])
    )
    assert new_edges, "fixture drift: c2 must match at least one a-side conv"
    cl = _clusters(res)
    tri_nodes = {n for t in r2.io.read("triangles").collect() for n in t}
    if "c2" not in tri_nodes:
        # c2's link(s) are uncorroborated: it stays a singleton and its
        # edges are queued
        assert cl["c2"] == "c2"
        queued = {
            (r["u"], r["v"]) for r in r2.io.read("bridge_edges").collect()
        }
        assert ("a3", "b1") in queued
        assert any("c2" in e for e in queued)
    else:
        # c2 matched >= 2 a-side convs → corroborated attach into the
        # a-entity, never across the bridge
        assert cl["c2"] == cl["a1"]
        assert cl["c2"] != cl["b1"]


def test_robust_incremental_requires_robust_prior_run(spark, glued, tmp_path):
    """Folding a batch in robust mode into a DEFAULT-mode workdir must be
    refused twice over: the drift guard rejects the config mismatch, and a
    guard-bypassing manifest still lacks the triangles stage."""
    wd = str(tmp_path / "robust_drift")
    Runner(spark, wd, PipelineConfig(**CFG)).run(glued)
    newtr = _transcripts(spark, {"c1": WITNESS}, datetime(2024, 1, 2))
    with pytest.raises(ValueError, match="different pipeline config"):
        Runner(spark, wd, PipelineConfig(**CFG, robust=True)).run_incremental(newtr)
