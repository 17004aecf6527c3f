"""Runner(drop_contained=True) — exact containment pre-dedup as a
production stage. Fixture: entity X is a 4-turn conversation x1, its
exact duplicate x2, and a resumed session x3 = x1's turns + 40 more of
unrelated vocabulary. Document-level SimHash CANNOT match x1 to x3 (the
extension dominates the fingerprint), so the default pipeline splits the
entity; containment mode must drop x1/x2 into x3's cluster — exact
turn-level evidence adding recall similarity scoring cannot reach —
while leaving the ordinary near-dup entity Y untouched."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from hexspark.pipeline.runner import PipelineConfig, Runner

DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

X_TURNS = [f"xw{i} xw{i + 1} xw{i + 2}" for i in range(4)]
EXT_TURNS = [" ".join(f"ext{i}_{j}" for j in range(6)) for i in range(40)]
Y1 = " ".join(f"yw{i}" for i in range(48))
Y2 = " ".join(f"yw{i}" for i in range(46)) + " ym0 ym1"
Z = " ".join(f"zw{i}" for i in range(48))

CFG = dict(max_dist=40, n_bands=16)


def _rows(conv_id, turns, t0=datetime(2024, 1, 1)):
    return [
        (conv_id, i, "user" if i % 2 == 0 else "assistant", t, None,
         t0 + timedelta(minutes=i))
        for i, t in enumerate(turns)
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    rows += _rows("x1", X_TURNS)
    rows += _rows("x2", X_TURNS)                 # exact dup of x1
    rows += _rows("x3", X_TURNS + EXT_TURNS)     # resumed session
    rows += _rows("y1", [Y1])
    rows += _rows("y2", [Y2])                    # ordinary near-dup of y1
    rows += _rows("z1", [Z])
    return spark.createDataFrame(rows, DDL)


def _clusters(result):
    out: dict[str, set[str]] = {}
    for r in result.tables["clusters"].collect():
        out.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    return out


@pytest.fixture(scope="module")
def runs(spark, corpus, tmp_path_factory):
    wd_def = str(tmp_path_factory.mktemp("cont_default"))
    wd_drop = str(tmp_path_factory.mktemp("cont_drop"))
    res_def = Runner(spark, wd_def, PipelineConfig(**CFG)).run(corpus)
    runner = Runner(spark, wd_drop, PipelineConfig(**CFG, drop_contained=True))
    res_drop = runner.run(corpus)
    return res_def, res_drop, runner, corpus


def test_containment_adds_recall_similarity_cannot(runs):
    res_def, res_drop, _, _ = runs
    d = _clusters(res_def)
    # default: SimHash pairs the exact dups x1/x2 but CANNOT reach x3
    assert {"x1", "x2"} in d.values() and {"x3"} in d.values()
    c = _clusters(res_drop)
    # containment mode: the whole entity, canonical min-id label
    assert c.get("x1") == {"x1", "x2", "x3"}
    assert c.get("y1") == {"y1", "y2"}
    assert c.get("z1") == {"z1"}
    # output is a partition of the full input
    assert sorted(m for ms in c.values() for m in ms) == [
        "x1", "x2", "x3", "y1", "y2", "z1"
    ]


def test_contained_map_stage(runs):
    _, res_drop, _, _ = runs
    cm = {r["conv_id"]: (r["rep_id"], r["n_turns"], r["rep_n_turns"])
          for r in res_drop.tables["contained_map"].collect()}
    # both the prefix copy and the exact dup map to the longest container
    assert cm == {"x1": ("x3", 4, 44), "x2": ("x3", 4, 44)}
    assert "contained_map" in res_drop.stages_run


def test_resume_skips_containment_stage(runs, spark, corpus):
    _, res_drop, runner, _ = runs
    again = runner.run(corpus)
    assert "contained_map" in again.stages_skipped
    assert again.stages_run == []
    assert _clusters(again) == _clusters(res_drop)


def test_config_drift_guard(runs, spark, corpus, tmp_path):
    _, _, runner, _ = runs
    wd = runner.workdir
    with pytest.raises(ValueError, match="different pipeline config"):
        Runner(spark, wd, PipelineConfig(**CFG)).run(corpus)
    with pytest.raises(ValueError, match="different pipeline config"):
        Runner(
            spark, wd,
            PipelineConfig(**CFG, drop_contained=True, containment_depth_cap=8),
        ).run(corpus)


def test_incremental_refusal(runs, spark):
    _, _, runner, _ = runs
    batch = spark.createDataFrame(_rows("n1", ["new conv " * 8]), DDL)
    with pytest.raises(ValueError, match="not monotone under new batches"):
        runner.run_incremental(batch)


def test_composes_with_pivot_mode(spark, corpus, tmp_path):
    res = Runner(
        spark, str(tmp_path / "piv"),
        PipelineConfig(**CFG, drop_contained=True, clustering_mode="pivot"),
    ).run(corpus)
    c = _clusters(res)
    assert sorted(m for ms in c.values() for m in ms) == [
        "x1", "x2", "x3", "y1", "y2", "z1"
    ]
    # the pivot still names its cluster and remains a member; reattached
    # rows join the rep's cluster
    for cid, members in c.items():
        assert cid in members
    assert any({"x1", "x2", "x3"} <= ms for ms in c.values())


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="containment_depth_cap"):
        Runner(
            spark, str(tmp_path / "v"),
            PipelineConfig(drop_contained=True, containment_depth_cap=0),
        )


def test_f1_unharmed_on_clean_corpus(spark, tmp_path):
    from hexspark import fixtures
    from hexspark.pipeline import evaluate

    tr = fixtures.transcripts_df(spark, n_base=120, seed=5, mutation_rate=0.01)
    res = Runner(
        spark, str(tmp_path / "clean"),
        PipelineConfig(max_dist=40, drop_contained=True),
    ).run(tr)
    labels = fixtures.labeled_pairs_df(spark, tr)
    m = evaluate.pairwise_f1(labels, res.tables["clusters"])
    assert m["f1"] == 1.0, m
