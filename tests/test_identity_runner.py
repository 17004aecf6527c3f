"""Persistent entity ids through the Runner: batch bootstrap mints ids, an
incremental fold that merges two prior entities keeps the bigger one's id
and retires the other with a destination, resume skips, and the
incremental guard requires the stage."""

from __future__ import annotations

from datetime import datetime

import pytest

from hexspark.pipeline.runner import PipelineConfig, Runner
from tests.test_robust_runner import TEXTS, WITNESS, _transcripts

CFG = dict(max_dist=60, n_bands=32, persist_entity_ids=True)


@pytest.fixture(scope="module")
def folded(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("identity_run"))
    runner = Runner(spark, wd, PipelineConfig(**CFG))
    # batch: drop the bridge-leaning pair so the two entities stay apart
    base = {k: v for k, v in TEXTS.items() if k not in ("a3",)}
    res1 = runner.run(_transcripts(spark, base, datetime(2024, 1, 1)))
    ids1 = {r.conv_id: r.entity_id for r in res1.tables["entity_ids"].collect()}
    # fold: a3 + the witness arrive and glue {a*} and {b1...} via matches
    res2 = runner.run_incremental(
        _transcripts(spark, {"a3": TEXTS["a3"], "c1": WITNESS}, datetime(2024, 1, 2))
    )
    return wd, runner, ids1, res2


def test_bootstrap_mints_and_fold_carries(spark, folded):
    wd, runner, ids1, _ = folded
    assert all(v.startswith("new:") for v in ids1.values())
    ids2 = {
        r.conv_id: r.entity_id for r in runner.io.read("entity_ids").collect()
    }
    # every conversation of the prior run keeps or merges ids; the merged
    # entity keeps the id of its largest prior constituent
    merged_members = {k for k, v in ids2.items() if len(
        [x for x in ids2 if ids2[x] == v]) > 1}
    assert set(ids2) >= set(ids1)
    # no id churn for conversations whose entity did not merge
    for k, v in ids1.items():
        assert ids2[k] == v or ids2[k] in set(ids1.values())


def test_merge_retires_loser_with_destination(spark, folded):
    _, runner, ids1, _ = folded
    ids2 = {r.conv_id: r.entity_id for r in runner.io.read("entity_ids").collect()}
    retired = {
        r.entity_id: r.absorbed_into
        for r in runner.io.read("entity_retirements").collect()
    }
    # the glued entity holds members of BOTH prior entities under ONE id
    glued = ids2["a3"] if "a3" in ids2 else None
    prior_ids_in_glued = {ids1[k] for k, v in ids2.items() if v == glued and k in ids1}
    if len(prior_ids_in_glued) > 1:
        live = set(ids2.values())
        for pid in prior_ids_in_glued:
            if pid != glued:
                assert pid in retired and retired[pid] == glued
                assert pid not in live


def test_resume_skips_entity_stage(spark, folded):
    wd, runner, _, _ = folded
    base = {k: v for k, v in TEXTS.items() if k not in ("a3",)}
    rerun = Runner(spark, wd, PipelineConfig(**CFG)).run(
        _transcripts(spark, base, datetime(2024, 1, 1))
    )
    assert "entity_ids" in rerun.stages_skipped
    assert "entity_retirements" in rerun.stages_skipped


def test_incremental_requires_the_stage(spark, tmp_path):
    base = {k: v for k, v in TEXTS.items() if k != "a3"}
    wd = str(tmp_path)
    Runner(spark, wd, PipelineConfig(max_dist=60, n_bands=32)).run(
        _transcripts(spark, base, datetime(2024, 1, 1))
    )
    r2 = Runner(spark, wd, PipelineConfig(**CFG))
    with pytest.raises(ValueError, match="entity_ids"):
        r2.run_incremental(
            _transcripts(spark, {"a3": TEXTS["a3"]}, datetime(2024, 1, 2))
        )
