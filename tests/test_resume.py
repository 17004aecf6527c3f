"""Checkpoint/resume semantics (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Scenario: run the pipeline, simulate a crash after stage k by deleting
later stage outputs + manifest entries, rerun — earlier stages must be
skipped (read from checkpoint), later stages recomputed, and the final
outputs byte-identical to the uninterrupted run.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hexspark import fixtures
from hexspark.pipeline.runner import PipelineConfig, Runner


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def first_run(spark, tmp_path_factory):
    tr = fixtures.transcripts_df(spark, n_base=40, seed=7, mutation_rate=0.01).cache()
    tr.count()
    workdir = str(tmp_path_factory.mktemp("resume"))
    runner = Runner(spark, workdir, PipelineConfig(max_dist=40))
    result = runner.run(tr)
    clusters = _rows(result.tables["clusters"], ["conv_id", "cluster_id"])
    edges = _rows(result.tables["edges"], ["conv_id_a", "conv_id_b", "hamming_dist"])
    return tr, workdir, clusters, edges


def test_full_rerun_skips_everything(spark, first_run):
    tr, workdir, clusters, edges = first_run
    runner2 = Runner(spark, workdir, PipelineConfig(max_dist=40))
    result2 = runner2.run(tr)
    assert result2.stages_run == []
    assert result2.stages_skipped == Runner.STAGES
    assert _rows(result2.tables["clusters"], ["conv_id", "cluster_id"]) == clusters


def test_crash_after_stage_k_resumes(spark, first_run):
    tr, workdir, clusters, edges = first_run
    # simulate crash: edges + clusters lost, manifest rolled back
    manifest_path = os.path.join(workdir, "run_manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    for stage in ("edges", "clusters"):
        manifest["completed"].pop(stage, None)
        shutil.rmtree(os.path.join(workdir, stage), ignore_errors=True)
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)

    runner3 = Runner(spark, workdir, PipelineConfig(max_dist=40))
    result3 = runner3.run(tr)
    assert result3.stages_skipped == ["conversations", "signatures", "candidate_pairs"]
    assert result3.stages_run == ["edges", "clusters"]
    # byte-identical final outputs
    assert _rows(result3.tables["edges"], ["conv_id_a", "conv_id_b", "hamming_dist"]) == edges
    assert _rows(result3.tables["clusters"], ["conv_id", "cluster_id"]) == clusters


def test_metrics_accumulate_across_runs(spark, first_run):
    tr, workdir, _, _ = first_run
    runner = Runner(spark, workdir)
    metrics = runner.io.read("stage_metrics")
    # edges+clusters were written twice (original + resumed run)
    per_stage = {
        r["stage"]: r["n"]
        for r in metrics.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    assert per_stage["edges"] >= 2 or per_stage["clusters"] >= 2


def test_manifest_without_config_is_treated_as_drift(spark, first_run):
    """A pre-drift-guard manifest (completed stages, no recorded config)
    must refuse to resume — stage shapes can't be proven compatible."""
    _, workdir, _, _ = first_run
    manifest_path = os.path.join(workdir, "run_manifest.json")
    with open(manifest_path) as f:
        original = f.read()
    try:
        manifest = json.loads(original)
        manifest.pop("config", None)
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)
        runner = Runner(spark, workdir, PipelineConfig(max_dist=40))
        with pytest.raises(ValueError, match="no\\s+pipeline config|cannot prove"):
            runner._manifest()
    finally:
        with open(manifest_path, "w") as f:
            f.write(original)


def test_torn_manifest_dump_keeps_previous_manifest(spark, first_run, monkeypatch):
    """A crash in the middle of writing run_manifest.json (here: a dump
    that writes half the JSON, then raises) leaves the previous manifest
    parseable, and the workdir resumes from it."""
    tr, workdir, clusters, _ = first_run
    manifest_path = os.path.join(workdir, "run_manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    manifest["completed"].pop("clusters")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    real_dump = json.dump

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj, **kw)[:40])
        raise OSError("disk full mid-dump")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-dump"):
        Runner(spark, workdir, PipelineConfig(max_dist=40)).run(tr)
    monkeypatch.setattr(json, "dump", real_dump)
    with open(manifest_path) as f:
        assert json.load(f) == manifest
    result = Runner(spark, workdir, PipelineConfig(max_dist=40)).run(tr)
    assert result.stages_run == ["clusters"]
    assert _rows(result.tables["clusters"], ["conv_id", "cluster_id"]) == clusters
