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


def _jobs_per_read(spark, monkeypatch):
    """Run every TableIO.read under a job group of its own; the returned
    callable maps each read to the Spark jobs it launched."""
    from hexspark.pipeline.io import TableIO

    sc = spark.sparkContext
    real_read = TableIO.read
    groups = []

    def read(io, name, schema=None):
        group = f"read-{len(groups)}-{name}"
        groups.append(group)
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            return real_read(io, name, schema)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(TableIO, "read", read)

    def jobs() -> dict[str, int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}

    return jobs


def test_full_rerun_and_fold_read_prior_tables_without_inference(
    spark, first_run, tmp_path, monkeypatch
):
    """Each stage's manifest entry records its schema, so a fully skipped
    rerun and a fold read every prior table under it: no read launches
    the schema-inference job a bare parquet read costs."""
    tr, workdir, _, _ = first_run
    with open(os.path.join(workdir, "run_manifest.json")) as f:
        entry = json.load(f)["completed"]["signatures"]
    from pyspark.sql.types import StructType

    assert "sig_hex" in StructType.fromJson(entry["schema"]).names

    jobs = _jobs_per_read(spark, monkeypatch)
    result = Runner(spark, workdir, CFG).run(tr)
    assert result.stages_skipped == Runner.STAGES
    reads = jobs()
    assert len(reads) == len(Runner.STAGES) and not any(reads.values()), reads

    # fold five new base conversations (same generator, disjoint ids) into
    # a copy of the run, so the tests below keep the original workdir
    fold_dir = str(tmp_path / "fold")
    shutil.copytree(workdir, fold_dir)
    new = fixtures.transcripts_df(spark, n_base=45, seed=7, mutation_rate=0.01).where(
        F.col("conv_id") >= "conv_00000040"
    )
    done = len(reads)
    Runner(spark, fold_dir, CFG).run_incremental(new)
    reads = dict(list(jobs().items())[done:])
    assert len(reads) >= 3 and not any(reads.values()), reads


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


def test_manifest_with_a_dropped_config_field_names_it(spark, first_run):
    """A manifest recording a field the config no longer has (here
    pair_partitions, at its old default None) must refuse to resume, and
    the refusal must name that field rather than print an empty diff."""
    _, workdir, _, _ = first_run
    manifest_path = os.path.join(workdir, "run_manifest.json")
    with open(manifest_path) as f:
        original = f.read()
    try:
        manifest = json.loads(original)
        manifest["config"]["pair_partitions"] = None
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)
        runner = Runner(spark, workdir, PipelineConfig(max_dist=40))
        with pytest.raises(
            ValueError, match="different pipeline config .*'pair_partitions'"
        ):
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


# -- stage accounting: from the files a stage's write leaves ----------------

CFG = PipelineConfig(max_dist=40)


class _Crash(Exception):
    pass


def _table_rows(spark, workdir, stage):
    return sorted(tuple(r) for r in spark.read.parquet(os.path.join(workdir, stage)).collect())


def _data_files(workdir, stage):
    root = os.path.join(workdir, stage)
    return [
        os.path.join(root, f)
        for f in sorted(os.listdir(root))
        if not f.startswith(("_", "."))
    ]


@pytest.fixture(scope="module")
def clean_run(spark, first_run, tmp_path_factory):
    """A clean run in its own workdir, untouched by the crash tests above."""
    tr = first_run[0]
    workdir = str(tmp_path_factory.mktemp("clean"))
    result = Runner(spark, workdir, CFG).run(tr)
    tables = {s: _table_rows(spark, workdir, s) for s in Runner.STAGES}
    return workdir, result, tables


def _assert_one_row_set_per_execution(spark, workdir):
    with open(os.path.join(workdir, "run_manifest.json")) as f:
        manifest = json.load(f)
    metrics = spark.read.parquet(os.path.join(workdir, "stage_metrics")).collect()
    by_stage = {s: [r for r in metrics if r["stage"] == s] for s in Runner.STAGES}
    # none duplicated, none lost: one row set whose rows sum to the table's
    for stage, mine in by_stage.items():
        assert len({(r["run_id"], r["ts"]) for r in mine}) == 1, stage
        assert sum(r["rows_out"] for r in mine) == manifest["completed"][stage]["rows"], stage
    for stage, mine in by_stage.items():
        files = manifest["completed"][stage]["files"]
        assert sorted(r["partition_id"] for r in mine) == list(range(files)), stage


@pytest.mark.parametrize(
    "point", ["after_table_write", "after_metrics_write", "before_mark"]
)
def test_crash_in_stage_accounting_resumes_without_duplicate_metrics(
    spark, first_run, clean_run, tmp_path, monkeypatch, point
):
    """A crash at each step between a stage's table write and its manifest
    mark, then a rerun: the tables equal a clean run's, and stage_metrics
    holds exactly one row set per stage execution."""
    from hexspark.pipeline.io import TableIO

    tr = first_run[0]
    workdir = str(tmp_path / "wd")
    crash_stage = "edges"
    if point == "after_table_write":
        real_write = TableIO.write

        def write(io, df, name, *args, **kwargs):
            real_write(io, df, name, *args, **kwargs)
            if name == crash_stage:
                raise _Crash(point)

        monkeypatch.setattr(TableIO, "write", write)
    elif point == "after_metrics_write":
        real_put = TableIO.put_rows

        def put_rows(io, rows, schema, name, key):
            real_put(io, rows, schema, name, key)
            if rows[0][0] == crash_stage:
                raise _Crash(point)

        monkeypatch.setattr(TableIO, "put_rows", put_rows)
    else:
        real_mark = Runner._mark

        def mark(runner, manifest, stage, *args):
            if stage == crash_stage:
                raise _Crash(point)
            real_mark(runner, manifest, stage, *args)

        monkeypatch.setattr(Runner, "_mark", mark)
    with pytest.raises(_Crash):
        Runner(spark, workdir, CFG).run(tr)
    monkeypatch.undo()

    result = Runner(spark, workdir, CFG).run(tr)
    assert result.stages_skipped == ["conversations", "signatures", "candidate_pairs"]
    assert result.stages_run == ["edges", "clusters"]
    _, _, clean_tables = clean_run
    for stage in Runner.STAGES:
        assert _table_rows(spark, workdir, stage) == clean_tables[stage], stage
    _assert_one_row_set_per_execution(spark, workdir)


def _jobs_in_group(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_launches_no_job_after_its_write(spark, tmp_path):
    """A stage run through the runner launches exactly the jobs of a bare
    parquet write of its frame: accounting and read-back add none."""
    from hexspark.pipeline.runner import PipelineResult

    df = spark.range(0, 2000, numPartitions=4).select(
        F.col("id").cast("string").alias("conv_id"), (F.col("id") % 7).alias("k")
    )
    bare = _jobs_in_group(
        spark, "bare-write", lambda: df.write.parquet(str(tmp_path / "bare"))
    )
    runner = Runner(spark, str(tmp_path / "wd"))
    manifest = runner._manifest()
    result = PipelineResult(run_id=manifest["run_id"])
    staged = _jobs_in_group(
        spark, "runner-stage",
        lambda: runner._run_stage(manifest, result, "stage_t", lambda: df),
    )
    assert bare >= 1
    assert staged == bare
    assert result.tables["stage_t"].count() == 2000


def test_read_back_keeps_the_written_schema(spark, clean_run):
    workdir, result, _ = clean_run
    for stage in Runner.STAGES:
        inferred = spark.read.parquet(os.path.join(workdir, stage)).schema
        assert result.tables[stage].schema == inferred, stage


def test_manifest_reports_rows_files_and_bytes(spark, clean_run):
    """Each stage entry records the files and bytes its write left, and
    its stage_metrics rows are those files' row counts, in file order."""
    workdir, result, _ = clean_run
    with open(os.path.join(workdir, "run_manifest.json")) as f:
        manifest = json.load(f)
    metrics = spark.read.parquet(os.path.join(workdir, "stage_metrics"))
    assert metrics.schema.simpleString() == (
        "struct<stage:string,partition_id:int,rows_out:bigint,"
        "wall_ms:bigint,run_id:string,ts:timestamp>"
    )
    rows = metrics.collect()
    for stage in Runner.STAGES:
        entry = manifest["completed"][stage]
        files = _data_files(workdir, stage)
        assert entry["files"] == len(files), stage
        assert entry["bytes"] == sum(os.path.getsize(p) for p in files), stage
        assert entry["rows"] == result.tables[stage].count(), stage
        per_file = {
            os.path.basename(r[0]): r[1]
            for r in spark.read.parquet(os.path.join(workdir, stage))
            .groupBy(F.input_file_name())
            .count()
            .collect()
        }
        got = sorted(
            (r["partition_id"], r["rows_out"]) for r in rows if r["stage"] == stage
        )
        assert got == [
            (i, per_file.get(os.path.basename(p), 0)) for i, p in enumerate(files)
        ], stage


def test_candidate_pairs_stage_is_at_most_four_spark_jobs(
    spark, first_run, tmp_path, monkeypatch
):
    """On a corpus with no oversize block the candidate_pairs stage is the
    oversize collect (one block-size aggregate) and the pairs write; the
    skipped_blocks table is written on the driver: ≤ 4 Spark jobs."""
    tr = first_run[0]
    sc = spark.sparkContext
    group = "candidate-pairs-stage"
    run_stage = Runner._run_stage

    def grouped(self, manifest, result, stage, build):
        if stage != "candidate_pairs":
            return run_stage(self, manifest, result, stage, build)
        sc.setJobGroup(group, "candidate_pairs stage")
        try:
            return run_stage(self, manifest, result, stage, build)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(Runner, "_run_stage", grouped)
    workdir = str(tmp_path / "wd")
    Runner(spark, workdir, CFG).run(tr)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert _table_rows(spark, workdir, "skipped_blocks") == []
    assert 1 <= jobs <= 4, jobs


# -- the skipped_blocks side table: written inside the candidate_pairs stage

_BOILER = (
    "thank you for contacting support your ticket has been received and an "
    "agent will reply within two business days please keep this reference"
)
OVERSIZE_CFG = PipelineConfig(max_dist=40, max_block=16)


@pytest.fixture(scope="module")
def oversize_run(spark, tmp_path_factory):
    """A clean run over ordinary conversations beside 40 near-identical
    ones, whose shared blocks exceed max_block=16."""
    mega = spark.createDataFrame(
        [(f"mega_{i:03d}", 0, "assistant", f"{_BOILER} ref {i}", "none") for i in range(40)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    tr = fixtures.transcripts_df(spark, n_base=20, seed=23, mutation_rate=0.01)
    tr = tr.unionByName(mega).cache()
    workdir = str(tmp_path_factory.mktemp("oversize"))
    Runner(spark, workdir, OVERSIZE_CFG).run(tr)
    return tr, workdir


@pytest.mark.parametrize("corpus", ["clean", "oversize"])
def test_crash_after_skipped_blocks_write_resumes_with_one_row_set(
    spark, first_run, clean_run, oversize_run, tmp_path, monkeypatch, corpus
):
    """A crash after the skipped_blocks write and before candidate_pairs
    is marked, then a rerun: every table equals a clean run's, and
    skipped_blocks holds one row set — empty on the clean corpus, yet
    still a table that carries its schema."""
    from hexspark.pipeline.io import TableIO
    from hexspark.pipeline.runner import SKIPPED_BLOCKS_SCHEMA

    if corpus == "clean":
        tr, cfg, clean_dir = first_run[0], CFG, clean_run[0]
    else:
        (tr, clean_dir), cfg = oversize_run, OVERSIZE_CFG
    workdir = str(tmp_path / "wd")
    real_write_rows = TableIO.write_rows

    def write_rows(io, rows, schema, name):
        real_write_rows(io, rows, schema, name)
        if name == "skipped_blocks":
            raise _Crash("after skipped_blocks")

    monkeypatch.setattr(TableIO, "write_rows", write_rows)
    with pytest.raises(_Crash):
        Runner(spark, workdir, cfg).run(tr)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(workdir, "skipped_blocks", "_SUCCESS"))

    result = Runner(spark, workdir, cfg).run(tr)
    assert result.stages_skipped == ["conversations", "signatures"]
    assert result.stages_run == ["candidate_pairs", "edges", "clusters"]
    for stage in (*Runner.STAGES, "skipped_blocks"):
        assert _table_rows(spark, workdir, stage) == _table_rows(spark, clean_dir, stage), stage
    path = os.path.join(workdir, "skipped_blocks")
    assert spark.read.parquet(path).schema == SKIPPED_BLOCKS_SCHEMA
    skipped = _table_rows(spark, workdir, "skipped_blocks")
    assert len(set(skipped)) == len(skipped)
    assert (skipped == []) == (corpus == "clean")
    _assert_one_row_set_per_execution(spark, workdir)
