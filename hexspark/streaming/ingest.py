"""Structured-Streaming ingest: fold transcript micro-batches into the
clustering continuously.

The north rule's pipeline is batch (Iceberg snapshots), and the incremental
path (pipeline/incremental.py) already gives daily-batch folds; this module
closes the gap to a live feed: a file-source stream of transcript parquet
files where each micro-batch is folded through the SAME Runner surface —
the first batch bootstraps the full pipeline, every later batch runs the
incremental merge. No separate streaming engine semantics to validate: a
fold is exactly `Runner.run` / `Runner.run_incremental`, so the
batch-equivalence contract pinned by tests/test_incremental.py carries
over verbatim.

Exactly-once: the file source tracks consumed files in the stream
checkpoint, and foreachBatch replays after a crash are made idempotent by
a per-checkpoint fold record in the workdir (the standard
idempotent-foreachBatch pattern — epoch ids are only meaningful relative
to one checkpoint, so the record is keyed by it). A replay of a fully
folded epoch is skipped; a replay of an epoch that crashed mid-fold uses
the signatures table (the fold's FINAL write, by the runner's retryable
write order) as the completion witness: all batch conv_ids present →
only the record write was lost, skip; otherwise re-run the fold, which
the runner's write order makes safe (the overlap guard still passes and
the recompute is idempotent; at worst the edges append duplicates, which
connected components is insensitive to).

At scale this is the right shape: each micro-batch pays cost proportional
to the batch (incremental blocking never generates the old-old quadrant),
state lives in the stage tables (Iceberg/parquet), not executor memory,
and the stream survives restarts from its checkpoint.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import TRANSCRIPT_SCHEMA as TRANSCRIPT_DDL
from ..pipeline.io import write_json_atomic
from ..pipeline.runner import PipelineConfig, Runner


def _fold_state_path(workdir: str) -> str:
    return os.path.join(workdir, "stream_fold_state.json")


def _load_fold_state(workdir: str) -> dict:
    p = _fold_state_path(workdir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {}


def _save_fold_state(workdir: str, state: dict) -> None:
    write_json_atomic(_fold_state_path(workdir), state)


def _routes_incremental(runner: Runner) -> bool:
    """Mirror Runner.run_incremental's own precondition (runner.py): both
    the signatures and clusters stages completed AND their tables present.
    Anything less bootstraps via Runner.run — routing a half-built workdir
    to the incremental path would just raise there.

    This proxy stays sound for robust mode without listing its extra
    required stages (triangles, bridge_edges): Runner.run writes clusters
    LAST, strictly after the graph stages, so clusters-complete implies
    they exist; and a workdir bootstrapped under a different mode is
    refused by the config drift guard before routing matters."""
    p = os.path.join(runner.workdir, "run_manifest.json")
    if not os.path.exists(p):
        return False
    with open(p) as f:
        m = json.load(f)
    done = m.get("completed", {})
    return all(
        done.get(stage) and runner.io.exists(stage)
        for stage in ("signatures", "clusters")
    )


def make_fold_batch(runner: Runner, fold_key: str = "default"):
    """foreachBatch callback folding one micro-batch of transcripts into
    the runner's workdir. `fold_key` namespaces the idempotence record —
    epoch ids restart from 0 for every distinct stream checkpoint, so the
    caller keys it by checkpoint location. Split out for direct unit
    testing."""

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        workdir = runner.workdir
        state = _load_fold_state(workdir)
        rec = state.get(fold_key, {})
        last_done = rec.get("done_epoch", -1)
        if epoch_id <= last_done:
            return  # crash-replayed epoch: fully folded, skip
        if not batch_df.isEmpty():
            if _routes_incremental(runner):
                # Replay of an epoch that crashed between the fold and the
                # record write. run_incremental writes edges (append), then
                # clusters, then signatures LAST — signatures is therefore
                # the completion witness: all batch ids present → the fold
                # finished and only the record write was lost → skip. Not
                # all present → re-running is safe by the runner's write
                # order (it passes the overlap guard and recomputes
                # idempotently; the only residue is a duplicated edges
                # append, which connected components is insensitive to).
                batch_ids = batch_df.select("conv_id").distinct()
                n_batch = batch_ids.count()
                n_known = (
                    runner.io.read("signatures")
                    .join(F.broadcast(batch_ids), "conv_id", "left_semi")
                    .count()
                )
                if n_known == n_batch and epoch_id != last_done + 1:
                    # All ids already folded, but the fold record rules out
                    # a crash replay: a lost record write can only lose the
                    # epoch IMMEDIATELY after last_done. A later epoch whose
                    # conversations all exist is the source re-delivering
                    # old data — the contract violation the runner's
                    # overlap guard exists to catch. Raise instead of
                    # silently masking it with the witness skip.
                    raise RuntimeError(
                        f"stream epoch {epoch_id} re-delivers only already-"
                        f"folded conv_ids but is not a replay of epoch "
                        f"{last_done + 1}: upstream source re-delivered old "
                        "conversations (exactly-once contract violation)"
                    )
                if n_known != n_batch:
                    runner.run_incremental(batch_df)
            else:
                runner.run(batch_df)
        state[fold_key] = {"done_epoch": epoch_id}
        _save_fold_state(workdir, state)

    return fold


def fold_transcript_stream(
    spark: SparkSession,
    source_dir: str,
    workdir: str,
    config: PipelineConfig | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Start the fold stream over a directory of transcript parquet files.

    available_now=True drains everything currently available and stops
    (the batch-ingest / test mode); False runs continuously. Returns the
    StreamingQuery — callers awaitTermination().
    """
    runner = Runner(spark, workdir, config)
    checkpoint = checkpoint_dir or os.path.join(workdir, "_stream_checkpoint")
    reader = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    writer = (
        reader.writeStream.foreachBatch(
            make_fold_batch(runner, fold_key=os.path.abspath(checkpoint))
        ).option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
