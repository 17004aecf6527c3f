"""Ingest-time corpus hygiene: scrub + quality-gate document micro-batches
as they ARRIVE, so raw PII never lands in a stage table and junk never
accumulates — the streaming front half of pipeline/corpus.CorpusRunner.

Division of labor (why only stages 1-2 stream): the scrub and the
repetition gate are PER-DOCUMENT — batch-local application is exactly
corpus application, so streaming them is semantically free. Dedup,
LM training and mixture are CORPUS-WIDE — a per-batch decision
would depend on arrival order (a batch-local "unique" doc may duplicate
last week's) — so they stay in the periodic batch CorpusRunner run over
the accumulated `quality_stream` table, which this module keeps append-
only and immutable. That split is the standard production shape:
streaming hygiene at the edge, global passes on a schedule.

Exactly-once: the file source tracks consumed files in the stream
checkpoint; each micro-batch is written to its own epoch-keyed
partition subpath (``quality_stream/epoch=<id>``) with OVERWRITE, so a
crash-replayed epoch rewrites the same subpath instead of appending a
second copy — the write itself is idempotent, not merely guarded. The
per-checkpoint epoch record (same scheme as ingest.py) then only has to
detect the pathological case: an epoch id that REGRESSES because the
stream checkpoint was deleted and recreated. A regressed epoch whose
doc_ids are all already in the sink is a pure redelivery and is skipped;
one that carries unseen doc_ids would silently drop new data if skipped
and clobber prior epochs if overwritten, so it raises instead (mirror of
ingest.py's completion-witness contract check).

Readers of ``quality_stream`` see one extra ``epoch`` int partition
column from directory discovery; every consumer selects by name, so the
column rides along harmlessly (and doubles as per-batch lineage).

At 100 TB this is one stateless codegen projection + one doc-keyed
repetition aggregate per micro-batch — cost proportional to the batch,
no state store, restart from the checkpoint.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.pii import scrub_documents
from ..ops.quality import repetition_filter
from ..pipeline.io import write_json_atomic

DOC_DDL = "doc_id long, text string, lang string"


def _state_path(workdir: str) -> str:
    return os.path.join(workdir, "stream_hygiene_state.json")


def _load_state(workdir: str) -> dict:
    p = _state_path(workdir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {}


def _save_state(workdir: str, state: dict) -> None:
    write_json_atomic(_state_path(workdir), state)


def _refuse_flat_layout(out_dir: str) -> None:
    """Earlier versions appended every micro-batch as parquet files at the
    quality_stream root. Leaf files beside epoch=N directories break
    Spark's partition discovery for every reader of the table, so a
    workdir in that layout is refused before the stream starts."""
    if os.path.isdir(out_dir) and any(
        name.endswith(".parquet") for name in os.listdir(out_dir)
    ):
        raise RuntimeError(
            f"{out_dir} holds parquet files at its root: the flat layout of "
            "an earlier version, which cannot be mixed with epoch=N "
            "partitions. Recreate the workdir (or move those files away) "
            "and drain the source again."
        )


def hygiene_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
) -> DataFrame:
    """One batch through scrub + repetition gate: redacted text REPLACES
    the text column, PII totals ride along, repetition-failing docs drop.
    Works identically on a batch or (inside foreachBatch) a micro-batch —
    both stages are per-document, so batch-local ≡ corpus-wide."""
    passthrough = [c for c in docs.columns if c not in (id_col, text_col)]
    scrub = scrub_documents(docs, id_col, text_col).select(
        id_col, F.col("redacted_text").alias(text_col), "n_pii_total"
    )
    kept = docs.select(id_col, *passthrough).join(scrub, id_col)
    rep = repetition_filter(kept, id_col, text_col, thresholds)
    return kept.join(rep.where(F.col("keep")).select(id_col), id_col, "left_semi")


def hygiene_stream_to_parquet(
    spark: SparkSession,
    src_dir: str,
    workdir: str,
    checkpoint_key: str = "default",
    doc_ddl: str = DOC_DDL,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
    available_now: bool = True,
):
    """readStream(parquet drop-dir) → per-batch hygiene → exactly-once
    epoch-partitioned write under <workdir>/quality_stream. Returns the
    StreamingQuery. ``doc_ddl``/``id_col``/``text_col`` together describe
    custom schemas — the id/text names are threaded through to
    hygiene_batch, so any schema whose ddl names its id and text columns
    differently works end-to-end.

    The accumulated quality_stream table is the input for the periodic
    batch CorpusRunner run (dedup onward); committed epochs are
    immutable, so that run composes with incremental consumers the same
    way the ER stage tables do.
    """
    out_dir = os.path.join(workdir, "quality_stream")
    _refuse_flat_layout(out_dir)

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        state = _load_state(workdir)
        rec = state.get(checkpoint_key, {})
        if epoch_id <= rec.get("done_epoch", -1):
            # Epoch regression: only possible when the stream checkpoint
            # was deleted/recreated. Pure redelivery of already-written
            # docs is safe to skip; redelivery smuggling NEW docs is not
            # (skipping drops them, overwriting epoch=<id> clobbers a
            # different committed batch) — fail loud, like ingest.py.
            # Compare POST-hygiene ids: the sink only holds survivors, so
            # a replayed batch's scrub/repetition victims are expected to
            # be absent — hygiene is deterministic, so same batch → same
            # survivor set, and only genuinely new survivors are "unseen".
            seen = batch_df.sparkSession.read.parquet(out_dir).select(id_col)
            survivors = (
                hygiene_batch(batch_df, id_col, text_col, thresholds)
                .select(id_col)
                .distinct()
            )
            n_batch = survivors.count()
            n_known = survivors.join(seen, id_col, "left_semi").count()
            if n_known != n_batch:
                raise RuntimeError(
                    f"stream epoch {epoch_id} regressed below committed "
                    f"epoch {rec.get('done_epoch')} but carries "
                    f"{n_batch - n_known} unseen surviving {id_col}s: the "
                    "checkpoint "
                    "was recreated after new source files arrived — "
                    "refusing to silently drop them (restart with a fresh "
                    "workdir or a new checkpoint_key)"
                )
            return  # pure crash/redelivery replay of committed docs: skip
        cleaned = hygiene_batch(batch_df, id_col, text_col, thresholds)
        # epoch-keyed overwrite: a replay of THIS epoch (crash between
        # write and record) rewrites the same subpath — idempotent, never
        # double-appends, no matter where the crash landed.
        cleaned.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        state[checkpoint_key] = {"done_epoch": epoch_id}
        _save_state(workdir, state)

    stream = spark.readStream.schema(doc_ddl).parquet(src_dir)
    writer = stream.writeStream.foreachBatch(fold).option(
        "checkpointLocation", os.path.join(workdir, "ckpt_" + checkpoint_key)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
