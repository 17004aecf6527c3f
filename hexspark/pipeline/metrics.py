"""B10 — per-file lineage/metrics for resumability (north_rule).

stage_metrics(stage, partition_id, rows_out, wall_ms, run_id, ts): one row
per data file of a stage's table, per stage execution. `partition_id` is
the file's index in the table's file listing (for a stage write, the
order of the tasks that wrote it) and `rows_out` its row count, read from
the file's parquet footer on the driver (Iceberg: the `files` metadata
table) — per-task skew and row-count lineage per stage, with no Spark job
after the stage's own write.

Each execution's rows land as one file keyed by run_id, the manifest's
execution counter and the stage. The counter advances only when the
manifest marks the stage done, so a crash between the metrics write and
the mark rewrites the same file on rerun instead of duplicating its rows,
while a real re-execution (a resumed stage) gets a new key and its rows
accumulate next to the earlier ones.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampType,
)

METRICS_SCHEMA = StructType([
    StructField("stage", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("rows_out", LongType()),
    StructField("wall_ms", LongType()),
    StructField("run_id", StringType()),
    StructField("ts", TimestampType()),
])


def record_stage(
    io, manifest: dict, stage: str, schema: StructType, wall_ms: int, mark,
    label: str | None = None,
) -> DataFrame:
    """Account a stage whose table `io` has just written, from what the
    write left on disk: its `stage_metrics` rows (stamped `label`, default
    the stage name), then `mark(manifest, stage, entry)` with the entry's
    rows, wall_ms, files, bytes and `schema` (the schema the table was
    written with, in its JSON form, so a later run reads the table without
    inferring it). Returns the table read back under `schema`."""
    files = io.data_files(stage)
    run_id = manifest["run_id"]
    n = manifest.get("executions", 0)
    label = label or stage
    now = datetime.now(timezone.utc)
    io.put_rows(
        [(label, i, rows, wall_ms, run_id, now) for i, (rows, _) in enumerate(files)],
        METRICS_SCHEMA, "stage_metrics", f"{run_id}-{n}-{label}",
    )
    # persisted by the mark: until it lands, a rerun reuses the key above
    manifest["executions"] = n + 1
    mark(manifest, stage, {
        "rows": sum(rows for rows, _ in files),
        "wall_ms": wall_ms,
        "files": len(files),
        "bytes": sum(size for _, size in files),
        "schema": schema.jsonValue(),
    })
    return io.read(stage, schema)


def read_stage(io, manifest: dict, stage: str) -> DataFrame:
    """A completed stage's table, read under the schema its manifest entry
    records, so Spark runs no schema-inference job. An entry written
    before entries carried a schema reads with inference."""
    schema = manifest["completed"][stage].get("schema")
    return io.read(stage, schema and StructType.fromJson(schema))


class StageTimer:
    def __init__(self) -> None:
        self.t0 = time.monotonic()

    def wall_ms(self) -> int:
        return int((time.monotonic() - self.t0) * 1000)
