"""Ingest-time hygiene fold: drain ≡ batch hygiene, incremental second
drain appends only new docs, crash-replay idempotence via the epoch
record, and composition with the batch CorpusRunner over the
accumulated quality_stream table."""

from __future__ import annotations

import json

import pytest

from hexspark.streaming.corpus import (
    DOC_DDL,
    _state_path,
    hygiene_batch,
    hygiene_stream_to_parquet,
)

# long enough that no single bigram covers 20% of word chars (the
# repetition thresholds assume web-document lengths — see test_quality)
_BATCH_A = [
    (1, "contact bob@example.com about the varied harbor shipping notes "
        "covering manifests schedules quotas and several other distinct "
        "logistics topics drafted independently across many meetings", "en"),
    (2, "spam spam spam spam spam spam spam spam", "en"),  # repetition victim
    (3, "a perfectly ordinary essay with steadily fresh wording all along "
        "introducing new vocabulary in every clause so that nothing ever "
        "repeats and the character mass stays evenly distributed", "en"),
]
_BATCH_B = [
    (4, "another later document with its own distinct vocabulary choices "
        "arriving in a second file drop and carrying still more unique "
        "phrasing than either of the earlier passages contained", "de"),
]


def _drain(spark, src, wd):
    q = hygiene_stream_to_parquet(spark, src, wd)
    q.awaitTermination()


def _sink(spark, wd):
    return {
        r["doc_id"]: (r["text"], r["n_pii_total"], r["lang"])
        for r in spark.read.parquet(f"{wd}/quality_stream").collect()
    }


def test_drain_equals_batch_and_incremental_append(spark, tmp_path):
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    spark.createDataFrame(_BATCH_A, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, wd)
    got = _sink(spark, wd)
    batch = {
        r["doc_id"]: (r["text"], r["n_pii_total"], r["lang"])
        for r in hygiene_batch(spark.createDataFrame(_BATCH_A, DOC_DDL)).collect()
    }
    assert got == batch
    assert set(got) == {1, 3}  # repetition victim gone
    assert "[EMAIL]" in got[1][0] and got[1][1] == 1

    # second drop: only the new doc appends
    spark.createDataFrame(_BATCH_B, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, wd)
    got2 = _sink(spark, wd)
    assert set(got2) == {1, 3, 4}
    assert got2[1] == got[1]  # earlier rows untouched


def test_crash_replay_epoch_is_skipped(spark, tmp_path):
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    spark.createDataFrame(_BATCH_A, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, wd)
    n1 = spark.read.parquet(f"{wd}/quality_stream").count()
    # simulate a crash-replay of epoch 0: wind the checkpoint back by
    # deleting it (the file source will redeliver everything) while the
    # epoch record says the append already committed
    import shutil

    shutil.rmtree(f"{wd}/ckpt_default")
    _drain(spark, src, wd)
    assert spark.read.parquet(f"{wd}/quality_stream").count() == n1  # no double-append
    rec = json.load(open(_state_path(wd)))
    assert rec["default"]["done_epoch"] >= 0


def test_checkpoint_recreated_with_new_docs_raises(spark, tmp_path):
    """Epoch regression carrying genuinely NEW surviving docs must fail
    loud: skipping would silently drop them, overwriting would clobber a
    different committed epoch."""
    import shutil

    import pytest

    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    spark.createDataFrame(_BATCH_A, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, wd)
    # recreate the checkpoint AFTER a new source file arrives: the
    # redelivered epoch 0 now bundles old docs with unseen doc 4
    shutil.rmtree(f"{wd}/ckpt_default")
    spark.createDataFrame(_BATCH_B, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="unseen surviving"):
        _drain(spark, src, wd)
    # and nothing was dropped or clobbered: the sink still holds exactly
    # the first drain's survivors
    assert set(_sink(spark, wd)) == {1, 3}


def test_custom_id_text_columns(spark, tmp_path):
    """doc_ddl with different id/text names threads through to
    hygiene_batch via id_col/text_col."""
    ddl = "id long, body string, lang string"
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    spark.createDataFrame(_BATCH_A, ddl).coalesce(1).write.mode("append").parquet(src)
    q = hygiene_stream_to_parquet(
        spark, src, wd, doc_ddl=ddl, id_col="id", text_col="body"
    )
    q.awaitTermination()
    rows = {
        r["id"]: r["body"] for r in spark.read.parquet(f"{wd}/quality_stream").collect()
    }
    assert set(rows) == {1, 3}
    assert "[EMAIL]" in rows[1]


def test_composes_with_batch_corpus_runner(spark, tmp_path):
    from hexspark.pipeline.corpus import CorpusConfig, CorpusRunner

    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    dup = [(5, _BATCH_A[2][1], "en")]  # exact dup of doc 3 arrives later
    spark.createDataFrame(_BATCH_A + dup, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, wd)
    acc = spark.read.parquet(f"{wd}/quality_stream")
    res = CorpusRunner(
        spark, str(tmp_path / "batchwd"), CorpusConfig(near_dup=False)
    ).run(acc)
    kept = {r["doc_id"] for r in res.tables["deduped"].collect()}
    assert kept == {1, 3}  # the late exact dup (5) removed by the batch pass


def test_legacy_flat_layout_is_refused_at_start(spark, tmp_path):
    """A quality_stream written flat (parquet files at its root, the
    layout before epoch=N partitions) must fail at start with a clear
    message, not break partition discovery after a mixed write."""
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    spark.createDataFrame(_BATCH_B, DOC_DDL).coalesce(1).write.mode("append").parquet(src)
    hygiene_batch(spark.createDataFrame(_BATCH_A, DOC_DDL)).write.parquet(
        f"{wd}/quality_stream"
    )
    with pytest.raises(RuntimeError, match="Recreate the workdir"):
        hygiene_stream_to_parquet(spark, src, wd)
