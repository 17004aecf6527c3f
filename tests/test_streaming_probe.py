"""Streaming probe service (streaming/probe.py): the stream-static-join
plan must answer each probe EXACTLY like the batch two-stage probe
(pipeline/probe.probe_clusters) on tight clusters, emit each match once,
fold new probe files incrementally across drains, and keep the query
stateless (no aggregation/dedup state store).
"""

from __future__ import annotations

import numpy as np
import pytest

from hexspark.pipeline.probe import probe_clusters, reps_with_radius
from hexspark.streaming.probe import probe_file_stream, probe_stream


def _planted(rng, n_clusters=8, members=4, flip=3):
    sigs, clusters = {}, {}
    for c in range(n_clusters):
        center = rng.integers(0, 256, 32, dtype=np.uint8)
        for m in range(members):
            v = center.copy()
            for _ in range(flip):
                i = int(rng.integers(0, 256))
                v[i // 8] ^= 1 << (7 - i % 8)
            sigs[f"cl{c}_m{m}"] = v.tobytes()
            clusters[f"cl{c}_m{m}"] = f"cl{c}"
    return sigs, clusters


def _corpus(spark, sigs, clusters):
    sig_df = spark.createDataFrame(
        [(k, v.hex()) for k, v in sigs.items()], "conv_id string, sig_hex string"
    )
    cl_df = spark.createDataFrame(
        list(clusters.items()), "conv_id string, cluster_id string"
    )
    reps = reps_with_radius(cl_df, sig_df).persist()
    members = cl_df.join(sig_df, "conv_id").select("cluster_id", "conv_id", "sig_hex")
    members = members.persist()
    return sig_df, cl_df, reps, members


@pytest.mark.parametrize("n_bands", [16, 64])
def test_probe_stream_batch_plan_equals_two_stage_probe(spark, n_bands):
    """Same function on a BATCH probes frame: output set identical to
    probe_clusters for every probe (tight clusters: radius + max_dist < 16
    bands, so the band screen is lossless by pigeonhole). n_bands=64 runs
    the first-matching-band filter up to bit 63 under ANSI mode."""
    rng = np.random.default_rng(21)
    sigs, clusters = _planted(rng)
    sig_df, cl_df, reps, members = _corpus(spark, sigs, clusters)
    max_dist = 8
    probes = [("p0", sigs["cl0_m0"].hex()), ("p1", sigs["cl3_m2"].hex())]
    probe_df = spark.createDataFrame(probes, "probe_id string, sig_hex string")
    got = {
        (r["probe_id"], r["conv_id"], r["dist"])
        for r in probe_stream(probe_df, reps, members, max_dist, n_bands).collect()
    }
    want = set()
    for pid, phex in probes:
        for r in probe_clusters(reps, cl_df, sig_df, phex, max_dist).collect():
            want.add((pid, r["conv_id"], r["dist"]))
    assert got == want
    assert len(got) > 0
    reps.unpersist(), members.unpersist()


def test_probe_stream_is_exactly_once_per_match(spark):
    """A probe equal to a cluster center matches the rep on EVERY band —
    the first-matching-band filter must still emit each member once."""
    rng = np.random.default_rng(5)
    sigs, clusters = _planted(rng, n_clusters=3, members=5, flip=0)  # radius 0
    _, _, reps, members = _corpus(spark, sigs, clusters)
    probe_df = spark.createDataFrame(
        [("p", sigs["cl1_m0"].hex())], "probe_id string, sig_hex string"
    )
    rows = probe_stream(probe_df, reps, members, 4).collect()
    keys = [(r["probe_id"], r["conv_id"]) for r in rows]
    assert sorted(keys) == sorted(set(keys))
    assert len(keys) == 5  # all of cl1, nothing else
    reps.unpersist(), members.unpersist()


def test_probe_file_stream_drains_and_folds_incrementally(spark, tmp_path):
    rng = np.random.default_rng(9)
    sigs, clusters = _planted(rng)
    sig_df, cl_df, reps, members = _corpus(spark, sigs, clusters)
    max_dist = 8
    probe_dir, workdir = str(tmp_path / "probes"), str(tmp_path / "work")

    batch1 = [("p0", sigs["cl0_m1"].hex()), ("p1", rng.integers(0, 256, 32, dtype=np.uint8).tobytes().hex())]
    spark.createDataFrame(batch1, "probe_id string, sig_hex string").coalesce(
        1
    ).write.mode("append").parquet(probe_dir)
    q = probe_file_stream(spark, probe_dir, reps, members, workdir, max_dist)
    q.awaitTermination()
    out1 = spark.read.parquet(f"{workdir}/matches")
    got1 = {(r["probe_id"], r["conv_id"], r["dist"]) for r in out1.collect()}
    want1 = set()
    for pid, phex in batch1:
        for r in probe_clusters(reps, cl_df, sig_df, phex, max_dist).collect():
            want1.add((pid, r["conv_id"], r["dist"]))
    assert got1 == want1
    assert {p for p, _, _ in got1} == {"p0"}  # the random probe matches nothing

    # second drain: only the NEW probe file is processed (file-source
    # checkpoint), its matches appended alongside the first drain's
    batch2 = [("p2", sigs["cl5_m3"].hex())]
    spark.createDataFrame(batch2, "probe_id string, sig_hex string").coalesce(
        1
    ).write.mode("append").parquet(probe_dir)
    q2 = probe_file_stream(spark, probe_dir, reps, members, workdir, max_dist)
    q2.awaitTermination()
    out2 = spark.read.parquet(f"{workdir}/matches")
    got2 = {(r["probe_id"], r["conv_id"], r["dist"]) for r in out2.collect()}
    extra = {
        ("p2", r["conv_id"], r["dist"])
        for r in probe_clusters(reps, cl_df, sig_df, batch2[0][1], max_dist).collect()
    }
    assert got2 == want1 | extra
    assert len(extra) > 0
    reps.unpersist(), members.unpersist()


def test_probe_stream_plan_is_stateless_and_python_free(spark):
    """Stream-static joins need no state store: the streaming plan must
    contain no StateStore / dedup / aggregation-state operators and no
    Python evaluation."""
    rng = np.random.default_rng(2)
    sigs, clusters = _planted(rng, n_clusters=2, members=2)
    _, _, reps, members = _corpus(spark, sigs, clusters)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("cast(value as string) as probe_id", f"'{'0' * 64}' as sig_hex")
    )
    out = probe_stream(stream, reps, members, 4)
    assert out.isStreaming
    explained = out._jdf.queryExecution().toString()
    for marker in ("StateStore", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in explained, marker
    reps.unpersist(), members.unpersist()


def test_probe_stream_rejects_bad_band_count(spark):
    rng = np.random.default_rng(1)
    sigs, clusters = _planted(rng, n_clusters=2, members=2)
    _, _, reps, members = _corpus(spark, sigs, clusters)
    probe_df = spark.createDataFrame(
        [("p", "0" * 64)], "probe_id string, sig_hex string"
    )
    with pytest.raises(ValueError, match="n_bands"):
        probe_stream(probe_df, reps, members, 4, n_bands=7)
    reps.unpersist(), members.unpersist()
