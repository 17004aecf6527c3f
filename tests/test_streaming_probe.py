"""Streaming probe service (streaming/probe.py): the one-pass mapInArrow
plan over a broadcast snapshot index must answer each probe EXACTLY like
the batch two-stage probe (pipeline/probe.probe_clusters) on tight
clusters, stay between probe_clusters and the pigeonhole guarantee on
loose ones, emit each match once, fold new probe files incrementally
across drains, run one Spark job per request on a known snapshot, and
keep the query stateless (no join, no state store).
"""

from __future__ import annotations

import gc

import numpy as np
import pytest

from hexspark import kernels
from hexspark.pipeline.probe import probe_clusters, reps_with_radius
from hexspark.streaming import probe as probe_mod
from hexspark.streaming.probe import PROBE_DDL, probe_file_stream, probe_stream


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


def _matches(df):
    return {(r["probe_id"], r["conv_id"], r["cluster_id"], r["dist"]) for r in df.collect()}


def _want(reps, cl_df, sig_df, probes, max_dist):
    """probe_clusters' exact answer for each (probe_id, sig_hex)."""
    return {
        (pid, r["conv_id"], r["cluster_id"], r["dist"])
        for pid, phex in probes
        for r in probe_clusters(reps, cl_df, sig_df, phex, max_dist).collect()
    }


@pytest.mark.parametrize("n_bands", [16, 64])
def test_probe_stream_batch_plan_equals_two_stage_probe(spark, n_bands):
    """Same function on a BATCH probes frame: output set identical to
    probe_clusters for every probe (tight clusters: radius + max_dist < 16
    bands, so the band screen is lossless by pigeonhole). n_bands=64 bands
    on single hex chars."""
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
    the band screen must still emit each member once."""
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


def test_probe_stream_plan_is_stateless_one_pass(spark, tmp_path):
    """Each micro-batch is one Arrow pass over the probe rows: the executed
    streaming plan holds exactly one MapInArrow, no join and no state
    store (no aggregation/dedup state)."""
    rng = np.random.default_rng(2)
    sigs, clusters = _planted(rng, n_clusters=2, members=2)
    _, _, reps, members = _corpus(spark, sigs, clusters)
    probe_dir = str(tmp_path / "probes")
    spark.createDataFrame([("p", sigs["cl0_m0"].hex())], PROBE_DDL).write.parquet(
        probe_dir
    )
    out = probe_stream(
        spark.readStream.schema(PROBE_DDL).parquet(probe_dir), reps, members, 4
    )
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("probe_plan")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert "StateStore" not in plan
    assert "Join" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert spark.table("probe_plan").where("dist = 0").count() == 1
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


def test_uppercase_probe_gets_the_same_rows(spark):
    """sig_hex decodes case-insensitively, like probe_clusters: a probe
    sent uppercase returns exactly the rows of its lowercase form."""
    rng = np.random.default_rng(21)
    sigs, clusters = _planted(rng)
    _, _, reps, members = _corpus(spark, sigs, clusters)
    # a letter in every band, so no band can agree by digits alone
    lower = next(
        h for h in (v.hex() for v in sigs.values())
        if all(any(c in "abcdef" for c in h[i : i + 4]) for i in range(0, 64, 4))
    )
    probe_df = spark.createDataFrame([("lo", lower), ("up", lower.upper())], PROBE_DDL)
    by_probe = {"lo": set(), "up": set()}
    for pid, conv, cl, d in _matches(probe_stream(probe_df, reps, members, 8)):
        by_probe[pid].add((conv, cl, d))
    assert by_probe["lo"] and by_probe["lo"] == by_probe["up"]
    reps.unpersist(), members.unpersist()


def test_malformed_probe_rows_yield_no_rows(spark):
    """A null, wrong-length or non-hex sig_hex answers nothing and never
    fails the task; the good rows around it are answered as usual."""
    rng = np.random.default_rng(21)
    sigs, clusters = _planted(rng)
    _, _, reps, members = _corpus(spark, sigs, clusters)
    good = [("g0", sigs["cl0_m0"].hex()), ("g1", sigs["cl3_m2"].hex())]
    h = good[0][1]
    bad = [
        ("null", None),
        ("short", h[:63]),
        ("long", h + "0"),
        ("non_hex", "g" + h[1:]),
        ("at_sign", "@" + h[1:]),
        ("non_ascii", "\u00e9" + h[2:]),  # 63 chars, 64 UTF-8 bytes
    ]
    mixed = spark.createDataFrame(bad[:3] + good[:1] + bad[3:] + good[1:], PROBE_DDL)
    got = _matches(probe_stream(mixed, reps, members, 8))
    want = _matches(probe_stream(spark.createDataFrame(good, PROBE_DDL), reps, members, 8))
    assert got == want
    assert {p for p, *_ in got} == {"g0", "g1"}
    reps.unpersist(), members.unpersist()


def test_second_request_on_a_snapshot_is_one_spark_job(spark):
    """The snapshot index is built on the first request only; a later
    request on the same reps/members runs exactly one Spark job."""
    rng = np.random.default_rng(21)
    sigs, clusters = _planted(rng)
    _, _, reps, members = _corpus(spark, sigs, clusters)
    first = spark.createDataFrame([("p0", sigs["cl0_m0"].hex())], PROBE_DDL)
    assert probe_stream(first, reps, members, 8).collect()
    second = spark.createDataFrame(
        [("p1", sigs["cl3_m2"].hex()), ("p2", sigs["cl5_m1"].hex())], PROBE_DDL
    )
    sc = spark.sparkContext
    group = "probe-second-request"
    sc.setJobGroup(group, "second probe request")
    try:
        rows = probe_stream(second, reps, members, 8).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    reps.unpersist(), members.unpersist()


def test_new_snapshot_is_answered_from_its_own_index(spark):
    """Each reps/members pair gets its own index, also after an earlier
    pair was garbage-collected; the index of a collected pair is released."""
    probe_sig = None
    gc.collect()
    before = set(probe_mod._SNAPSHOTS)
    for seed in (31, 32, 31):
        sigs, clusters = _planted(np.random.default_rng(seed))
        sig_df, cl_df, reps, members = _corpus(spark, sigs, clusters)
        if probe_sig is None:
            probe_sig = sigs["cl2_m1"].hex()  # a member of seed 31 only
        probes = [("p", probe_sig)]
        got = _matches(
            probe_stream(spark.createDataFrame(probes, PROBE_DDL), reps, members, 8)
        )
        want = _want(reps, cl_df, sig_df, probes, 8)
        assert got == want
        assert bool(got) == (seed == 31)
        entry = set(probe_mod._SNAPSHOTS) - before
        assert len(entry) == 1
        reps.unpersist(), members.unpersist()
        del sig_df, cl_df, reps, members
        gc.collect()
        assert not entry & set(probe_mod._SNAPSHOTS)


@pytest.mark.parametrize("n_bands", [16, 64])
def test_loose_clusters_sit_between_pigeonhole_and_exact(spark, n_bands):
    """radius + max_dist >= n_bands: the band screen may miss, so the
    result is a subset of probe_clusters' exact answer and a superset of
    the members whose representative is within n_bands - 1 bits of the
    probe (at least one band then agrees, by pigeonhole)."""
    rng = np.random.default_rng(44)
    sigs, clusters = _planted(rng, n_clusters=6, members=5, flip=24)
    sig_df, cl_df, reps, members = _corpus(spark, sigs, clusters)
    max_dist = 48
    rep_rows = reps.collect()
    assert min(r["radius"] for r in rep_rows) + max_dist >= n_bands
    # representatives moved 0, 8 or 16 bits, and members (~radius away)
    starts = [bytes.fromhex(r["sig_hex"]) for r in rep_rows]
    starts += [sigs[conv] for conv in sorted(sigs)[::4]]
    probes = []
    for k, sig in enumerate(starts):
        v = np.frombuffer(sig, dtype=np.uint8).copy()
        for i in rng.choice(256, size=8 * (k % 3), replace=False):
            v[i // 8] ^= 1 << (7 - i % 8)
        probes.append((f"p{k}", v.tobytes().hex()))
    got = _matches(
        probe_stream(spark.createDataFrame(probes, PROBE_DDL), reps, members, max_dist, n_bands)
    )
    exact = _want(reps, cl_df, sig_df, probes, max_dist)

    def bits(a, b):
        m = np.frombuffer(bytes.fromhex(a), np.uint8)[None, :]
        return int(kernels.hamming_bytes_matrix(m, np.frombuffer(bytes.fromhex(b), np.uint8)[None, :])[0])

    rep_hex = {r["cluster_id"]: r["sig_hex"] for r in rep_rows}
    probe_hex = dict(probes)
    guaranteed = {
        m for m in exact if bits(probe_hex[m[0]], rep_hex[m[2]]) <= n_bands - 1
    }
    assert guaranteed and guaranteed <= got <= exact
    reps.unpersist(), members.unpersist()


def test_stream_outlives_the_callers_snapshot_frames(spark, tmp_path):
    """A stream keeps answering after the caller drops the reps/members
    DataFrames it was built on: releasing their index must not destroy the
    broadcast the query still uses."""
    rng = np.random.default_rng(9)
    sigs, clusters = _planted(rng)
    sig_df, cl_df, reps, members = _corpus(spark, sigs, clusters)
    probes = [("p0", sigs["cl0_m1"].hex())]
    want = _want(reps, cl_df, sig_df, probes, 8)
    probe_dir = str(tmp_path / "probes")
    spark.createDataFrame(probes, PROBE_DDL).write.parquet(probe_dir)
    gc.collect()
    before = set(probe_mod._SNAPSHOTS)
    stream = spark.readStream.schema(PROBE_DDL).parquet(probe_dir)
    matches = probe_stream(stream, reps.select("*"), members.select("*"), 8)
    gc.collect()
    assert set(probe_mod._SNAPSHOTS) <= before  # the index was released
    q = (
        matches.writeStream.format("memory")
        .queryName("probe_outlives")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _matches(spark.table("probe_outlives")) == want
    reps.unpersist(), members.unpersist()
