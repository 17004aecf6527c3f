"""Two-stage cluster probe (pipeline/probe.reps_with_radius /
probe_clusters): the triangle-inequality screen must be EXACT — equal to a
brute-force scan of every signature — for ANY clustering, good or bad,
while actually pruning when clusters are separated.
"""

from __future__ import annotations

import numpy as np
import pytest

from hexspark.pipeline.probe import probe_clusters, reps_with_radius


def _hd(x: bytes, y: bytes) -> int:
    return bin(int.from_bytes(x, "big") ^ int.from_bytes(y, "big")).count("1")


def _mk(spark, sigs: dict[str, bytes], clusters: dict[str, str]):
    sig_df = spark.createDataFrame(
        [(k, v.hex()) for k, v in sigs.items()], "conv_id string, sig_hex string"
    )
    cl_df = spark.createDataFrame(
        list(clusters.items()), "conv_id string, cluster_id string"
    )
    return sig_df, cl_df


def _planted(rng, n_clusters=6, members=4, flip=6):
    """Well-separated clusters: random centers, members = center with
    `flip` random bit flips."""
    sigs, clusters = {}, {}
    for c in range(n_clusters):
        center = rng.integers(0, 256, 32, dtype=np.uint8)
        for m in range(members):
            v = center.copy()
            for _ in range(flip):
                i = int(rng.integers(0, 256))
                v[i // 8] ^= 1 << (7 - i % 8)
            cid = f"cl{c}"
            sigs[f"{cid}_m{m}"] = v.tobytes()
            clusters[f"{cid}_m{m}"] = cid
    return sigs, clusters


def test_radius_is_max_member_distance(spark):
    rng = np.random.default_rng(3)
    sigs, clusters = _planted(rng)
    sig_df, cl_df = _mk(spark, sigs, clusters)
    reps = reps_with_radius(cl_df, sig_df)
    rows = {r["cluster_id"]: r for r in reps.collect()}
    for cid, r in rows.items():
        rep = bytes.fromhex(r["sig_hex"])
        want = max(_hd(rep, sigs[k]) for k, c in clusters.items() if c == cid)
        assert r["radius"] == want, cid


@pytest.mark.parametrize("max_dist", [0, 10, 40, 256])
def test_two_stage_probe_equals_brute_force(spark, max_dist):
    rng = np.random.default_rng(0xAB)
    sigs, clusters = _planted(rng)
    # adversarial clustering: also mix two unrelated records into one
    # cluster (huge radius) — exactness must not depend on cluster quality
    sigs["junk1"] = rng.integers(0, 256, 32, dtype=np.uint8).tobytes()
    sigs["junk2"] = rng.integers(0, 256, 32, dtype=np.uint8).tobytes()
    clusters["junk1"] = clusters["junk2"] = "junkcl"
    sig_df, cl_df = _mk(spark, sigs, clusters)
    reps = reps_with_radius(cl_df, sig_df).persist()

    probe = sigs["cl0_m0"]
    got = {
        (r["conv_id"], r["dist"])
        for r in probe_clusters(reps, cl_df, sig_df, probe.hex(), max_dist).collect()
    }
    want = {
        (k, _hd(v, probe)) for k, v in sigs.items() if _hd(v, probe) <= max_dist
    }
    assert got == want
    reps.unpersist()


def test_screen_actually_prunes(spark):
    """With separated clusters and a tight max_dist, the rep screen must
    eliminate most clusters (the whole point of the two-stage shape)."""
    rng = np.random.default_rng(11)
    sigs, clusters = _planted(rng, n_clusters=10, members=4, flip=4)
    sig_df, cl_df = _mk(spark, sigs, clusters)
    reps = reps_with_radius(cl_df, sig_df)
    probe = sigs["cl0_m0"]
    surviving = sum(
        _hd(bytes.fromhex(r["sig_hex"]), probe) <= 16 + r["radius"]
        for r in reps.collect()
    )
    assert surviving <= 3  # 10 random 256-bit centers sit ~128 bits apart


def test_probe_validates_hex_width(spark):
    rng = np.random.default_rng(1)
    sigs, clusters = _planted(rng, n_clusters=2, members=2)
    sig_df, cl_df = _mk(spark, sigs, clusters)
    reps = reps_with_radius(cl_df, sig_df)
    with pytest.raises(ValueError, match="64 hex chars"):
        probe_clusters(reps, cl_df, sig_df, "abcd", 10)


def test_probe_plan_is_codegen_only(spark):
    rng = np.random.default_rng(2)
    sigs, clusters = _planted(rng, n_clusters=2, members=2)
    sig_df, cl_df = _mk(spark, sigs, clusters)
    reps = reps_with_radius(cl_df, sig_df)
    plan = (
        probe_clusters(reps, cl_df, sig_df, sigs["cl0_m0"].hex(), 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonMapInArrow", "MapInPandas"):
        assert marker not in plan, marker
