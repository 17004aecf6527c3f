"""Adversarial skew benchmark (VERDICT r2 #6): prove the oversize-block
salt-chain path costs O(size), not O(size^2), at realistic scale.

Input: `bg` random 256-bit signatures (unique blocks, the normal branch)
plus ONE planted mega-block of `M` members sharing the SAME signature and
canon — a boilerplate near-dup cluster that agrees on every LSH band, the
worst case for banding (all-pairs there would be M^2/2 pairs). M doubles
across runs while bg stays fixed; if the chain branch is O(size), emitted
pair counts and end-to-end walls grow ~linearly in M; the all-pairs
counterfactual grows 4x per doubling.

End-to-end = candidate_pairs_wide -> score_wide (hamming gate + Arrow JW)
-> connected_components; also asserts the mega-cluster is recovered as ONE
component of exactly M members (skew handled cheaply AND correctly).

Run: python scripts/skew_bench.py [--out build/skew_bench.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F


def synth_sigs(spark, n_bg: int, n_mega: int, parts: int = 32):
    """bg rows: unique-ish random sig per conv (xxhash64-derived hex).
    mega rows: identical sig + canon. Pure codegen generation."""
    bg = spark.range(0, n_bg, 1, parts).select(
        F.concat(F.lit("b"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("conv_id"),
        F.concat(
            *[F.lpad(F.hex(F.xxhash64("id", F.lit(k))), 16, "0") for k in range(4)]
        ).alias("sig_hex"),
        F.concat(F.lit("bg canon "), F.hex(F.xxhash64("id", F.lit(99)))).alias("canon"),
    )
    mega_sig = "a5" * 32
    mega = spark.range(0, n_mega, 1, parts).select(
        F.concat(F.lit("m"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("conv_id"),
        F.lit(mega_sig).alias("sig_hex"),
        F.lit("identical boilerplate canonical key text").alias("canon"),
    )
    return bg.unionByName(mega)


def run_once(spark, n_bg: int, n_mega: int, max_block: int) -> dict:
    from hexspark.pipeline import blocking, clustering, scoring

    sigs = synth_sigs(spark, n_bg, n_mega).persist()
    sigs.count()  # materialize input outside the timer
    t0 = time.monotonic()
    pairs, stats = blocking.candidate_pairs_wide(sigs, max_block=max_block)
    pairs = pairs.persist()
    n_pairs = pairs.count()
    t_block = time.monotonic() - t0

    t1 = time.monotonic()
    edges = scoring.score_wide(pairs, max_dist=40).select("conv_id_a", "conv_id_b")
    cc, rounds = clustering.connected_components(edges)
    mega_rows = cc.where(F.col("conv_id").startswith("m"))
    agg = mega_rows.agg(
        F.countDistinct("cluster_id").alias("k"), F.count("*").alias("n")
    ).collect()[0]
    t_cluster = time.monotonic() - t1

    n_skipped = len(stats)
    pairs.unpersist()
    sigs.unpersist()
    assert agg["k"] == 1, f"mega-cluster split into {agg['k']} components"
    assert agg["n"] == n_mega, f"mega-cluster lost members: {agg['n']}/{n_mega}"
    return {
        "n_bg": n_bg,
        "n_mega": n_mega,
        "max_block": max_block,
        "n_pairs": int(n_pairs),
        "allpairs_counterfactual": n_mega * (n_mega - 1) // 2 * 16,
        "oversize_blocks": int(n_skipped),
        "cc_rounds": rounds,
        "blocking_scoring_wall_sec": round(t_block, 3),
        "cluster_wall_sec": round(t_cluster, 3),
        "total_wall_sec": round(t_block + t_cluster, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="build/skew_bench.json")
    ap.add_argument("--bg", type=int, default=50_000)
    ap.add_argument("--megas", type=int, nargs="+", default=[10_000, 20_000, 40_000])
    ap.add_argument("--max-block", type=int, default=2_000)
    args = ap.parse_args()

    from hexspark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("hexspark-skew-bench", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warmup (JIT + worker spawn; same steady-state methodology as
    # the scaling harness)
    run_once(spark, 5_000, 4_000, args.max_block)

    runs = [run_once(spark, args.bg, m, args.max_block) for m in args.megas]
    # growth factors between consecutive doublings (O(size) => ~2x, the
    # all-pairs counterfactual => 4x)
    growth = [
        {
            "mega_ratio": round(b["n_mega"] / a["n_mega"], 2),
            "pairs_ratio": round(b["n_pairs"] / a["n_pairs"], 2),
            "wall_ratio": round(b["total_wall_sec"] / a["total_wall_sec"], 2),
        }
        for a, b in zip(runs, runs[1:])
    ]
    out = {"runs": runs, "growth": growth, "cpus": cpus}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
