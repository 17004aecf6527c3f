"""Benchmark the training-data hygiene ops at sf0.1: PII scrub,
repetition filter, bigram-LM train+score, mixture sampling and span
dedup. Writes one JSON object to build/hygiene_bench.json and
prints it.

Methodology matches bench.py: warmup pass (JIT + Python-worker spawn),
then best-of-3 FRESH-PLAN repetitions per op; throughput is docs/sec over
the sf0.1 documents table. Usage:

    python scripts/hygiene_bench.py [sf_dir] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from hexspark.session import get_spark  # noqa: E402


def best_of(fn, n=3):
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark = get_spark("hygiene-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from hexspark.ops.lm import lm_score, train_bigram_lm
    from hexspark.ops.pii import scrub_documents
    from hexspark.ops.quality import repetition_filter
    from hexspark.ops.sampling import mixture_sample

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).persist()
    n_docs = docs.count()  # also materializes the persist for fair timings

    timings = {}

    def run(name, fn, warmup=True):
        if warmup:
            fn()
        timings[name] = best_of(fn)

    run("pii_scrub", lambda: scrub_documents(docs).agg(
        F.sum("n_pii_total")).collect())
    run("repetition_filter", lambda: repetition_filter(docs).agg(
        F.sum(F.col("keep").cast("long"))).collect())

    lm = train_bigram_lm(docs)
    lm.unigrams.persist().count()
    lm.bigrams.persist().count()
    run("lm_train", lambda: train_bigram_lm(docs).bigrams.count())
    run("lm_score", lambda: lm_score(docs, lm).agg(F.avg("perplexity")).collect())

    run("mixture_sample", lambda: mixture_sample(
        docs, "lang", "doc_id", {"en": 0.5, "de": 0.25, "fr": 0.25})[0].count())

    from hexspark.ops.spandedup import span_dedup_stats

    run("span_dedup", lambda: span_dedup_stats(docs, min_len=12).agg(
        F.sum("dup_tokens")).collect())
    # adversarial envelope: an all-boilerplate corpus where EVERY window is
    # duplicated in every document — the worst case for the count table
    # (one Zipf-head key per window position) and the span merge (every
    # doc collapses to one full-length span)
    boiler = docs.select("doc_id", F.lit(
        " ".join(f"tok{i % 37}" for i in range(120))).alias("text"))
    boiler = boiler.persist()
    boiler.count()
    run("span_dedup_boilerplate", lambda: span_dedup_stats(
        boiler, min_len=12).agg(F.sum("dup_tokens")).collect())
    boiler.unpersist()

    out = {
        "metric": "hygiene_suite_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf_dir": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "timings_sec": {k: round(v, 3) for k, v in timings.items()},
        "docs_per_sec": {
            k: round(n_docs / v, 1) for k, v in timings.items() if v > 0
        },
    }
    spark.stop()
    os.makedirs("build", exist_ok=True)
    with open("build/hygiene_bench.json", "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
