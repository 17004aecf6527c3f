"""Randomized pure-Python parity for the phonetic comparator.

One seeded batch (a single Spark job over many random words), compared
EXACTLY against an independent pure-Python replay — the same evidence
pattern as test_pivot_clustering's sequential-KwikCluster replay. The
fixed seed keeps the suite deterministic; the generator covers the word
shapes the hand fixtures can't enumerate.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_soundex_matches_python_reference_on_random_words(spark):
    from tests.test_phonetic import _py_soundex

    rng = random.Random(5)
    words = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(1, 12)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(w,) for w in set(words)], "w string")
    got = {r["w"]: r["sx"] for r in df.select("w", F.soundex("w").alias("sx")).collect()}
    for w in set(words):
        assert got[w] == _py_soundex(w), (w, got[w], _py_soundex(w))
