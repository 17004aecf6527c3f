"""Deterministic sampling operators: content-stability, distribution
sanity and incremental-append stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hexspark.ops.sampling import split_assign, stratified_sample_n


@pytest.fixture(scope="module")
def people(spark):
    rows = [(i, f"user_{i}", i % 7) for i in range(5000)]
    return spark.createDataFrame(rows, "id long, name string, grp int")


def test_split_assign_exhaustive_disjoint(spark, people):
    out = split_assign(people, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5000  # every row exactly one split
    assert 0.75 * 5000 < counts["train"] < 0.85 * 5000
    assert 0.06 * 5000 < counts["val"] < 0.14 * 5000
    assert 0.06 * 5000 < counts["test"] < 0.14 * 5000


def test_split_assign_validates(spark, people):
    with pytest.raises(ValueError):
        split_assign(people, "id", {})
    with pytest.raises(ValueError):
        split_assign(people, "id", {"a": -1.0, "b": 2.0})
    with pytest.raises(ValueError):
        split_assign(people, "id", {"a": 0.0})


def test_stratified_sample_exact_n(spark, people):
    out = stratified_sample_n(people, strata="grp", key="id", n_per_stratum=25)
    counts = [r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()]
    assert counts == [25] * 7
    # deterministic under reruns and repartitioning
    a = {r["id"] for r in out.collect()}
    b = {
        r["id"]
        for r in stratified_sample_n(
            people.repartition(13), strata="grp", key="id", n_per_stratum=25
        ).collect()
    }
    assert a == b


def test_stratified_sample_small_groups_kept_whole(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(5)], "id long, grp int")
    out = stratified_sample_n(df, strata="grp", key="id", n_per_stratum=10)
    assert out.count() == 5


def test_stratified_sample_reservoir_property(spark, people):
    """Appending rows only displaces the current max-hash members — the
    surviving sample of the old rows is a prefix of the old sample in hash
    order (reservoir semantics without RNG state)."""
    old = people.where(F.col("id") < 4000)
    s_old = {r["id"] for r in stratified_sample_n(old, "grp", "id", 25).collect()}
    s_all = {r["id"] for r in stratified_sample_n(people, "grp", "id", 25).collect()}
    # every old row still sampled after the append was sampled before
    assert {i for i in s_all if i < 4000} <= s_old
