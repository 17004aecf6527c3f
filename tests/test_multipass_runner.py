"""Runner(extra_passes=...) — multi-pass blocking as a production mode:
the candidate stage must be a SUPERSET of the LSH-only candidate set with
per-pair pass provenance, every unordered pair exactly once, clusters stay
correct on the clean corpus, the union is scored as wide pairs under every
chunk-reading mode (fs, fs_levels, meta_prune), and the guards (unknown
pass, incremental) refuse."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from hexspark import fixtures
from hexspark.pipeline.runner import PipelineConfig, Runner


@pytest.fixture(scope="module")
def corpus(spark):
    return fixtures.transcripts_df(spark, n_base=120, seed=13, mutation_rate=0.01)


def test_union_is_superset_with_provenance_exactly_once(spark, corpus, tmp_path):
    base = Runner(
        spark, str(tmp_path / "lsh"), PipelineConfig(max_dist=40)
    ).run(corpus)
    multi = Runner(
        spark,
        str(tmp_path / "multi"),
        PipelineConfig(max_dist=40, extra_passes=("suffix", "snm")),
    ).run(corpus)
    lsh_pairs = {
        (r.conv_id_a, r.conv_id_b)
        for r in base.tables["candidate_pairs"].collect()
    }
    rows = multi.tables["candidate_pairs"].collect()
    union_pairs = [(r.conv_id_a, r.conv_id_b) for r in rows]
    # exactly once per unordered pair, id-ordered
    assert len(union_pairs) == len(set(union_pairs))
    assert all(a < b for a, b in union_pairs)
    assert set(union_pairs) >= lsh_pairs
    # provenance present; at least one pair came from an extra pass only
    tags = {tuple(r.passes) for r in rows}
    assert any("lsh" not in t for t in tags), tags
    assert all(r.n_passes == len(r.passes) for r in rows)


def test_multipass_clusters_stay_correct(spark, corpus, tmp_path):
    from hexspark.pipeline import evaluate

    res = Runner(
        spark,
        str(tmp_path / "mp"),
        PipelineConfig(max_dist=40, extra_passes=("suffix", "adaptive_snm")),
    ).run(corpus)
    labels = fixtures.labeled_pairs_df(spark, corpus)
    m = evaluate.pairwise_f1(labels, res.tables["clusters"])
    assert m["f1"] == 1.0, m


@pytest.mark.parametrize(
    "mode",
    [{"scoring_mode": "fs"}, {"scoring_mode": "fs_levels"}, {"meta_prune": "wep"}],
    ids=["fs", "fs_levels", "meta_prune_wep"],
)
def test_extra_passes_compose_with_chunk_reading_modes(spark, corpus, tmp_path, mode):
    """The extra-pass union carries both sides' signature chunks and canon
    keys, so the FS fields and the CBS weight read it like the LSH pairs:
    every edge is a candidate pair and the clusters stay exact. (On this
    corpus the suffix pass alone adds no pair the LSH bands miss; snm
    does, so extra-pass-only pairs are scored and pruned too.)"""
    from hexspark.pipeline import evaluate

    res = Runner(
        spark,
        str(tmp_path / "mode"),
        PipelineConfig(max_dist=40, extra_passes=("suffix", "snm"), **mode),
    ).run(corpus)
    pairs = res.tables["candidate_pairs"]
    assert pairs.where(~F.array_contains("passes", "lsh")).count() > 0
    key = ["conv_id_a", "conv_id_b"]
    edges = res.tables["edges"].select(*key)
    assert edges.exceptAll(pairs.select(*key)).count() == 0
    labels = fixtures.labeled_pairs_df(spark, corpus)
    m = evaluate.pairwise_f1(labels, res.tables["clusters"])
    assert m["f1"] == 1.0, m


def test_guards(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="unknown extra_passes"):
        Runner(
            spark, str(tmp_path / "a"),
            PipelineConfig(extra_passes=("sufix",)),
        )
    wd = str(tmp_path / "inc")
    runner = Runner(
        spark, wd, PipelineConfig(max_dist=40, extra_passes=("phonetic",))
    )
    runner.run(corpus)
    batch = spark.createDataFrame(
        [("zz1", 1, "user", "zeta " * 30, "", datetime(2024, 1, 2))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    with pytest.raises(ValueError, match="banded blocking only"):
        runner.run_incremental(batch)
