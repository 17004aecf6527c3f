"""Runner(extra_passes=...) — multi-pass blocking as a production mode:
the candidate stage must be a SUPERSET of the LSH-only candidate set with
per-pair pass provenance, every unordered pair exactly once, clusters stay
correct on the clean corpus, and the guards (unknown pass, the
chunk-reading modes meta_prune/fs/fs_levels, incremental) refuse."""

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


def test_guards(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="unknown extra_passes"):
        Runner(
            spark, str(tmp_path / "a"),
            PipelineConfig(extra_passes=("sufix",)),
        )
    for chunk_mode in (
        {"meta_prune": "wep"},
        {"scoring_mode": "fs"},
        {"scoring_mode": "fs_levels"},
    ):
        with pytest.raises(ValueError, match="extra_passes does not compose"):
            Runner(
                spark, str(tmp_path / "b"),
                PipelineConfig(extra_passes=("suffix",), **chunk_mode),
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
