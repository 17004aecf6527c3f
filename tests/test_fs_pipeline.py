"""End-to-end Fellegi-Sunter scoring mode (VERDICT r3 #7): the Runner's
``scoring_mode="fs"`` path — EM fit on the run's own unlabeled candidate
pairs, posterior-0.5 weight gate, model recorded in the manifest and
REUSED by incremental folds.

Fixture: the standard synthetic transcripts corpus plus planted IMPOSTOR
pairs — per-field noise by construction. Each impostor pair shares a
36-40-token vocabulary block out of 48 (disjoint remainder), landing its
SimHash distance in the 46-60 band: ABOVE every true duplicate (max ~35
at mutation_rate=0.02) but UNDER a loose max_dist=60 blend gate. The
fixed-alpha blend therefore glues the impostors; FS learns from the pair
population that a true match's bit flips stay concentrated (per-chunk
within-dist fields agree) while the impostors' flips disperse across
chunks, and rejects them at the same recall.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from hexspark import fixtures
from hexspark.pipeline import evaluate
from hexspark.pipeline.runner import PipelineConfig, Runner

CFG = dict(max_dist=60, n_bands=32)


def _corpus(spark):
    tr = fixtures.transcripts_df(spark, n_base=80, seed=11, mutation_rate=0.02)
    ts = datetime(2024, 1, 1)
    rows = []
    for i in range(6):
        ns = (36, 38, 40)[i % 3]
        shared = [f"s{i}w{j}" for j in range(ns)]
        only_x = [f"p{i}x{j}" for j in range(48 - ns)]
        only_y = [f"q{i}y{j}" for j in range(48 - ns)]
        # ids follow the generator's conv_<base>_d<k> shape with distinct
        # bases, so labeled_pairs_df marks each impostor pair a non-match
        rows.append((f"conv_9{i:07d}_d0", 0, "user", " ".join(shared + only_x), "", ts))
        rows.append((f"conv_8{i:07d}_d0", 0, "user", " ".join(shared + only_y), "", ts))
    imp = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    return tr.unionByName(imp)


@pytest.fixture(scope="module")
def fs_vs_blend(spark, tmp_path_factory):
    tr = _corpus(spark).persist()
    tr.count()
    labels = fixtures.labeled_pairs_df(spark, tr).persist()
    out = {}
    for mode in ("blend", "fs"):
        wd = str(tmp_path_factory.mktemp(f"fsmode_{mode}"))
        runner = Runner(spark, wd, PipelineConfig(**CFG, scoring_mode=mode))
        res = runner.run(tr)
        m = evaluate.pairwise_f1(
            labels,
            res.tables["clusters"],
            candidate_pairs=res.tables["candidate_pairs"].select(
                "conv_id_a", "conv_id_b"
            ),
        )
        impostor_edges = (
            res.tables["edges"]
            .where(
                F.col("conv_id_a").rlike("^conv_[89]\\d{7}_")
                | F.col("conv_id_b").rlike("^conv_[89]\\d{7}_")
            )
            .count()
        )
        out[mode] = (runner, res, m, impostor_edges)
    labels.unpersist()
    tr.unpersist()
    return out


def test_blend_is_fooled_by_planted_impostors(fs_vs_blend):
    """Sanity of the fixture itself: the loose fixed-alpha gate must admit
    >= 3 of the 6 impostor edges and lose precision — otherwise the FS
    comparison below proves nothing."""
    _, _, m, impostor_edges = fs_vs_blend["blend"]
    assert impostor_edges >= 3
    assert m["fp"] >= 3
    assert m["recall"] == 1.0  # every true dup still under the gate


def test_fs_beats_blend_on_planted_field_noise(fs_vs_blend):
    """VERDICT r3 #7 done-criterion: FS-mode F1 >= blend-mode F1 (strictly
    better here), at no recall cost, with strictly fewer impostor edges."""
    _, _, m_blend, ie_blend = fs_vs_blend["blend"]
    _, _, m_fs, ie_fs = fs_vs_blend["fs"]
    assert m_fs["f1"] >= m_blend["f1"]
    assert m_fs["f1"] > m_blend["f1"]  # the planted noise actually separates
    assert m_fs["recall"] == 1.0
    assert ie_fs < ie_blend


def test_fs_model_recorded_in_manifest(fs_vs_blend):
    import json
    import os

    runner, _, _, _ = fs_vs_blend["fs"]
    with open(os.path.join(runner.workdir, "run_manifest.json")) as f:
        manifest = json.load(f)
    model = manifest["fs_model"]
    assert set(model) == {"p", "fields", "threshold"}
    assert 0.0 < model["p"] < 1.0
    assert set(model["fields"]) == {f"agree_c{i}" for i in range(8)} | {"agree_canon"}
    for m, u in model["fields"].values():
        assert 0.0 < m < 1.0 and 0.0 < u < 1.0
    # threshold defaulted to the prior log-odds of the fitted prevalence
    import math

    assert model["threshold"] == pytest.approx(
        math.log2((1 - model["p"]) / model["p"])
    )


def test_fs_edges_schema(fs_vs_blend):
    _, res, _, _ = fs_vs_blend["fs"]
    assert res.tables["edges"].columns == [
        "conv_id_a", "conv_id_b", "hamming_dist", "fs_weight",
    ]


def test_fs_incremental_reuses_fitted_model(spark, tmp_path):
    """An incremental fold under FS mode scores with the BATCH run's model
    (no refit): the manifest model is unchanged after the fold, the new
    edges carry fs_weight, and a new near-duplicate of an existing
    conversation joins its cluster."""
    import json
    import os

    tr = fixtures.transcripts_df(spark, n_base=60, seed=3, mutation_rate=0.02)
    wd = str(tmp_path / "fs_inc")
    cfg = PipelineConfig(**CFG, scoring_mode="fs")
    Runner(spark, wd, cfg).run(tr)
    with open(os.path.join(wd, "run_manifest.json")) as f:
        model_before = json.load(f)["fs_model"]

    # new batch: a copy of an existing conversation's turns under a fresh
    # conv_id (same base id -> a true duplicate of that conversation)
    donor = tr.select("conv_id").distinct().orderBy("conv_id").limit(1).collect()[0][0]
    base = donor.rsplit("_d", 1)[0]
    newtr = tr.where(F.col("conv_id") == donor).withColumn(
        "conv_id", F.lit(f"{base}_d9")
    )
    r2 = Runner(spark, wd, cfg)
    res = r2.run_incremental(newtr)

    with open(os.path.join(wd, "run_manifest.json")) as f:
        model_after = json.load(f)["fs_model"]
    assert model_after == model_before  # reused, not refitted

    new_edges = res.tables["edges"].where(
        (F.col("conv_id_a") == f"{base}_d9") | (F.col("conv_id_b") == f"{base}_d9")
    )
    assert new_edges.count() >= 1
    assert "fs_weight" in new_edges.columns
    cl = {r["conv_id"]: r["cluster_id"] for r in res.tables["clusters"].collect()}
    assert cl[f"{base}_d9"] == cl[donor]


def test_fs_incremental_requires_fitted_model(spark, tmp_path):
    """Folding FS-mode increments into a workdir whose manifest has no
    fitted model must be refused (the drift guard fires first on a
    blend-mode prior run; this guards the residual path)."""
    tr = fixtures.transcripts_df(spark, n_base=30, seed=5, mutation_rate=0.02)
    wd = str(tmp_path / "fs_nomodel")
    cfg = PipelineConfig(**CFG, scoring_mode="fs")
    runner = Runner(spark, wd, cfg)
    runner.run(tr)
    # simulate a manifest that lost its model (hand-edited / legacy run)
    import json
    import os

    mpath = os.path.join(wd, "run_manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    del manifest["fs_model"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    newtr = tr.limit(0)
    with pytest.raises(ValueError, match="fitted model"):
        Runner(spark, wd, cfg).run_incremental(newtr)


def test_fs_composes_with_robust_mode(spark, tmp_path):
    """The two production modes are orthogonal config axes: FS-scored
    edges feed the triangle corroboration, both stage sets land, and the
    clusters cover the corpus."""
    tr = fixtures.transcripts_df(spark, n_base=40, seed=9, mutation_rate=0.02)
    wd = str(tmp_path / "fs_robust")
    res = Runner(
        spark, wd, PipelineConfig(**CFG, scoring_mode="fs", robust=True)
    ).run(tr)
    assert res.stages_run == [
        "conversations", "signatures", "candidate_pairs", "edges",
        "triangles", "bridge_edges", "clusters",
    ]
    assert res.tables["edges"].columns == [
        "conv_id_a", "conv_id_b", "hamming_dist", "fs_weight",
    ]
    n_convs = tr.select("conv_id").distinct().count()
    assert res.tables["clusters"].count() == n_convs


# ---------------------------------------------------------------------------
# Term-frequency-adjusted FS mode (canon_tf stage)
# ---------------------------------------------------------------------------


def _wide_pair(spark, canon_a, canon_b, chunk_dist_bits=0):
    """One handcrafted wide pair: identical signature chunks (so every
    chunk field agrees) with the given canon keys."""
    row = {"conv_id_a": "a", "conv_id_b": "b", "canon_a": canon_a, "canon_b": canon_b}
    for i in range(8):
        row[f"c{i}_a"] = 7 + i
        row[f"c{i}_b"] = (7 + i) ^ ((1 << chunk_dist_bits) - 1)
    fields = ["conv_id_a string", "conv_id_b string", "canon_a string", "canon_b string"]
    fields += [f"c{i}_{s} long" for i in range(8) for s in ("a", "b")]
    return spark.createDataFrame([row], ", ".join(fields))


def test_score_wide_fs_tf_demotes_common_prefix_promotes_rare(spark):
    """The TF-adjusted canon field scores agreement on a corpus-common
    prefix BELOW the field-average weight and agreement on a rare prefix
    ABOVE it; disagreeing pairs are untouched."""
    from hexspark.pipeline import fs

    common, rare = "the common preamble", "rare unique opening"
    # 8 signatures: 6 share the common prefix, 1 rare, 1 other
    sigs = spark.createDataFrame(
        [(f"s{i}", common + f" tail {i}") for i in range(6)]
        + [("s6", rare + " more"), ("s7", "somebody else entirely")],
        "conv_id string, canon string",
    )
    tfs = fs.canon_term_frequencies(sigs, canon_prefix_len=16)
    params = {f"agree_c{i}": fs.FieldParams(0.9, 0.1) for i in range(8)}
    params["agree_canon"] = fs.FieldParams(0.9, 0.3)  # u between rare (1/8) and common (6/8) tf

    def weight(canon_a, canon_b, canon_tf):
        out = fs.score_wide_fs(
            _wide_pair(spark, canon_a, canon_b),
            params,
            threshold=-1e9,
            canon_prefix_len=16,
            canon_tf=canon_tf,
        )
        return out.collect()[0]["fs_weight"]

    w_common_plain = weight(common + " x", common + " y", None)
    w_common_tf = weight(common + " x", common + " y", tfs)
    w_rare_plain = weight(rare + " x", rare + " y", None)
    w_rare_tf = weight(rare + " x", rare + " y", tfs)
    # plain FS can't tell the two prefixes apart; TF can
    assert w_common_plain == pytest.approx(w_rare_plain)
    assert w_common_tf < w_common_plain        # 6/8 common: demoted
    assert w_rare_tf > w_rare_plain            # 1/8 rare: promoted
    import math
    # exact values: canon term is log2(m / tf)
    base = w_common_plain - math.log2(0.9 / 0.3)
    assert w_common_tf == pytest.approx(base + math.log2(0.9 / (6 / 8)))
    assert w_rare_tf == pytest.approx(base + math.log2(0.9 / (1 / 8)))
    # disagreement identical with and without the table
    w_dis_plain = weight("alpha one two", "beta three four", None)
    w_dis_tf = weight("alpha one two", "beta three four", tfs)
    assert w_dis_tf == pytest.approx(w_dis_plain)


def test_fs_tf_mode_materializes_stage_and_keeps_recall(spark, tmp_path):
    """Runner(fs_tf_adjust=True): the canon_tf stage table lands (resumable
    like any stage), edges keep the FS schema, and clustering quality on
    the standard corpus does not regress."""
    tr = fixtures.transcripts_df(spark, n_base=60, seed=7, mutation_rate=0.02)
    labels = fixtures.labeled_pairs_df(spark, tr)
    wd = str(tmp_path / "fs_tf")
    cfg = PipelineConfig(**CFG, scoring_mode="fs", fs_tf_adjust=True)
    res = Runner(spark, wd, cfg).run(tr)
    assert "canon_tf" in res.stages_run
    tf = res.tables["canon_tf"]
    assert set(tf.columns) == {"value", "tf_cnt", "tf_n", "tf"}
    # frequencies are a probability mass over distinct prefixes
    import math
    s = tf.agg(F.sum("tf")).collect()[0][0]
    assert s == pytest.approx(1.0)
    m = evaluate.pairwise_f1(
        labels,
        res.tables["clusters"],
        candidate_pairs=res.tables["candidate_pairs"].select("conv_id_a", "conv_id_b"),
    )
    assert m["recall"] == 1.0
    assert m["f1"] >= 0.99
    # resume: a rerun skips every stage including canon_tf
    res2 = Runner(spark, wd, cfg).run(tr)
    assert res2.stages_run == []
    assert "canon_tf" in res2.stages_skipped


def test_fs_tf_incremental_reuses_corpus_frequencies(spark, tmp_path):
    """The fold scores under the batch run's canon_tf table (no batch-local
    recount) and refuses to run if the stage is missing."""
    import os
    import shutil

    tr = fixtures.transcripts_df(spark, n_base=40, seed=13, mutation_rate=0.02)
    wd = str(tmp_path / "fs_tf_inc")
    cfg = PipelineConfig(**CFG, scoring_mode="fs", fs_tf_adjust=True)
    Runner(spark, wd, cfg).run(tr)
    before = sorted(
        (r["value"], r["tf_cnt"]) for r in
        Runner(spark, wd, cfg).io.read("canon_tf").collect()
    )

    donor = tr.select("conv_id").distinct().orderBy("conv_id").limit(1).collect()[0][0]
    base = donor.rsplit("_d", 1)[0]
    newtr = tr.where(F.col("conv_id") == donor).withColumn(
        "conv_id", F.lit(f"{base}_d9")
    )
    r2 = Runner(spark, wd, cfg)
    res = r2.run_incremental(newtr)
    after = sorted(
        (r["value"], r["tf_cnt"]) for r in r2.io.read("canon_tf").collect()
    )
    assert after == before  # corpus table untouched by the fold
    cl = {r["conv_id"]: r["cluster_id"] for r in res.tables["clusters"].collect()}
    assert cl[f"{base}_d9"] == cl[donor]

    # missing canon_tf stage → refuse
    wd2 = str(tmp_path / "fs_tf_inc2")
    Runner(spark, wd2, cfg).run(tr.where(F.col("conv_id") != donor))
    shutil.rmtree(os.path.join(wd2, "canon_tf"))
    with pytest.raises(ValueError, match="canon_tf"):
        Runner(spark, wd2, cfg).run_incremental(newtr)


def test_fs_tf_adjust_requires_fs_mode(spark, tmp_path):
    with pytest.raises(ValueError, match="fs_tf_adjust"):
        Runner(
            spark,
            str(tmp_path / "tf_blend"),
            PipelineConfig(**CFG, scoring_mode="blend", fs_tf_adjust=True),
        )


def test_fs_tf_adjust_is_config_drift(spark, tmp_path):
    """Turning the adjustment on over a plain-FS workdir must trip the
    drift guard — the edges were gated under different weights."""
    tr = fixtures.transcripts_df(spark, n_base=20, seed=2, mutation_rate=0.02)
    wd = str(tmp_path / "tf_drift")
    Runner(spark, wd, PipelineConfig(**CFG, scoring_mode="fs")).run(tr)
    with pytest.raises(ValueError, match="different pipeline config"):
        Runner(
            spark, wd, PipelineConfig(**CFG, scoring_mode="fs", fs_tf_adjust=True)
        ).run(tr)
