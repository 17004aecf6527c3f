"""CorpusRunner end-to-end: each gate drops exactly its planted victim,
PII never survives stage 1, resume skips completed stages, config drift
refused, mixture plan recorded in the manifest."""

from __future__ import annotations

import json
import os

import pytest

from hexspark.pipeline.corpus import CorpusConfig, CorpusResult, CorpusRunner

_DDL = "doc_id long, text string, lang string"

_CLEAN = (
    "a perfectly ordinary document about orbital mechanics that keeps "
    "introducing varied vocabulary so no phrase dominates the prose at all"
)


def _docs():
    rows = [
        (1, _CLEAN, "en"),
        (2, "contact bob@example.com regarding quarterly harvest logistics "
            "schedules and the revised shipping manifest for the northern "
            "warehouse consignments arriving before the festival", "en"),  # PII, else fine
        (3, "spam spam spam spam spam spam spam spam spam spam", "en"),  # repetition victim
        (4, _CLEAN, "en"),  # exact dup of 1 → loser (id 1 canonical)
        (5, _CLEAN.replace("ordinary", "ordinaryx"), "en"),  # near-dup of 1 → loser
        (6, "another unique essay on tide pools with steadily fresh wording "
            "throughout every single line of it and no repeats anywhere", "de"),
        (7, "yet another distinct piece concerning alpine weather patterns "
            "written with deliberately diverse word choices end to end", "de"),
    ]
    return rows


@pytest.fixture()
def runner(spark, tmp_path):
    def make(cfg=None, sub="wd"):
        return CorpusRunner(spark, str(tmp_path / sub), cfg or CorpusConfig())
    return make


def test_end_to_end_gates(spark, runner):
    docs = spark.createDataFrame(_docs(), _DDL)
    r = runner().run(docs)
    assert isinstance(r, CorpusResult)
    # stage 1: everything survives, PII is gone from every text
    assert r.stage_rows["scrubbed"] == 7
    scrubbed = {row["doc_id"]: row["text"] for row in r.tables["scrubbed"].collect()}
    assert "[EMAIL]" in scrubbed[2] and "bob@example.com" not in scrubbed[2]
    # stage 2: repetition victim dropped
    assert r.stage_rows["quality"] == 6
    # stage 3: exact dup (4) and near-dup (5) dropped, canonical 1 kept
    kept = {row["doc_id"] for row in r.tables["deduped"].collect()}
    assert kept == {1, 2, 3, 5, 6, 7} - {3, 5} | {1, 2, 6, 7} - {4}
    assert kept == {1, 2, 6, 7}
    # stage 4: passthrough when no mixture weights
    assert r.stage_rows["corpus"] == 4
    # lang passthrough column survives the whole pipeline
    assert dict(r.tables["corpus"].select("doc_id", "lang").collect()) == {
        1: "en", 2: "en", 6: "de", 7: "de"
    }


def test_perplexity_gate_drops_gibberish(spark, runner):
    # long enough to clear the short-doc top-bigram bound, but every token
    # is OOV soup → the corpus-trained LM prices it at unk-mass perplexity
    gib = (90, "zxqv qqj wvx kkp zzr mmt qpx vvk jjq xxz bnm plk ssw ttq "
               "uup vvy wwz xxa yyb zzc aad bbe ccf ddg eeh ffi ggj hhk "
               "iil jjm kkn llo mmp nnq oor ppt qqu rrv", "en")
    docs = spark.createDataFrame(_docs() + [gib], _DDL)
    base = runner(sub="wd_nolm").run(docs)
    assert 90 in {r["doc_id"] for r in base.tables["quality"].collect()}
    cfg = CorpusConfig(max_perplexity=60.0)
    gated = runner(cfg, sub="wd_lm").run(docs)
    q = {r["doc_id"] for r in gated.tables["quality"].collect()}
    assert 90 not in q  # OOV-soup doc scores far above the corpus head
    # the corpus head (the thrice-repeated _CLEAN text, fully in-vocab at
    # min_count=2) survives; singleton-vocabulary docs legitimately price
    # high on a 7-doc corpus — CCNet-style gates presume corpus-scale LMs
    assert {1, 4, 5} <= q


def test_kn_trigram_gate_drops_gibberish(spark, runner):
    """lm_order=3 swaps the gate's model for the interpolated-KN trigram
    (ops/kn.py) — same contract, same OOV-soup victim, and an invalid
    order is refused up front."""
    gib = (91, "zxqv qqj wvx kkp zzr mmt qpx vvk jjq xxz bnm plk ssw ttq "
               "uup vvy wwz xxa yyb zzc aad bbe ccf ddg eeh ffi ggj hhk "
               "iil jjm kkn llo mmp nnq oor ppt qqu rrv", "en")
    docs = spark.createDataFrame(_docs() + [gib], _DDL)
    cfg = CorpusConfig(max_perplexity=60.0, lm_order=3)
    gated = runner(cfg, sub="wd_kn").run(docs)
    q = {r["doc_id"] for r in gated.tables["quality"].collect()}
    assert 91 not in q
    assert {1, 4, 5} <= q
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lm_order"):
        CorpusRunner(spark, "/tmp/never", CorpusConfig(lm_order=4))


def test_kn_quality_stage_releases_the_trigram_cache(spark, runner, monkeypatch):
    """train_kn_lm caches its trigram table for the count tables built on
    it; the corpus runner releases it once the quality stage is written."""
    from hexspark.ops import kn

    trained = []
    train = kn.train_kn_lm

    def keep(*args, **kwargs):
        trained.append(train(*args, **kwargs))
        return trained[-1]

    monkeypatch.setattr(kn, "train_kn_lm", keep)
    docs = spark.createDataFrame(_docs(), _DDL)
    cfg = CorpusConfig(max_perplexity=60.0, lm_order=3)
    runner(cfg, sub="wd_kn_release").run(docs)
    assert len(trained) == 1
    assert trained[0].trigrams.is_cached is False


def test_resume_skips_completed_stages(spark, runner, tmp_path):
    docs = spark.createDataFrame(_docs(), _DDL)
    rn = runner(sub="wd_resume")
    r1 = rn.run(docs)
    m1 = json.load(open(os.path.join(str(tmp_path / "wd_resume"), "corpus_manifest.json")))
    r2 = CorpusRunner(rn.spark, str(tmp_path / "wd_resume"), CorpusConfig()).run(docs)
    m2 = json.load(open(os.path.join(str(tmp_path / "wd_resume"), "corpus_manifest.json")))
    assert r2.run_id == r1.run_id
    assert m2["completed"] == m1["completed"]  # wall_ms untouched → stages not rebuilt
    assert r2.stage_rows == r1.stage_rows


def test_config_drift_refused(spark, runner, tmp_path):
    docs = spark.createDataFrame(_docs(), _DDL)
    runner(sub="wd_drift").run(docs)
    with pytest.raises(ValueError, match="different CorpusConfig"):
        CorpusRunner(
            spark, str(tmp_path / "wd_drift"), CorpusConfig(max_perplexity=50.0)
        ).run(docs)


def test_mixture_stage_and_plan_in_manifest(spark, runner, tmp_path):
    docs = spark.createDataFrame(_docs(), _DDL)
    cfg = CorpusConfig(mixture_weights={"en": 0.5, "de": 0.5})
    r = runner(cfg, sub="wd_mix").run(docs)
    out = r.tables["corpus"]
    langs = [row["lang"] for row in out.collect()]
    assert set(langs) <= {"en", "de"}
    m = json.load(open(os.path.join(str(tmp_path / "wd_mix"), "corpus_manifest.json")))
    plan = m["completed"]["corpus"]["mixture_plan"]
    assert set(plan) == {"en", "de"} and all("rate" in p for p in plan.values())

def test_stage_metrics_lineage(spark, runner, tmp_path):
    docs = spark.createDataFrame(_docs(), _DDL)
    r = runner(sub="wd_metrics").run(docs)
    m = CorpusRunner(spark, str(tmp_path / "wd_metrics"), CorpusConfig()).io.read("stage_metrics")
    rows = m.collect()
    assert {row["stage"] for row in rows} == {"scrubbed", "quality", "deduped", "corpus"}
    assert all(row["run_id"] == r.run_id for row in rows)
    # per-partition rows sum to the stage row counts
    per_stage = {}
    for row in rows:
        per_stage[row["stage"]] = per_stage.get(row["stage"], 0) + row["rows_out"]
    assert per_stage == r.stage_rows


def test_span_gate_drops_mostly_repeated_passage_doc(spark, runner):
    passage = ("the standard disclaimer paragraph that every scraped page "
               "carries verbatim word for word in full each time it appears "
               "anywhere on the site at all")
    docs = _docs() + [
        # doc 60 carries the passage plus substantial unique prose → kept;
        # doc 61 is ~all passage with a couple of extra words → dropped
        (60, passage + " followed by a genuinely original analysis of the "
             "harbor logistics data covering many fresh observations and "
             "several novel measurements collected independently", "en"),
        (61, passage + " plus nothing", "en"),
    ]
    df = spark.createDataFrame(docs, _DDL)
    base = runner(sub="wd_nospan").run(df)
    kept_base = {r["doc_id"] for r in base.tables["deduped"].collect()}
    assert {60, 61} <= kept_base  # near-dup doesn't catch it (different sims)
    cfg = CorpusConfig(max_span_dup_frac=0.6, span_min_len=12)
    gated = runner(cfg, sub="wd_span").run(df)
    kept = {r["doc_id"] for r in gated.tables["deduped"].collect()}
    assert 60 in kept and 61 not in kept
