"""CorpusRunner — the training-data hygiene pipeline as a staged,
resumable production job, the documents-table sibling of the ER Runner
(pipeline/runner.py): every stage materializes to a workdir table via
TableIO, completion is recorded in a manifest with per-stage row counts
and wall time, a re-run skips completed stages, and a config change on
the same workdir is REFUSED (the Runner's config-drift guard — a
half-old half-new corpus is silently wrong).

Stage order (MassiveText-style: cheap filters first, corpus-wide state
last — each stage shrinks the input of the next):

1. ``scrubbed``   — ops/pii.scrub_documents: typed PII redaction; the
                    redacted text REPLACES the text column for every
                    later stage (nothing downstream ever sees raw PII).
2. ``quality``    — ops/quality.repetition_filter gate, then optional
                    perplexity gate (ops/lm): the bigram LM is trained
                    ON THE REPETITION-PASSING DOCS themselves (CCNet
                    trains on a trusted slice; the passing set is the
                    cleanest slice available without external data) and
                    documents above ``max_perplexity`` are dropped.
3. ``deduped``    — exact dedup (md5 groups, keep min-id canonical),
                    then optional SimHash near-dup (ops/dedup banded
                    pairs -> connected components -> keep min-id per
                    component), then the optional span-level
                    exact-substring gate (ops/spandedup: drop documents
                    that are mostly a passage repeated elsewhere) — the
                    corpus-wide stages, run on the smallest possible
                    input.
4. ``corpus``     — optional mixture_sample to target domain weights
                    (water-line downsampling); otherwise a passthrough
                    rename. This is the shippable table.

Per-stage drop counts land in the manifest — at 100 TB "how many
documents did each gate remove" IS the operational dashboard; a gate
that suddenly drops 40% is the drift alarm.

Scale shape: stages 1-2 are projections/doc-keyed aggregates (no
corpus-wide state), stage 3 is the banded near-dup + CC machinery the
ER pipeline already proved at scale, stage 4 is one count + a codegen
CASE filter. Resumability means the expensive early scans never re-run
when a later-stage parameter sweep re-executes the job.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hexspark.ops.dedup import exact_dedup_groups, simhash_neardup_pairs
from hexspark.ops.lm import lm_score, train_bigram_lm
from hexspark.ops.pii import scrub_documents
from hexspark.ops.quality import repetition_filter
from hexspark.ops.sampling import mixture_sample
from hexspark.pipeline.clustering import connected_components
from hexspark.pipeline.io import TableIO, write_json_atomic
from hexspark.pipeline.metrics import read_stage, record_stage

@dataclass(frozen=True)
class CorpusConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    domain_col: str = "lang"
    repetition_thresholds: dict | None = None
    max_perplexity: float | None = None  # None → skip the LM gate
    lm_min_count: int = 2
    # 2 = add-k bigram (ops/lm.py), 3 = interpolated Kneser-Ney trigram
    # (ops/kn.py — the KenLM-family model; better-calibrated tails on
    # context-bound tokens, one more count aggregate at train time)
    lm_order: int = 2
    near_dup: bool = True
    neardup_bands: int = 16
    neardup_max_dist: int = 40
    # span-level exact-substring pass (ops/spandedup): after exact +
    # near-dup, drop documents whose cross-document duplicated-span
    # fraction exceeds the threshold (None -> skip). Flag-and-drop, not
    # surgical cutting: the canonical copy of a shared passage survives
    # in whichever document dedup kept; documents that are MOSTLY a
    # repeated passage add no new tokens and go.
    max_span_dup_frac: float | None = None
    span_min_len: int = 20
    mixture_weights: dict | None = None  # None → skip mixing
    mixture_scale: float = 1.0

    def fingerprint(self) -> dict:
        out = {}
        for k, v in self.__dict__.items():
            out[k] = dict(sorted(v.items())) if isinstance(v, dict) else v
        return out


@dataclass
class CorpusResult:
    run_id: str
    tables: dict = field(default_factory=dict)
    stage_rows: dict = field(default_factory=dict)


class CorpusRunner:
    def __init__(self, spark: SparkSession, workdir: str, cfg: CorpusConfig | None = None):
        self.spark = spark
        self.cfg = cfg or CorpusConfig()
        if self.cfg.lm_order not in (2, 3):
            raise ValueError(
                f"lm_order must be 2 (add-k bigram) or 3 (KN trigram), "
                f"got {self.cfg.lm_order}"
            )
        self.io = TableIO(spark, workdir)
        self._manifest_path = os.path.join(workdir, "corpus_manifest.json")

    # -- manifest (the Runner's drift-guard pattern) ------------------------
    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                m = json.load(f)
            if m.get("config") != self.cfg.fingerprint():
                raise ValueError(
                    "workdir was produced with a different CorpusConfig; "
                    "refusing to mix stages across configs — use a fresh "
                    "workdir or the original config"
                )
            return m
        return {
            "run_id": f"corpus-{int(time.time() * 1000):x}",
            "config": self.cfg.fingerprint(),
            "completed": {},
        }

    def _mark(self, manifest: dict, stage: str, entry: dict) -> None:
        manifest["completed"][stage] = entry
        write_json_atomic(self._manifest_path, manifest)

    def _ensure(self, manifest: dict, result: CorpusResult, stage: str, build, extra=None):
        if manifest["completed"].get(stage) and self.io.exists(stage):
            out = read_stage(self.io, manifest, stage)
            result.tables[stage] = out
            result.stage_rows[stage] = manifest["completed"][stage]["rows"]
            return out
        t0 = time.time()
        df = build()
        self.io.write(df, stage)

        def mark(manifest: dict, stage: str, entry: dict) -> None:
            more = extra() if callable(extra) else extra
            self._mark(manifest, stage, {**entry, **(more or {})})

        # per-file lineage, same stage_metrics contract as the ER Runner
        out = record_stage(
            self.io, manifest, stage, df.schema, int((time.time() - t0) * 1000), mark
        )
        result.tables[stage] = out
        result.stage_rows[stage] = manifest["completed"][stage]["rows"]
        return out

    # -- stages -------------------------------------------------------------
    def run(self, docs: DataFrame) -> CorpusResult:
        cfg = self.cfg
        manifest = self._manifest()
        result = CorpusResult(run_id=manifest["run_id"])
        id_c, txt = cfg.id_col, cfg.text_col

        # exclude any column the scrub stage itself emits, so a table that
        # ALREADY went through ingest-time hygiene (streaming/corpus.py's
        # quality_stream) re-enters the batch pipeline without ambiguity —
        # its stale n_pii_total is superseded by this run's scrub
        scrub_cols = ("n_pii_total", "n_emails", "n_phones", "n_ips", "n_ssns", "n_cards")
        passthrough = [
            c for c in docs.columns if c not in (id_c, txt) and c not in scrub_cols
        ]

        def build_scrubbed():
            scrub = scrub_documents(docs, id_c, txt)
            keep = docs.select(id_c, *passthrough)
            return (
                scrub.join(keep, id_c)
                .select(
                    id_c,
                    F.col("redacted_text").alias(txt),
                    "n_pii_total",
                    *passthrough,
                )
            )

        scrubbed = self._ensure(manifest, result, "scrubbed", build_scrubbed)

        models = []  # trained KN models, released once the stage is written

        def build_quality():
            rep = repetition_filter(scrubbed, id_c, txt, cfg.repetition_thresholds)
            kept = scrubbed.join(
                rep.where(F.col("keep")).select(id_c), id_c, "left_semi"
            )
            if cfg.max_perplexity is None:
                return kept
            if cfg.lm_order == 3:
                from hexspark.ops.kn import kn_score, train_kn_lm

                lm3 = train_kn_lm(kept, txt, min_count=cfg.lm_min_count)
                models.append(lm3)
                scores = kn_score(kept, lm3, id_c, txt)
            else:
                lm = train_bigram_lm(kept, txt, min_count=cfg.lm_min_count)
                scores = lm_score(kept, lm, id_c, txt)
            ok = scores.where(
                F.col("perplexity").isNotNull()
                & (F.col("perplexity") <= F.lit(float(cfg.max_perplexity)))
            ).select(id_c)
            return kept.join(ok, id_c, "left_semi")

        quality = self._ensure(manifest, result, "quality", build_quality)
        for lm3 in models:
            lm3.unpersist()

        def build_deduped():
            groups = exact_dedup_groups(quality, txt, id_c)
            dup_losers = (
                quality.select(F.md5(F.col(txt)).alias("text_md5"), F.col(id_c))
                .join(F.broadcast(groups), "text_md5")
                .where(F.col(id_c) != F.col("canonical_id"))
                .select(id_c)
            )
            def span_gate(df):
                if cfg.max_span_dup_frac is None:
                    return df
                from hexspark.ops.spandedup import span_dedup_stats

                flagged = span_dedup_stats(
                    df, id_c, txt, min_len=cfg.span_min_len
                ).where(F.col("dup_frac") > F.lit(float(cfg.max_span_dup_frac)))
                return df.join(flagged.select(id_c), id_c, "left_anti")

            exact = quality.join(dup_losers, id_c, "left_anti")
            if not cfg.near_dup:
                return span_gate(exact)
            pairs = simhash_neardup_pairs(
                exact,
                text_col=txt,
                id_col=id_c,
                n_bands=cfg.neardup_bands,
                max_dist=cfg.neardup_max_dist,
            ).select(
                F.col("id_a").alias("conv_id_a"),
                F.col("id_b").alias("conv_id_b"),
            )
            cc, _ = connected_components(pairs)
            # simhash_neardup_pairs stringifies ids for the signature
            # stage; cast back to the caller's id type for the anti-join
            near_losers = cc.where(F.col("conv_id") != F.col("cluster_id")).select(
                F.col("conv_id").cast(exact.schema[id_c].dataType).alias(id_c)
            )
            return span_gate(exact.join(near_losers, id_c, "left_anti"))

        deduped = self._ensure(manifest, result, "deduped", build_deduped)

        mix_plan: dict = {}

        def build_corpus():
            if cfg.mixture_weights is None:
                return deduped
            out, plan = mixture_sample(
                deduped, cfg.domain_col, id_c, cfg.mixture_weights, cfg.mixture_scale
            )
            mix_plan.update(plan)
            return out

        self._ensure(
            manifest, result, "corpus", build_corpus,
            extra=lambda: {"mixture_plan": mix_plan} if mix_plan else None,
        )
        return result
