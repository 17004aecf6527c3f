"""End-to-end pipeline runner with checkpoint/resume and stage lineage.

Every stage materializes its output table (Iceberg or parquet via TableIO)
and marks completion in a run manifest. Its accounting comes from the
files the write left (metrics.record_stage): the manifest entry's rows,
files and bytes and the per-file `stage_metrics` rows are read from the
parquet footers on the driver, and the table is read back under the
schema it was written with, so a stage launches no Spark job after its
write. A rerun with the same workdir skips stages whose outputs already
exist and reads them under the schema their manifest entries record —
kill-after-stage-k resume, and a crash at each step of a stage's
accounting, are exercised by tests/test_resume.py.

Stage graph:
    transcripts ─ B2 → conversations ─ B3 → signatures ─ B4/B5 → wide pairs
    wide pairs ─ B6/B7 → edges ─ B8/B9 → clusters
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegerType, LongType, StructField, StructType

from . import assemble, blocking, clustering, scoring, simhash
from .io import TableIO, write_json_atomic
from .metrics import StageTimer, read_stage, record_stage

# skipped_blocks: the oversize blocks the candidate_pairs stage routed to
# blocking's salted chain branch, one row each (`skipped` is always true)
SKIPPED_BLOCKS_SCHEMA = StructType([
    StructField("band_id", IntegerType()),
    StructField("band_val", LongType()),
    StructField("block_size", LongType()),
    StructField("skipped", BooleanType()),
])
# round bound passed to every iterative clustering call the runner makes
CC_MAX_ITER = 20
# window of the "snm" extra blocking pass, in rank positions
SNM_WINDOW = 10


@dataclass
class PipelineConfig:
    n_bands: int = 16
    max_block: int = 2000
    max_dist: int = 20
    alpha: float = 0.75
    min_score: float = 0.0
    # pairwise scorer: "blend" = the fixed hamming+Jaro-Winkler alpha blend
    # gated on max_dist (the reference's A2/A3 semantics); "fs" = the
    # Fellegi-Sunter classical-linkage path (pipeline/fs.py) — per-chunk
    # within-dist + canon-prefix agreement fields, (m, u, p) fitted by EM
    # on the run's own UNLABELED candidate pairs, edges gated on the
    # posterior-0.5 weight. The fitted model is recorded in the manifest
    # and reused by incremental batches (a tiny batch must not refit).
    # "fs_levels" = the multi-level (ordinal) FS variant: 3-level
    # comparisons (exact / within chunk_dist / beyond per signature chunk;
    # full / half / no canon-prefix agreement) with per-level (m, u)
    # fitted by the categorical EM — keeps the exact-vs-merely-near
    # evidence the boolean fields collapse, separating concentrated from
    # dispersed difference even when the boolean agreement PATTERNS tie.
    scoring_mode: str = "blend"
    # term-frequency adjustment for the canon-prefix field (fs mode only):
    # corpus frequencies of each prefix become the agreement weight —
    # sharing a boilerplate opening stops counting as strong evidence,
    # sharing a rare one counts for more. The frequency table is a
    # materialized stage table (canon_tf) so incremental folds score under
    # the corpus frequencies, exactly like they reuse the fitted model.
    fs_tf_adjust: bool = False
    # explicit decision threshold; None derives log2((1-p)/p) from the
    # fitted prevalence (the parameter-free Bayes decision point)
    fs_threshold: float | None = None
    # meta-blocking prune (pipeline/metablocking.py): restructure the
    # candidate set BEFORE scoring by blocking-graph evidence — the CBS
    # weight (number of agreeing LSH bands; a free codegen popcount over
    # the wide pair's carried signature chunks, blocking.shared_band_count)
    # under "wep" (global-mean) or "wnp" (node-local-mean) edge pruning,
    # or "cnp" (top-meta_cnp_k edges per node — a HARD per-record
    # candidate budget, <= k*n pairs total regardless of the weight
    # distribution) or "cep" (the meta_cep_budget globally best edges —
    # progressive / pay-as-you-go resolution; threshold ties all kept).
    # Cuts the quadratic scoring phase's input at
    # near-zero recall cost; the pruned stream lands as its own resumable
    # stage table (pruned_pairs). Incremental folds score their
    # new-vs-all pairs UNPRUNED by design: a batch's
    # node-local means over a partial graph would drift the threshold,
    # and skipping the prune on (small) increments is recall-monotone —
    # it can only add edges.
    meta_prune: str = "off"
    meta_cnp_k: int = 10
    meta_cep_budget: int = 1_000_000
    # high-precision mode: cluster only on triangle-corroborated edges and
    # materialize the uncorroborated (bridge) edges as a review-queue stage
    # table. Plain transitive closure is maximally fragile — ONE false
    # match edge glues two entities, and at 10^12 rows some edge is always
    # wrong; robust mode demands a second independent path per merge. The
    # trade: pairs whose only link is a lone edge stay apart (review them
    # via the bridge_edges table). Part of the recorded config, so the
    # drift guard refuses to mix robust and default stage outputs in one
    # workdir.
    robust: bool = False
    # post-clustering repair (pipeline/repair.py): evict members whose
    # average within-cluster edge score < repair_min_avg (the glue nodes a
    # single false edge wires in), re-cluster the surviving within-edges,
    # and land the evicted members as a review-queue stage table
    # (evicted_nodes), mirroring robust mode's bridge queue. The raw
    # transitive closure is kept as its own stage (clusters_raw) so the
    # repair threshold can be re-swept without re-running CC. None = off.
    # Composes with robust: cohesion is still measured over the full
    # scored edge set, so a corroborated-but-low-scoring member still
    # lands in the queue. Batch mode only — see run_incremental.
    repair_min_avg: float | None = None
    # clustering algorithm for the clusters stage: "cc" = transitive
    # closure (connected components — maximal recall, fragile to single
    # false edges), "pivot" = parallel KwikCluster correlation clustering
    # (clustering.pivot_components) — every cluster sits inside one
    # pivot's direct match-neighborhood, so a false edge can pull in one
    # node but never glue two whole entities, at the cost of splitting
    # long genuine match chains. "star" = star clustering
    # (clustering.star_components) — same neighborhood-bounded precision
    # shape, but centers are chosen by DESCENDING DEGREE instead of a
    # random permutation, so cluster ids land on the best-connected
    # records (natural canonical representatives) and the partition is
    # deterministic without a salt. "hac" = component-local exact
    # average-linkage agglomerative clustering (hac.hac_components) cut at
    # hac_threshold (default max_dist) over the edges' hamming_dist —
    # refuses chained merges whose MEAN cross distance fails the cut,
    # splitting glued entities by pricing rather than structure. "lpa" =
    # unseeded synchronous label propagation (ops/graph.lpa_communities)
    # — density-sensitive: an over-merged component splits along its
    # sparse cut (majority voting starves the bridge) without needing
    # triangle support or scores; deterministic via self-vote + min-label
    # ties, rounds bounded by CC_MAX_ITER.
    # Precision levers next to robust (edge corroboration) and repair
    # (post-hoc eviction); unlike those they emit no review queue —
    # disagreements are priced into the partition. Mutually exclusive
    # with robust/repair (each replaces the clusters stage its own way);
    # batch-only (none of these partitions is monotone under edge
    # appends — see run_incremental).
    clustering_mode: str = "cc"
    pivot_salt: str = ""
    # hac mode: distance cut (None -> max_dist)
    hac_threshold: float | None = None
    # multi-pass blocking as a production mode: extra candidate passes
    # derived from the signatures' canon key, unioned with the LSH bands
    # (exactly once per unordered pair, provenance kept in the stage
    # table) before scoring — pure RECALL levers, the scoring gate still
    # decides every pair. Allowed names: "suffix" (suffix-array keys,
    # prefix-corruption-robust), "phonetic" (Soundex), "snm" (fixed
    # window SNM_WINDOW over the global rank), "adaptive_snm"
    # (boundary-segmented windows). The union is widened with both
    # sides' signature chunks and canon keys (two attach joins) in the
    # candidate_pairs stage, so every scoring and meta_prune mode reads
    # it like the LSH pairs; batch-only (the incremental path implements
    # banded blocking only).
    extra_passes: tuple = ()
    # exact containment pre-dedup (pipeline/align.py): before assembly,
    # drop conversations that are strict turn-level prefixes of another
    # conversation (resumed sessions) or exact duplicates (min-id copy
    # survives). The dropped->survivor map lands as the contained_map
    # stage table; dropped conversations re-enter the FINAL clusters
    # output attached to their representative's cluster, so the output is
    # still a partition of the full input. Two wins at scale: the
    # quadratic stages never see the redundant copies, and a short prefix
    # whose long continuation SimHash would NOT match (the extension
    # dominates the fingerprint) still lands in the right entity — exact
    # containment is evidence stronger than any similarity score.
    # Candidates come from the lossless per-depth prefix index
    # (align.prefix_block_pairs) — immune to universal-system-prompt
    # openers; containment_depth_cap bounds the per-conversation prefix
    # materialization (beyond it, keys coarsen but stay lossless). Batch
    # mode only — see run_incremental.
    drop_contained: bool = False
    containment_depth_cap: int = 256
    # bootstrap merge confidence (pipeline/stability.py): when set, an
    # edge_confidence stage table lands after edges with per-edge
    # co-clustering counts over `stability_samples` deterministic edge
    # subsamples — the review-queue signal for fragile single-path merges.
    # Observational only (clusters are unaffected); None = off.
    stability_samples: int | None = None
    stability_keep_frac: float = 0.8
    stability_seed: int = 7
    # persistent entity ids (pipeline/identity.py): when on, an entity_ids
    # stage maps every conv_id to a run-stable entity id (majority
    # carry-over across batch re-runs and incremental folds; B9's
    # min-member cluster_id churns under folds, entity ids must not) and
    # an entity_retirements stage records ids absorbed by merges so
    # consumers can tombstone.
    persist_entity_ids: bool = False


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    cc_rounds: int = 0
    run_id: str = ""


class Runner:
    """Resumable ER pipeline over a transcripts table."""

    STAGES = ["conversations", "signatures", "candidate_pairs", "edges", "clusters"]

    def __init__(self, spark: SparkSession, workdir: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.io = TableIO(spark, workdir)
        self.cfg = config or PipelineConfig()
        if self.cfg.scoring_mode not in ("blend", "fs", "fs_levels"):
            raise ValueError(
                "scoring_mode must be 'blend', 'fs' or 'fs_levels' "
                f"(got {self.cfg.scoring_mode!r})"
            )
        if self.cfg.fs_tf_adjust and self.cfg.scoring_mode != "fs":
            raise ValueError(
                "fs_tf_adjust applies only to scoring_mode='fs' "
                f"(got scoring_mode={self.cfg.scoring_mode!r})"
            )
        if self.cfg.meta_prune not in ("off", "wep", "wnp", "cnp", "cep"):
            raise ValueError(
                f"meta_prune must be 'off', 'wep', 'wnp', 'cnp' or 'cep' "
                f"(got {self.cfg.meta_prune!r})"
            )
        if self.cfg.meta_prune == "cnp" and self.cfg.meta_cnp_k < 1:
            raise ValueError(
                f"meta_cnp_k must be >= 1 (got {self.cfg.meta_cnp_k})"
            )
        if self.cfg.meta_prune == "cep" and self.cfg.meta_cep_budget < 1:
            raise ValueError(
                f"meta_cep_budget must be >= 1 (got {self.cfg.meta_cep_budget})"
            )
        if self.cfg.clustering_mode not in ("cc", "pivot", "star", "hac", "lpa"):
            raise ValueError(
                "clustering_mode must be 'cc', 'pivot', 'star', 'hac', or "
                f"'lpa' (got {self.cfg.clustering_mode!r})"
            )
        if self.cfg.clustering_mode != "cc" and (
            self.cfg.robust or self.cfg.repair_min_avg is not None
        ):
            raise ValueError(
                f"clustering_mode={self.cfg.clustering_mode!r} is its own "
                "precision mode and does not compose with robust or "
                "repair_min_avg — pick one precision lever per run"
            )
        allowed_passes = ("suffix", "phonetic", "snm", "adaptive_snm")
        unknown = [p for p in self.cfg.extra_passes if p not in allowed_passes]
        if unknown:
            raise ValueError(
                f"unknown extra_passes {unknown!r}; allowed: {allowed_passes}"
            )
        if self.cfg.drop_contained and self.cfg.containment_depth_cap < 1:
            raise ValueError(
                "containment_depth_cap must be >= 1 "
                f"(got {self.cfg.containment_depth_cap})"
            )
        self.workdir = workdir
        self._manifest_path = os.path.join(workdir, "run_manifest.json")

    # -- manifest -----------------------------------------------------------
    def _cfg_dict(self) -> dict:
        from dataclasses import asdict

        # JSON round-trips tuples as lists; normalize so the drift guard
        # compares values, not container types (extra_passes is a tuple)
        return {
            k: list(v) if isinstance(v, tuple) else v
            for k, v in asdict(self.cfg).items()
        }

    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                m = json.load(f)
            stored = m.get("config")
            if stored is None and m.get("completed"):
                # a manifest with completed stages but no recorded config
                # predates the drift guard — resuming it under current
                # defaults could feed stale stage shapes downstream
                raise ValueError(
                    "workdir manifest records completed stages but no "
                    "pipeline config; cannot prove stage outputs match the "
                    "current configuration. Use a fresh workdir."
                )
            current = self._cfg_dict()
            if stored is not None and stored != current:
                # keys of either side: a field only the manifest records
                # (one a later version dropped) is a difference too
                absent = "<absent>"
                changed = {
                    k: (stored.get(k, absent), current.get(k, absent))
                    for k in sorted(stored.keys() | current.keys())
                    if stored.get(k, absent) != current.get(k, absent)
                }
                raise ValueError(
                    "workdir was produced with a different pipeline config "
                    f"({changed}); stage outputs would be stale. Use a fresh "
                    "workdir or rerun with the original config."
                )
            return m
        return {
            "completed": {},
            "run_id": str(uuid.uuid4())[:8],
            "config": self._cfg_dict(),
        }

    def _mark(self, manifest: dict, stage: str, entry: dict) -> None:
        manifest["completed"][stage] = entry
        write_json_atomic(self._manifest_path, manifest)

    # -- stage execution ----------------------------------------------------
    def _run_stage(
        self, manifest: dict, result: PipelineResult, stage: str, build
    ) -> DataFrame:
        if manifest["completed"].get(stage) and self.io.exists(stage):
            result.stages_skipped.append(stage)
            df = read_stage(self.io, manifest, stage)
            result.tables[stage] = df
            return df
        timer = StageTimer()
        df = build()
        self.io.write(df, stage)
        out = record_stage(
            self.io, manifest, stage, df.schema, timer.wall_ms(), self._mark
        )
        result.stages_run.append(stage)
        result.tables[stage] = out
        return out

    # -- FS scoring ---------------------------------------------------------
    def _fit_fs_model(self, pairs: DataFrame) -> dict:
        """Fit the fs / fs_levels model on a run's wide candidate pairs;
        returns it in the manifest's JSON form, threshold included."""
        from . import fs

        cfg = self.cfg
        fit, to_json = (
            (fs.fit_wide_levels, fs.level_params_to_json)
            if cfg.scoring_mode == "fs_levels"
            else (fs.fit_wide_pairs, fs.params_to_json)
        )
        params, prev = fit(pairs)
        thr = cfg.fs_threshold if cfg.fs_threshold is not None else fs.default_threshold(prev)
        return {**to_json(params, prev), "threshold": thr}

    def _fs_scorer(self, model: dict, canon_tf: DataFrame | None):
        """Map a fitted model in its manifest JSON form (plus the canon_tf
        table in TF mode) to the wide-pairs edge scorer. The batch run and
        the incremental fold both score through this, so a fold scores
        under exactly the model the prior run recorded."""
        from . import fs

        if self.cfg.scoring_mode == "fs_levels":
            lvl_params, _prev = fs.level_params_from_json(model)
            return lambda p: fs.score_wide_fs_levels(p, lvl_params, model["threshold"])
        params, _prev = fs.params_from_json(model)
        return lambda p: fs.score_wide_fs(
            p, params, model["threshold"], canon_tf=canon_tf
        )

    # -- pipeline -----------------------------------------------------------
    def run(self, transcripts: DataFrame) -> PipelineResult:
        manifest = self._manifest()
        result = PipelineResult(run_id=manifest["run_id"])
        cfg = self.cfg

        contained = None
        if cfg.drop_contained:
            from . import align

            def build_contained() -> DataFrame:
                sigs_t = align.turn_signatures(transcripts)
                return align.contained_map(
                    sigs_t, depth_cap=cfg.containment_depth_cap
                )

            contained = self._run_stage(
                manifest, result, "contained_map", build_contained
            )
            # survivors only past this point; the dropped conversations
            # re-enter at the final clusters stage via their rep's cluster
            transcripts = transcripts.join(
                contained.select("conv_id"), "conv_id", "left_anti"
            )

        def attach_contained(clusters_df: DataFrame) -> DataFrame:
            """Union dropped conversations back in, assigned to their
            representative's cluster; in cc/hac mode re-canonicalize
            cluster_id = min member id (B9 invariant — HAC reps are min
            members too, and a reattached conv_id can undercut them). In
            pivot/star mode the center keeps naming the cluster (it
            remains a member)."""
            if contained is None:
                return clusters_df
            from pyspark.sql import Window

            reattached = contained.select("conv_id", "rep_id").join(
                clusters_df.select(
                    F.col("conv_id").alias("rep_id"), "cluster_id"
                ),
                "rep_id",
            ).select("conv_id", "cluster_id")
            full = clusters_df.unionByName(reattached)
            if cfg.clustering_mode in ("cc", "hac"):
                w = Window.partitionBy("cluster_id")
                full = full.withColumn("cluster_id", F.min("conv_id").over(w))
            return full

        convs = self._run_stage(
            manifest, result, "conversations",
            lambda: assemble.assemble_conversations(transcripts),
        )
        sigs = self._run_stage(
            manifest, result, "signatures", lambda: simhash.signatures(convs)
        )

        def build_pairs() -> DataFrame:
            pairs, oversize = blocking.candidate_pairs_wide(
                sigs, n_bands=cfg.n_bands, max_block=cfg.max_block
            )
            self.io.write_rows(
                [(*r, True) for r in oversize], SKIPPED_BLOCKS_SCHEMA, "skipped_blocks"
            )
            if not cfg.extra_passes:
                return pairs
            from . import snm as snm_mod

            canon_df = sigs.select("conv_id", "canon")
            passes = {"lsh": pairs.select("conv_id_a", "conv_id_b")}
            for name in cfg.extra_passes:
                if name == "suffix":
                    p = blocking.suffix_pairs(canon_df, "conv_id", "canon")
                elif name == "phonetic":
                    p = blocking.phonetic_pairs(canon_df, "conv_id", "canon")
                elif name == "snm":
                    p = snm_mod.sorted_neighborhood_pairs(
                        canon_df, "conv_id", F.col("canon"),
                        window=SNM_WINDOW,
                    )
                else:  # adaptive_snm
                    p = snm_mod.adaptive_snm_pairs(
                        canon_df, "conv_id", F.col("canon")
                    )
                # canonicalize to id order: SNM's a-side is the lower RANK
                # (key order), so without this a pair could enter the
                # union both ways and be scored twice
                passes[name] = p.select(
                    F.least("conv_id_a", "conv_id_b").alias("conv_id_a"),
                    F.greatest("conv_id_a", "conv_id_b").alias("conv_id_b"),
                )
            # widen the union with both sides' chunks and canon keys, so
            # every run scores (and prunes, and fits FS on) wide pairs
            return scoring.attach_signatures(
                blocking.union_candidates(passes), sigs
            )

        pairs = self._run_stage(manifest, result, "candidate_pairs", build_pairs)

        if cfg.meta_prune != "off":
            from . import metablocking

            def build_pruned() -> DataFrame:
                return metablocking.prune_pairs(
                    pairs,
                    blocking.shared_band_count(cfg.n_bands),
                    scheme=cfg.meta_prune,
                    k=cfg.meta_cnp_k,
                    budget=cfg.meta_cep_budget,
                )

            pairs = self._run_stage(manifest, result, "pruned_pairs", build_pruned)

        canon_tf = None
        if cfg.scoring_mode == "fs" and cfg.fs_tf_adjust:
            from . import fs

            canon_tf = self._run_stage(
                manifest,
                result,
                "canon_tf",
                lambda: fs.canon_term_frequencies(sigs),
            )

        def build_edges() -> DataFrame:
            if cfg.scoring_mode != "blend":
                # fit on THIS run's pairs (one pattern-count aggregation
                # over the materialized stage table + driver EM), record
                # the model in the manifest so incremental folds reuse it
                manifest["fs_model"] = self._fit_fs_model(pairs)
                return self._fs_scorer(manifest["fs_model"], canon_tf)(pairs)
            return scoring.score_wide(
                pairs, max_dist=cfg.max_dist, alpha=cfg.alpha, min_score=cfg.min_score
            )

        edges = self._run_stage(manifest, result, "edges", build_edges)

        if cfg.stability_samples is not None:
            from . import stability

            # observational review artifact: per-edge bootstrap
            # co-clustering counts (pipeline/stability.py) — fragile
            # single-path merges concentrate near keep_frac * samples,
            # path-redundant merges at samples. Never feeds clustering;
            # composes with every mode. After an incremental fold the
            # table is a sound LOWER bound (appends only add paths) —
            # re-run this stage to refresh.
            self._run_stage(
                manifest,
                result,
                "edge_confidence",
                lambda: stability.edge_stability(
                    edges,
                    n_samples=cfg.stability_samples,
                    keep_frac=cfg.stability_keep_frac,
                    seed=cfg.stability_seed,
                    max_iter=CC_MAX_ITER,
                ),
            )

        # with repair on, the raw transitive closure lands as clusters_raw
        # and "clusters" becomes the repaired partition two stages later
        cc_stage = "clusters_raw" if cfg.repair_min_avg is not None else "clusters"

        if cfg.robust:
            from hexspark.ops import graph

            # one materialized triangle enumeration feeds BOTH the bridge
            # review queue and the corroborated clustering (triangles is a
            # stage table, so resume skips the enumeration too)
            tri = self._run_stage(
                manifest,
                result,
                "triangles",
                lambda: graph.triangles(edges, "conv_id_a", "conv_id_b"),
            )
            self._run_stage(
                manifest,
                result,
                "bridge_edges",
                lambda: graph.bridge_edges(edges, "conv_id_a", "conv_id_b", tri=tri),
            )

            def build_clusters_robust() -> DataFrame:
                kept = (
                    tri.select(F.col("x").alias("conv_id_a"), F.col("y").alias("conv_id_b"))
                    .unionAll(tri.select(F.col("y").alias("conv_id_a"), F.col("z").alias("conv_id_b")))
                    .unionAll(tri.select(F.col("x").alias("conv_id_a"), F.col("z").alias("conv_id_b")))
                    .distinct()
                )
                cc, rounds = clustering.connected_components(kept, max_iter=CC_MAX_ITER)
                result.cc_rounds = rounds
                base = clustering.with_singletons(cc, sigs.select("conv_id"))
                return base if cc_stage != "clusters" else attach_contained(base)

            raw = self._run_stage(manifest, result, cc_stage, build_clusters_robust)
        else:

            def build_clusters() -> DataFrame:
                if cfg.clustering_mode == "pivot":
                    cl, rounds = clustering.pivot_components(
                        edges, salt=cfg.pivot_salt, max_iter=CC_MAX_ITER
                    )
                elif cfg.clustering_mode == "star":
                    cl, rounds = clustering.star_components(
                        edges, max_iter=CC_MAX_ITER
                    )
                elif cfg.clustering_mode == "lpa":
                    from hexspark.ops.graph import lpa_communities

                    labels, rounds, _converged = lpa_communities(
                        edges, max_iter=CC_MAX_ITER
                    )
                    cl = labels.select(
                        F.col("node").alias("conv_id"),
                        F.col("label").alias("cluster_id"),
                    )
                elif cfg.clustering_mode == "hac":
                    from . import hac

                    thr = (
                        float(cfg.hac_threshold)
                        if cfg.hac_threshold is not None
                        else float(cfg.max_dist)
                    )
                    cl = hac.hac_components(
                        edges,
                        threshold=thr,
                        dist_col="hamming_dist",
                        cc_max_iter=CC_MAX_ITER,
                    ).select("conv_id", "cluster_id")
                    rounds = 0  # HAC runs its own internal closure
                else:
                    cl, rounds = clustering.connected_components(
                        edges, max_iter=CC_MAX_ITER
                    )
                result.cc_rounds = rounds
                base = clustering.with_singletons(cl, sigs.select("conv_id"))
                return base if cc_stage != "clusters" else attach_contained(base)

            raw = self._run_stage(manifest, result, cc_stage, build_clusters)

        if cfg.repair_min_avg is not None:
            from . import repair

            evicted = self._run_stage(
                manifest,
                result,
                "evicted_nodes",
                lambda: repair.evicted_nodes(raw, edges, cfg.repair_min_avg),
            )
            self._run_stage(
                manifest,
                result,
                "clusters",
                lambda: attach_contained(
                    repair.reclustered(
                        raw, edges, evicted, cc_max_iter=CC_MAX_ITER
                    )
                ),
            )

        if cfg.persist_entity_ids:
            from . import identity

            clusters_final = result.tables["clusters"]
            # fresh workdir -> bootstrap (prior=None mints new:<min id>);
            # crash-retry after entity_ids landed -> prior = own output,
            # and stable_entity_ids is a fixed point there (tested), so
            # the retried retirements stage is correctly empty
            prior = (
                read_stage(self.io, manifest, "entity_ids")
                if manifest["completed"].get("entity_ids")
                and self.io.exists("entity_ids")
                else None
            )
            self._run_stage(
                manifest,
                result,
                "entity_ids",
                lambda: identity.stable_entity_ids(clusters_final, prior)[0],
            )
            self._run_stage(
                manifest,
                result,
                "entity_retirements",
                lambda: identity.stable_entity_ids(clusters_final, prior)[1],
            )
        return result

    def run_incremental(self, new_transcripts: DataFrame) -> PipelineResult:
        """Fold a NEW transcript batch into a completed run's stage tables
        (see pipeline/incremental.py): fingerprint only the new batch,
        block new-vs-all, merge clusters over the affected subgraph only.

        Requires a completed prior run in this workdir; the config drift
        guard applies (the merged clustering must not mix thresholds or
        band geometry across batches). The signatures and clusters tables
        are replaced atomically (tmp-dir swap / Iceberg createOrReplace —
        both safe to read-while-replacing), the batch's edges are appended
        to the edges table, and the manifest row counts are refreshed."""
        from . import incremental

        if self.cfg.extra_passes:
            # incremental blocking implements the banded new-vs-all join
            # only; folding a batch through fewer passes than the prior
            # run would silently lose the extra passes' recall on
            # new-old pairs
            raise ValueError(
                "run_incremental does not support extra_passes: the "
                "incremental path implements banded blocking only. "
                "Re-run the batch pipeline."
            )
        if self.cfg.repair_min_avg is not None:
            # eviction is NOT monotone under edge appends: a new batch edge
            # can raise an evicted node's within-cluster average back over
            # the threshold (re-admission) or drag a kept node's under it —
            # folding into a repaired partition would freeze those stale
            # decisions. Unlike triangles (append-only, so corroboration
            # only grows), there is no sound batch-proportional fold here;
            # re-run the batch pipeline, whose clusters_raw/evicted_nodes
            # stages make the re-repair itself cheap to resume.
            raise ValueError(
                "run_incremental does not support repair_min_avg: eviction "
                "is not monotone under new edges (re-admission is possible)."
                " Re-run the batch pipeline to re-repair."
            )
        if self.cfg.clustering_mode != "cc":
            # the pivot/star center set is the lex-first MIS of the WHOLE
            # match graph under its priority order: one new edge can depose
            # an existing center (and in star mode also shift DEGREES,
            # reordering priorities globally) and re-deal its entire
            # neighborhood, so — unlike the CC merge, where new edges only
            # ever union components — there is no sound batch-proportional
            # fold. Re-run the batch pipeline; its materialized edges stage
            # makes re-clustering cheap.
            raise ValueError(
                "run_incremental does not support clustering_mode="
                f"{self.cfg.clustering_mode!r}: the partition is not "
                "monotone under new edges (a new edge can depose a "
                "pivot/star center, shift degrees, or re-price an "
                "average-linkage merge). Re-run the batch pipeline."
            )
        if self.cfg.drop_contained:
            # a new batch can CONTAIN an old conversation (the old one is
            # the prefix a user resumed) — the old conv should then be
            # dropped, but batch-mode drop decisions are not monotone
            # under appends, and the turn-level digests needed to check
            # new-vs-all containment are not a stored stage (only the
            # dropped rows land in contained_map). Folding raw would also
            # silently diverge from what a batch re-run produces. Re-run
            # the batch pipeline; contained_map and conversations resume
            # from their stage tables.
            raise ValueError(
                "run_incremental does not support drop_contained: "
                "containment drops are not monotone under new batches "
                "(a new conversation can contain an old one). Re-run the "
                "batch pipeline."
            )
        manifest = self._manifest()
        required = (
            ("signatures", "clusters")
            + (("triangles", "bridge_edges") if self.cfg.robust else ())
            + (("entity_ids",) if self.cfg.persist_entity_ids else ())
            + (
                ("canon_tf",)
                if self.cfg.scoring_mode == "fs" and self.cfg.fs_tf_adjust
                else ()
            )
        )
        for stage in required:
            if not (manifest["completed"].get(stage) and self.io.exists(stage)):
                raise ValueError(
                    "incremental update requires a completed prior run; "
                    f"stage '{stage}' is missing from {self.workdir}"
                )
        # incremental updates require batch-disjoint conv_ids: a conv_id
        # that reappears (e.g. a conversation that gained turns) would keep
        # its stale signature and cluster. Plain semi-join (no broadcast
        # hint): AQE broadcasts it when the id set is small and degrades to
        # a shuffle join for backfill-sized batches instead of OOMing the
        # driver on an unbounded broadcast collect.
        new_ids = new_transcripts.select("conv_id").distinct()
        overlap = (
            read_stage(self.io, manifest, "signatures")
            .join(new_ids, "conv_id", "left_semi")
            .count()
        )
        if overlap:
            raise ValueError(
                f"{overlap} conv_id(s) of the new batch already exist in the "
                "prior run; incremental updates require batch-disjoint "
                "conv_ids — re-run the batch pipeline for revised "
                "conversations"
            )
        cfg = self.cfg
        result = PipelineResult(run_id=manifest["run_id"])
        timer = StageTimer()
        score_fn = None
        if cfg.scoring_mode != "blend":
            # score the batch under the model FITTED ON THE PRIOR RUN (a
            # small batch must not refit — its pair sample is too thin and
            # a drifted model would mix decision boundaries in one edges
            # table); the manifest holds it from the batch run
            model = manifest.get("fs_model")
            if model is None:
                raise ValueError(
                    f"scoring_mode={cfg.scoring_mode!r} requires a fitted "
                    "model in the manifest (produced by the prior batch "
                    "run's edges stage); this workdir has none"
                )
            # TF mode scores the batch under the CORPUS frequency table
            # (the canon_tf stage), not batch-local frequencies — the same
            # no-thin-batch-refit rule as the model itself
            canon_tf = (
                read_stage(self.io, manifest, "canon_tf") if cfg.fs_tf_adjust else None
            )
            score = self._fs_scorer(model, canon_tf)
            if canon_tf is None:
                score_fn = score
            else:

                def score_fn(p):
                    # TF mode puts a JOIN above the pair stream. In the
                    # batch run the pairs come back from a materialized
                    # stage table, so the join sits on a shallow scan; here
                    # they are the un-materialized new-vs-all plan, and
                    # Join.validConstraints re-derives the constraint set
                    # through every banding projection below it —
                    # inferAdditionalConstraints goes quadratic over those
                    # CASE trees and the optimizer spins for tens of
                    # minutes on a 41-row fold. localCheckpoint does NOT
                    # help: LogicalRDD.fromDataset rewrites the old plan's
                    # constraints onto the checkpoint and hits the same
                    # derivation. Only a real table round-trip yields a
                    # scan with a clean constraint set — merely EXECUTING
                    # the deep plan is cheap (the blend fold proves it);
                    # it is asking for its `constraints` that explodes.
                    # Cost: one batch-proportional scratch-table write.
                    self.io.write(p, "fold_pairs_scratch")
                    return score(self.io.read("fold_pairs_scratch", p.schema))
        res = incremental.incremental_update(
            new_transcripts,
            read_stage(self.io, manifest, "signatures"),
            read_stage(self.io, manifest, "clusters"),
            n_bands=cfg.n_bands,
            max_block=cfg.max_block,
            max_dist=cfg.max_dist,
            alpha=cfg.alpha,
            min_score=cfg.min_score,
            cc_max_iter=CC_MAX_ITER,
            # robust mode clusters over corroborated-triangle sides, not
            # the raw edges — skip the (eager) raw-edge merge entirely
            merge=not cfg.robust,
            score_fn=score_fn,
        )
        result.cc_rounds = res["cc_rounds"]
        # Write order makes a crashed fold RETRYABLE: edges append, then
        # clusters, then signatures LAST — the batch-overlap guard reads
        # signatures, so until the final write lands a retry passes the
        # guard and re-runs cleanly (merge_clusters is idempotent over a
        # prior_clusters that already contains the batch; the only residue
        # of a mid-sequence crash is a duplicated edges append — and in
        # robust mode a duplicated triangles append — both harmless: every
        # consumer of either table is set-semantic (CC, distinct'd triangle
        # sides, anti-joins)). Every write computes
        # against still-intact inputs: edges/clusters read the prior
        # signatures table, which is replaced only after both are durable,
        # and TableIO.write stages to a tmp dir before the swap.
        if cfg.robust:
            # Incremental corroboration rides the same monotonicity the
            # batch graph has: edges are append-only, so a triangle once
            # formed is NEVER invalidated — new edges can only create
            # triangles (possibly promoting an old bridge edge to
            # corroborated), never destroy one. The fold therefore appends
            # exactly the triangles containing >= 1 new edge
            # (ops/graph.incremental_triangles — two node-keyed semi-joins
            # over the checkpointed affected subgraph, batch-proportional),
            # merges clusters over THOSE triangles' edges only
            # (merge_clusters' condensed affected subgraph), and updates
            # the bridge queue incrementally: new bridges = (old bridges ∪
            # the batch's canon edges) minus sides of new triangles —
            # batch-plus-queue-proportional, never a rescan of the full
            # edges table. (The unions below are disjoint by the
            # batch-disjointness guard: every batch edge has >= 1 new
            # endpoint, so it can never equal an old-bridge pair.)
            from hexspark.ops import graph

            # fill the edges cache ONCE before the graph plans fan out over
            # it (merge=False above means nothing else materializes it)
            res["edges"].count()
            old_edges = read_stage(self.io, manifest, "edges")
            new_tri = graph.incremental_triangles(
                old_edges, res["edges"], "conv_id_a", "conv_id_b"
            ).persist()
            prior_clusters = read_stage(self.io, manifest, "clusters")
            tri_sides = (
                new_tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
                .unionAll(new_tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
                .unionAll(new_tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
                .distinct()
            )
            merged, rounds = incremental.merge_clusters(
                prior_clusters,
                tri_sides.select(
                    F.col("u").alias("conv_id_a"), F.col("v").alias("conv_id_b")
                ),
                res["new_signatures"].select("conv_id"),
                cc_max_iter=CC_MAX_ITER,
            )
            result.cc_rounds = rounds
            bridges = (
                read_stage(self.io, manifest, "bridge_edges")
                .unionByName(
                    graph.canonical_edges(res["edges"], "conv_id_a", "conv_id_b")
                )
                .join(tri_sides, ["u", "v"], "left_anti")
            )
            self.io.append(res["edges"], "edges")
            self.io.append(new_tri, "triangles")
            self.io.write(bridges, "bridge_edges")
            self.io.write(merged, "clusters")
            new_tri.unpersist()
            written = {"triangles": new_tri, "bridge_edges": bridges, "clusters": merged}
        else:
            self.io.append(res["edges"], "edges")
            self.io.write(res["clusters"], "clusters")
            written = {"clusters": res["clusters"]}
        if cfg.persist_entity_ids:
            # carry entity ids over the merged partition BEFORE the
            # signatures write that arms the batch-overlap guard, so a
            # crashed fold retries through this point: the entity_ids
            # rewrite is a fixed point over its own output, and a
            # duplicated retirements append is set-semantic for consumers
            # (same contract as the edges append above). TableIO.write
            # stages to a tmp dir, so reading entity_ids while replacing
            # it is safe.
            from . import identity

            assignments, retirements = identity.stable_entity_ids(
                read_stage(self.io, manifest, "clusters"),
                read_stage(self.io, manifest, "entity_ids"),
            )
            # retirements FIRST: both plans lazily scan the CURRENT
            # entity_ids files, and the assignments write ends in a
            # directory swap that deletes them — appending retirements
            # after the swap would read deleted files
            self.io.append(retirements, "entity_retirements")
            self.io.write(assignments, "entity_ids")
            written["entity_ids"] = assignments
        self.io.write(res["signatures"], "signatures")
        written.update(signatures=res["signatures"], edges=res["edges"])
        # release the intermediates incremental_update persisted — a
        # CacheManager entry is never freed without an explicit unpersist,
        # and a long-lived app folds many batches through this path
        for df in (res["edges"], res["new_signatures"]):
            df.unpersist()
        wall = timer.wall_ms()
        stages = (
            ("signatures", "clusters", "edges")
            + (("triangles", "bridge_edges") if cfg.robust else ())
            + (("entity_ids",) if cfg.persist_entity_ids else ())
        )
        for stage in stages:
            # an appended table (edges, triangles) is accounted whole: its
            # manifest rows are the full table's, not the batch's
            result.tables[stage] = record_stage(
                self.io, manifest, stage, written[stage].schema, wall, self._mark,
                label=f"{stage}_incremental",
            )
            result.stages_run.append(f"{stage}_incremental")
        return result
