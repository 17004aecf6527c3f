"""Physical-plan shape assertions — the 100TB design claims, checked
against what Catalyst actually produces (`.explain` as a test oracle).

These tests pin the properties that matter at scale and would silently
regress without failing any value-level test:
  - score_wide is a pure narrow map: NO exchange between the pair source
    and the result (scoring never shuffles).
  - the blocking self-join reuses one band exchange for both sides
    (window gate + self-join co-partitioning).
  - parquet scans receive pushed filters and pruned schemas.
  - the hamming gate runs inside whole-stage codegen, before Python.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _sigs(spark, n_base=60):
    from hexspark import fixtures
    from hexspark.pipeline import assemble
    from hexspark.pipeline import simhash as sm

    tr = fixtures.transcripts_df(spark, n_base=n_base, seed=3, mutation_rate=0.01)
    return sm.signatures(assemble.assemble_conversations(tr))


def test_score_wide_has_no_shuffle(spark):
    """Scoring over wide pairs must add ZERO exchanges: hamming + gate in
    codegen, then mapInArrow — all narrow. The only exchanges in the full
    plan belong to blocking (band shuffle + pair dedup)."""
    from hexspark.pipeline import blocking, scoring

    sigs = _sigs(spark)
    wide, _ = blocking.candidate_pairs_wide(sigs)
    n_exchanges_pairs = _plan(wide).count("Exchange")
    scored = scoring.score_wide(wide, max_dist=40)
    n_exchanges_scored = _plan(scored).count("Exchange")
    assert n_exchanges_scored == n_exchanges_pairs, (
        "score_wide introduced a shuffle on top of the pair stream"
    )


def test_blocking_dedup_is_filter_not_shuffle(spark):
    """Pair dedup must be the codegen first-matching-band filter — the
    pair stream is never aggregated or re-shuffled: no exchange keyed on
    the pair columns, no SortAggregate anywhere (string/array-buffered
    aggregates would force a full sort of the pair stream)."""
    from hexspark.pipeline import blocking

    sigs = _sigs(spark)
    wide, _ = blocking.candidate_pairs_wide(sigs)
    plan = _plan(wide)
    assert "SortAggregate" not in plan, plan[:2000]
    assert "hashpartitioning(conv_id_a" not in plan, (
        "pair stream is being shuffled for dedup"
    )


def test_parquet_scan_pushdown(spark):
    """Filters and projections must reach the parquet scan."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = _plan(q)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:1500]
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), "column pruning failed: " + m.group(1)


def test_hamming_gate_in_codegen_before_python(spark):
    """The within-dist gate must appear as a codegen Filter on bit_count
    XOR terms BEFORE the Python (ArrowEvalPython/MapInArrow) operator —
    the plan-level realization of the reference's early-exit."""
    from hexspark.pipeline import blocking, scoring

    sigs = _sigs(spark)
    wide, _ = blocking.candidate_pairs_wide(sigs)
    scored = scoring.score_wide(wide, max_dist=40)
    plan = _plan(scored)
    py_pos = plan.find("MapInArrow")
    assert py_pos > 0, plan[:1500]
    gate_pos = plan.find("bit_count")
    assert 0 < gate_pos, "hamming gate not visible in plan"
    # formatted explain lists operators top-down root-first: the python
    # operator (closer to the root) prints BEFORE the filter feeding it
    assert py_pos < gate_pos, "gate does not precede the Python stage"


def test_incremental_pairs_same_plan_discipline(spark):
    """The incremental blocking path must keep the batch path's two scale
    properties: pair dedup is a codegen filter (no pair-keyed exchange, no
    SortAggregate), and scoring adds zero exchanges on top of it."""
    from hexspark.pipeline import incremental, scoring

    sigs = _sigs(spark)
    flagged = sigs.withColumn(
        "is_new", F.pmod(F.xxhash64("conv_id"), F.lit(3)) == 0
    )
    pairs, _ = incremental.incremental_candidate_pairs_wide(flagged)
    plan = _plan(pairs)
    assert "SortAggregate" not in plan, plan[:2000]
    assert "hashpartitioning(conv_id_a" not in plan, (
        "incremental pair stream is being shuffled for dedup"
    )
    n_pairs = plan.count("Exchange")
    scored = scoring.score_wide(pairs, max_dist=40)
    assert _plan(scored).count("Exchange") == n_pairs, (
        "score_wide introduced a shuffle on top of the incremental pairs"
    )


def test_exact_dedup_shuffles_digest_not_text(spark):
    """exact_dedup's shuffle must carry the 16-byte digest, not the text:
    md5 is computed map-side (partial aggregate before the exchange)."""
    from hexspark.ops.dedup import exact_dedup_groups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup_groups(docs))
    # partial_count / merge_count split proves map-side partial aggregation
    assert "partial_count" in plan or "HashAggregate" in plan
    m = re.search(r"hashpartitioning\(text_md5", plan)
    assert m, "shuffle key is not the digest: " + plan[:1500]


def test_embedding_neardup_dedup_is_hash_aggregate(spark):
    """LSH candidate dedup must be a hash aggregate over the two long ids —
    never a SortAggregate over array<float> vector buffers (vectors are
    re-attached by equi-join after the dedup)."""
    from hexspark.ops.ann import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs(emb, threshold=0.4, method="lsh",
                                         n_planes=4, n_tables=4))
    assert "SortAggregate" not in plan, plan[:2000]
    assert "HashAggregate" in plan


def test_top_orders_plan_broadcasts_both_dims(spark):
    """The multi-way dim join must broadcast customer and nation (the fact
    table is never shuffled for a join); the only hash-partition exchange
    belongs to the window on custkey. (Built inline since round 4 — its
    driver slot now hosts fused_truth — but the plan shape stays pinned.)"""
    from pyspark.sql import Window

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    df = (
        orders.join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
        .select("o_custkey", "c_name", "n_name", "o_orderkey", "o_totalprice", "rank")
    )
    plan = _plan(df)
    # formatted explain lists each operator in the tree AND the details
    # section; count the numbered details headers
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    # exactly one exchange in the whole plan: the window's hash-partition
    # on o_custkey (the fact is never shuffled for a join)
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan[:3000]
    assert "hashpartitioning(o_custkey" in plan, plan[:3000]


def test_cms_build_is_single_aggregate_exchange(spark):
    """The CMS build must be ONE partial-aggregate pipeline: exactly one
    exchange (the final row/bucket hash aggregate), with partial_count
    upstream — the sketch's exchange volume is depth*width counters per
    partition, independent of input size."""
    from hexspark.ops.sketch import cms_build

    toks = spark.range(0, 10000).select(F.col("id").cast("string").alias("t"))
    sk = cms_build(toks, F.col("t"), depth=4, width=256)
    plan = _plan(sk)
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1
    assert "partial_count" in plan  # map-side combine confirmed


def test_token_blocking_has_no_self_join(spark):
    """token_blocking_pairs generates pairs in-array: the plan must not
    contain ANY SortMergeJoin of the token stream with itself — the only
    join is tokens->rare (df gate), and the pair stream's sole exchange is
    its own groupBy."""
    from hexspark.ops.setjoin import token_blocking_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
        "doc_id long, text string",
    )
    out = token_blocking_pairs(docs, "doc_id", F.col("text"), max_df=3, ngram=2)
    plan = _plan(out)
    # one tokens->rare join; pair generation contributes no join at all
    joins = re.findall(
        r"\n\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 1, joins


def test_suffix_pairs_no_cartesian_and_cap_before_join(spark):
    """suffix_pairs pairs via the suffix-key equi-join only: no cartesian
    or broadcast-nested-loop anywhere, and the hot-block cap is applied
    BEFORE the self-join (a semi-join of the keyed stream against the
    per-key counts, not a post-join filter)."""
    from hexspark.pipeline.blocking import suffix_pairs

    docs = spark.createDataFrame(
        [(f"r{i}", f"record-handle-{i % 7}x{i}") for i in range(50)],
        "rec_id string, name string",
    )
    plan = _plan(suffix_pairs(docs, "rec_id", "name"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cap's semi-join sits below the pair join: a LeftSemi join exists
    assert "LeftSemi" in plan


def test_hac_python_is_one_grouped_pandas_stage(spark):
    """hac_components confines Python to exactly ONE grouped applyInPandas
    operator (FlatMapGroupsInPandas) keyed on the component — the closure,
    the component sizing, and the cap routing all stay JVM-side."""
    from hexspark.pipeline.hac import hac_components

    edges = spark.createDataFrame(
        [(f"a{i}", f"a{i+1}", 5.0) for i in range(6)]
        + [(f"b{i}", f"b{i+1}", 5.0) for i in range(6)],
        "conv_id_a string, conv_id_b string, dist double",
    )
    plan = _plan(hac_components(edges, threshold=10.0))
    assert len(re.findall(r"\n\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    # Python never touches the inexact fallback branch
    assert "BatchEvalPython" not in plan
