"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k — probes broadcast against the
  embedding table; dot/norms via built-in higher-order functions
  (zip_with + aggregate, JVM codegen, no Python); top-k via window
  row_number partitioned by probe. The baseline every ANN variant is
  measured against.
- lsh_topk: sign-random-projection LSH — h hyperplanes → h-bit bucket key;
  candidates = same-bucket (multi-probe over bucket permutations optional);
  exact cosine re-rank inside buckets. The 100 TB path: bucket key is
  computed in one Arrow-vectorized pandas UDF (numpy matmul per batch),
  the join is an equi-join on the bucket key, and only bucket-local pairs
  pay the exact-cosine cost.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def md5_planes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """±1 hyperplane components derived from md5 parity:
    component(t, p, i) = +1 if the first hex digit of md5(f"{t}_{p}_{i}")
    is odd else -1. Sign-random projections with ±1 entries are valid LSH
    hyperplanes (Achlioptas-style database-friendly projections), and this
    derivation is reproducible bit-for-bit in ANSI SQL
    (('0x'||substr(md5(t||'_'||p||'_'||i),1,1))::INT % 2), so a DuckDB
    oracle can mirror bucket assignment exactly — no RNG state to ship.
    Returns (n_tables, n_planes, dim) float64."""
    out = np.empty((n_tables, n_planes, dim), dtype=np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for i in range(dim):
                h = hashlib.md5(f"{t}_{p}_{i}".encode()).hexdigest()
                out[t, p, i] = 1.0 if int(h[0], 16) % 2 else -1.0
    return out


def cosine_sim(a_col, b_col):
    """Column: cosine similarity of two array<numeric> columns, computed in
    double (element-wise double cast → dot and norms via aggregate)."""
    prod = F.zip_with(a_col, b_col, lambda x, y: x.cast("double") * y.cast("double"))
    dot = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(
        F.aggregate(a_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return dot / (na * nb)


def brute_force_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per probe.

    probes(probe_id, probe_vec) × embeddings(vec_id, embedding) →
    (probe_id, vec_id, sim, rank) with rank 1..k by (sim desc, vec_id asc),
    self-matches excluded. The probe side is broadcast — it is small by
    construction; the scan side streams."""
    joined = embeddings.crossJoin(F.broadcast(probes))
    sim = cosine_sim(F.col("probe_vec"), F.col(vec_col))
    scored = joined.where(F.col("probe_id") != F.col(id_col)).select(
        "probe_id", F.col(id_col).alias("vec_id"), sim.alias("sim")
    )
    # zero-norm vectors produce null sims (0/0); exclude them rather than
    # letting row_number hand out ranks to null rows
    scored = scored.where(F.col("sim").isNotNull())
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _bucket_udf(planes: np.ndarray):
    """Returns a pandas UDF computing the sign-projection bucket id of an
    embedding batch: one numpy matmul per Arrow batch."""

    @F.pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        # float64 dot products: each float32 value casts to double exactly,
        # so the only cross-engine divergence vs the SQL oracle is summation
        # order at ~1 ulp — a sign flip needs |dot| ~ 1e-13, never for real
        # embeddings.
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (m @ planes.T) > 0  # (n, h)
        weights = 1 << np.arange(planes.shape[0], dtype=np.int64)
        return pd.Series((signs @ weights).astype(np.int64))

    return bucket


def _multi_bucket_udf(all_planes: np.ndarray):
    """pandas UDF: array of per-table sign-projection bucket ids.
    all_planes: (n_tables, n_planes, dim)."""
    from pyspark.sql.types import ArrayType

    n_tables, n_planes, _ = all_planes.shape
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        outs = np.empty((len(m), n_tables), dtype=np.int64)
        for t in range(n_tables):
            outs[:, t] = (((m @ all_planes[t].T) > 0) @ weights).astype(np.int64)
        return pd.Series(list(outs))

    return buckets


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    method: str = "lsh",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and cosine >= threshold.

    method="lsh" (the scale path): L=n_tables independent sign-projection
    tables of h=n_planes hyperplanes each; candidates = pairs sharing a
    bucket in >=1 table (OR-construction: recall 1-(1-p^h)^L with
    p = 1 - theta/pi), then exact cosine re-rank of bucket-local pairs
    only. The join is an equi-join on (table, bucket) — same plan family
    as the SimHash LSH blocking, AQE-splittable, no full n^2 scan.

    method="exact": all-pairs self-join + cosine filter — the oracle
    baseline (O(n^2); for tests and small reference runs only).
    """
    a_id, b_id = f"{id_col}_a", f"{id_col}_b"
    if method == "exact":
        a = embeddings.select(F.col(id_col).alias(a_id), F.col(vec_col).alias("_va"))
        b = embeddings.select(F.col(id_col).alias(b_id), F.col(vec_col).alias("_vb"))
        pairs = a.crossJoin(b).where(F.col(a_id) < F.col(b_id))
        sim = cosine_sim(F.col("_va"), F.col("_vb"))
        return (
            pairs.withColumn("sim", sim)
            .where(F.col("sim") >= F.lit(threshold))
            .select(a_id, b_id, "sim")
        )

    planes = md5_planes(n_tables, n_planes, dim)
    buckets = _multi_bucket_udf(planes)
    bucketed = embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    # Dedup candidates on the id pair alone — a hash aggregate over two
    # fixed-width longs (carrying the vectors through the dedup would force
    # a SortAggregate on variable-width array buffers) — then re-attach one
    # vector per side with equi-joins against the embeddings table.
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias(a_id), F.col("b.id").alias(b_id))
        .distinct()
    )
    va = embeddings.select(F.col(id_col).alias(a_id), F.col(vec_col).alias("_va"))
    vb = embeddings.select(F.col(id_col).alias(b_id), F.col(vec_col).alias("_vb"))
    sim = cosine_sim(F.col("_va"), F.col("_vb"))
    return (
        cand.join(va, a_id)
        .join(vb, b_id)
        .withColumn("sim", sim)
        .where(F.col("sim") >= F.lit(threshold))
        .select(a_id, b_id, "sim")
    )


def lsh_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: sign-random-projection buckets + exact
    re-rank within the probe's bucket. Recall measured vs brute_force_topk
    in tests; at scale the equi-join on bucket_id replaces the full scan."""
    planes = md5_planes(1, n_planes, dim)[0]
    bucket = _bucket_udf(planes)
    emb_b = embeddings.withColumn("bucket", bucket(F.col(vec_col)))
    probes_b = probes.withColumn("bucket", bucket(F.col("probe_vec")))
    joined = emb_b.join(F.broadcast(probes_b), "bucket")
    sim = cosine_sim(F.col("probe_vec"), F.col(vec_col))
    scored = joined.where(F.col("probe_id") != F.col(id_col)).select(
        "probe_id", F.col(id_col).alias("vec_id"), sim.alias("sim")
    )
    scored = scored.where(F.col("sim").isNotNull())  # zero-norm guard
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _nearest_centroid(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, n: int = 1
) -> DataFrame:
    """Assign every row to its ``n`` nearest centroids by cosine (ties
    broken by centroid id); n=1 is cell assignment, n>1 is multi-cell
    probing. One broadcast of the tiny centroid table, one narrow scoring
    pass, one row_number window keyed on the row id. For n>1 the output has
    n rows per input row — still an equi-join fan-out downstream, never a
    rescan of the corpus."""
    sim = cosine_sim(F.col(vec_col), F.col("cent_vec"))
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col), F.col(vec_col), F.col("cent_id"), sim.alias("csim")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("csim"), F.asc("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select(F.col(id_col), F.col(vec_col), F.col("cent_id").alias("cell"))
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd-refined (trained) IVF centroids: DataFrame
    (cent_id, cent_vec: array<double>).

    Seeds are the ``n_centroids`` smallest-id embeddings (no RNG state to
    ship); each iteration assigns every vector to its nearest centroid by
    cosine (ties by centroid id) and recomputes each cell's per-dimension
    mean. Id-based seeds alone under-recall on clustered real embeddings
    at any fixed n_probe — a seed that lands inside a dense cluster splits
    it while empty regions keep their own cell; Lloyd steps move the
    centroids to the actual cluster centers, so cell boundaries fall in
    low-density regions and a true neighbor is far less likely to sit just
    across one.

    Cross-engine determinism (so a SQL oracle can replay the TRAINING, not
    just the assignment): the mean is computed as an order-free exact sum
    — each component is snapped to the 1e-9 grid (round(v, 9) then
    DECIMAL(20,9)) and summed as decimal, which is exact and associative
    under any partial-aggregation order — then one IEEE divide by the cell
    count, re-rounded to 9 decimals so both engines hold bit-identical
    centroid doubles. Residual divergence risk is the same ~1-ulp argmax
    class the whole ANN family already carries.

    Empty cells simply disappear (both engines mirror the same rule).

    Scale shape: each iteration is one broadcast of the tiny centroid
    table + one narrow assignment pass + one (cell, dim)-keyed aggregate
    whose combine is map-side — O(iters) corpus scans, no pair blowup.
    At 100 TB pass ``sample_n`` to fit on a deterministic content-hash
    sample (the ``md5(id)`` smallest-hash rows — same rows on any engine,
    any partitioning) and assign the full corpus once with the result.
    """
    if sample_n is not None:
        hv = F.conv(F.md5(F.col(id_col).cast("string")).substr(1, 12), 16, 10).cast(
            "long"
        )
        train = (
            embeddings.withColumn("_hv", hv)
            .orderBy("_hv", id_col)
            .limit(sample_n)
            .drop("_hv")
        )
    else:
        train = embeddings
    cents = (
        train.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    for _ in range(n_iters):
        cells = _nearest_centroid(train, cents, id_col, vec_col)
        dims = cells.select("cell", F.posexplode(F.col(vec_col)).alias("i", "v"))
        means = dims.groupBy("cell", "i").agg(
            F.round(
                F.sum(
                    F.round(F.col("v").cast("double"), 9).cast("decimal(20,9)")
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mv")
        )
        cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "mv"))),
                    lambda x: x["mv"],
                ).alias("cent_vec")
            )
            .select(F.col("cell").alias("cent_id"), "cent_vec")
        )
    return cents


def ivf_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 0,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-style coarse-quantization ANN (the inverted-file counterpart to
    lsh_topk): vectors are assigned to the nearest of ``n_centroids``
    DETERMINISTIC centroids — the embeddings with the smallest ids when
    ``n_iters=0``, or those seeds Lloyd-refined ``n_iters`` times via
    :func:`kmeans_centroids` (trained quantizer, still RNG-free and
    SQL-replayable) — and each probe exact-re-ranks its ``n_probe``
    nearest cells.

    n_probe > 1 is the standard IVF recall lever: a true neighbor that
    landed just across a cell boundary is recovered by also searching the
    probe's runner-up cells. The plan cost is exactly proportional — the
    probe side explodes into n_probe rows before the SAME cell equi-join
    (cells are disjoint per vector, so no candidate dedup is needed), and
    the re-rank touches ~n_probe/n_centroids of the corpus per probe.

    Scale shape: the centroid table is a broadcast (assignment is one
    narrow pass over the corpus — no shuffle), the probe-to-candidate join
    is an equi-join on the cell id, and the re-rank touches a cell fraction
    of the corpus per probe instead of all of it. Training (n_iters > 0)
    changes recall, never this plan: the assignment pass is identical
    whatever produced the centroid table.

    Returns (probe_id, vec_id, sim, rank) with rank 1..k by
    (sim desc, vec_id asc), self-matches excluded.

    ``cents`` optionally injects an already-fitted centroid table
    (cent_id, cent_vec) — the production pattern: the quantizer is
    trained once (kmeans_centroids, possibly on a sample) and reused
    across every search; re-fitting per query would repay the O(iters)
    training scans on each call. When provided, ``n_iters`` is ignored.
    """
    if cents is None and n_iters > 0:
        cents = kmeans_centroids(
            embeddings, n_centroids, n_iters, id_col=id_col, vec_col=vec_col
        )
    elif cents is None:
        # the n_centroids SMALLEST ids (not `id < n_centroids`, which
        # silently yields fewer or zero centroids for non-dense /
        # non-zero-based id spaces); tiny by construction, so the
        # sort-limit is negligible
        cents = (
            embeddings.orderBy(F.col(id_col))
            .limit(n_centroids)
            .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        )
    cells = _nearest_centroid(embeddings, cents, id_col, vec_col)
    pcells = _nearest_centroid(
        probes.select(
            F.col("probe_id").alias(id_col), F.col("probe_vec").alias(vec_col)
        ),
        cents,
        id_col,
        vec_col,
        n=n_probe,
    ).select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"), "cell"
    )
    cand = pcells.join(cells, "cell").where(F.col("probe_id") != F.col(id_col))
    sim = cosine_sim(F.col("probe_vec"), F.col(vec_col))
    scored = cand.select(
        "probe_id", F.col(id_col).alias("vec_id"), sim.alias("sim")
    )
    scored = scored.where(F.col("sim").isNotNull())  # zero-norm guard
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pq_codes_df(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 8,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization, the one PQ fit and assignment: a
    fully-distributed, cross-engine-EXACT Lloyd fit per subspace, emitted
    as (id, subspace, code) with one row per (vector, subspace) — the
    integer code table a SQL oracle can replay bit-for-bit. PQ compresses
    a vector to m small integers (m bytes at k<=256) instead of d floats.

    The determinism discipline is kmeans_centroids', applied per
    subspace: seeds are the ``k`` smallest-id vectors' subvectors (code =
    rank of the seed id, no RNG); each Lloyd step assigns every subvector
    to its nearest codeword under SQUARED L2 accumulated as
    round-to-1e-9-grid DECIMAL terms — exact and associative, so the
    argmin (ties -> lowest code) is identical under any partial-agg order
    and on any engine — then recomputes codeword means with the same
    decimal-snapped order-free sum, re-rounded to the 1e-9 grid. Vectors
    are used RAW (cast float->double, value-preserving), not normalized:
    normalization would interpose a sqrt+divide chain whose ulp noise is
    exactly what the exact fit exists to exclude.

    Scale shape: the codeword table is m*k rows (broadcast); each
    iteration is one narrow assignment pass over the (n x m) subvector
    stream plus one (subspace, code, dim)-keyed map-side-combinable
    aggregate — O(iters) corpus scans, no pair blowup, same as IVF
    training. Empty cells disappear on both engines.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if k < 2:
        raise ValueError(f"need k >= 2 codewords (got {k})")
    sub = dim // m
    subs = (
        embeddings.select(F.col(id_col), F.col(vec_col).alias("_v"))
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
            F.col("_v"),
        )
        .withColumn(
            "xs",
            F.expr(
                f"transform(slice(_v, subspace * {sub} + 1, {sub}), "
                "x -> CAST(x AS double))"
            ),
        )
        .drop("_v")
    )
    seed_ids = embeddings.orderBy(F.col(id_col)).limit(k).select(id_col)
    wseed = Window.partitionBy("subspace").orderBy(id_col)
    books = (
        subs.join(F.broadcast(seed_ids), id_col)
        .withColumn("code", F.row_number().over(wseed) - 1)
        .select("subspace", "code", F.col("xs").alias("cw"))
    )

    def assign(books_df: DataFrame) -> DataFrame:
        d2 = F.aggregate(
            F.zip_with(
                F.col("xs"),
                F.col("cw"),
                lambda x, y: F.round((x - y) * (x - y), 9).cast("decimal(20,9)"),
            ),
            F.lit(0).cast("decimal(38,9)"),
            # re-pin the accumulator type: decimal addition widens
            # (38,9)+(20,9) to (38,8); the cast is lossless here (sums of
            # <= dim 1e-9-grid squares never approach 29 integer digits)
            lambda acc, v: (acc + v).cast("decimal(38,9)"),
        )
        # argmin as ONE hash aggregate: min over struct(_d, code) is the
        # (distance asc, code asc) lexicographic winner — decimal compare
        # is exact, ties break to the lowest code, and the partial-agg
        # combine is map-side (a window row_number here would pay a full
        # sort exchange per pass; xs is group-constant, so first() is
        # deterministic in value)
        return (
            subs.join(F.broadcast(books_df), "subspace")
            .withColumn("_d", d2)
            .groupBy(id_col, "subspace")
            .agg(
                F.min(F.struct(F.col("_d"), F.col("code"))).alias("_best"),
                F.first("xs").alias("xs"),
            )
            .select(id_col, "subspace", F.col("_best.code").alias("code"), "xs")
        )

    for _ in range(n_iters):
        assigned = assign(books)
        means = (
            assigned.select(
                "subspace", "code", F.posexplode("xs").alias("i", "v")
            )
            .groupBy("subspace", "code", "i")
            .agg(
                F.round(
                    F.sum(
                        F.round(F.col("v"), 9).cast("decimal(20,9)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("mv")
            )
        )
        books = means.groupBy("subspace", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mv"))),
                lambda x: x["mv"],
            ).alias("cw")
        )
    return assign(books).select(id_col, "subspace", "code")
