"""Streaming probe service — the two-stage cluster probe
(pipeline/probe.probe_clusters) as an always-on Structured Streaming
query, answered by ONE Arrow-vectorized pass over the probe rows.

Shape of the problem: a resolved corpus snapshot (clusters + signatures,
rebuilt nightly by the batch pipeline) serves an unbounded stream of probe
requests ("which entities is THIS new signature within max_dist of?" —
A4's 1-vs-many, python_hexhamming.cc:246-284, made sublinear and
continuous). The corpus side is static per snapshot; the probe side is
the stream. So the snapshot is turned into an in-memory index once, and
every batch or micro-batch is a single `probes.mapInArrow(...)`: no join,
no shuffle, no state store, one Spark job per request, and the same plan
for a batch and a streaming `probes` frame.

The snapshot index (built on the driver on first use, then broadcast):
  * the representatives' signatures as an (R, 32) uint8 matrix, their
    radii and cluster ids;
  * per band, the representatives' lowercase hex band values sorted, with
    the permutation back to representative rows — the band index;
  * the members' signatures and conv ids grouped by representative as CSR
    offsets, so a surviving cluster's members are one contiguous slice.

Per probe batch (the join plan's rules, on numpy):
  1. decode sig_hex case-insensitively; a null, non-64-char or non-hex
     sig_hex yields no rows (it never fails the task, so it cannot kill a
     live stream);
  2. band screen: a representative is a candidate iff at least one of the
     n_bands hex bands is equal (one searchsorted per band); each
     (probe, rep) pair is kept once however many bands agree;
  3. triangle screen: dist(probe, rep) <= max_dist + radius, as in the
     batch probe_clusters;
  4. verify: dist(probe, member) <= max_dist over the surviving clusters'
     CSR slices.
Distances are kernels.hamming_bytes_matrix, the scoring layer's kernel.

Recall contract: a qualifying member's representative sits within
max_dist + radius of the probe; the band screen is GUARANTEED to surface
it when max_dist + radius(cluster) < n_bands (pigeonhole over the 256-bit
signature), i.e. tight clusters are probed EXACTLY; looser clusters
degrade to LSH-probabilistic recall — same trade the batch blocking layer
makes, with pipeline/probe.probe_clusters as the exact batch fallback.
"""

from __future__ import annotations

import threading
import weakref
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from hexspark import arrow_kernels as ak
from hexspark import kernels

SIG_HEX_CHARS = 64
PROBE_DDL = "probe_id string, sig_hex string"

# (id(reps), id(members), n_bands) -> Broadcast of the snapshot index: a
# cache weakly keyed on the two DataFrames. An entry lives exactly as long
# as both of them, because a finalizer on each drops it, so a recycled id()
# can never answer from a stale snapshot. The lock keeps concurrent first
# requests on one snapshot from building it twice.
_SNAPSHOTS: dict = {}
_BUILD_LOCK = threading.Lock()


def _decode_sigs(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """sig_hex column -> (ok mask, (n, 32) uint8 signatures), case-
    insensitive. A row is ok iff it is non-null, 64 bytes long and every
    char is in [0-9a-fA-F]: the re-encoded lowercase hex must equal the
    input with its case bit set, which also rejects the chars that
    decode_hex_nibbles' case folding maps into range ('@', '`')."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    ok = pc.fill_null(pc.equal(pc.binary_length(arr), SIG_HEX_CHARS), False)
    ok = ok.to_numpy(zero_copy_only=False)
    chars = ak.ascii_padded_matrix(arr, SIG_HEX_CHARS)
    nib, _ = kernels.decode_hex_nibbles(chars)
    nib = nib.astype(np.uint8) & 0x0F
    sig = (nib[:, 0::2] << 4) | nib[:, 1::2]
    ok &= ((chars | 0x20) == kernels.hex_chars_matrix(sig)).all(axis=1)
    return ok, sig


def _band_keys(sig: np.ndarray, n_bands: int) -> np.ndarray:
    """(n, n_bands) fixed-width bytes: each signature's lowercase hex band
    values, comparable and sortable as numpy 'S' strings (hex chars are
    never NUL, so no value is shortened)."""
    w = SIG_HEX_CHARS // n_bands
    return kernels.hex_chars_matrix(sig).view(f"S{w}")


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of arange(s, s + c) for each (s, c), vectorized."""
    ends = np.cumsum(counts)
    return np.repeat(starts - (ends - counts), counts) + np.arange(counts.sum())


def _build_index(reps: DataFrame, members: DataFrame, n_bands: int) -> dict:
    rep_t = reps.select("cluster_id", "sig_hex", "radius").toArrow()
    ok, rep_sig = _decode_sigs(rep_t.column("sig_hex"))
    ok &= rep_t.column("radius").is_valid().to_numpy(zero_copy_only=False)
    keep = np.flatnonzero(ok)
    rep_sig = rep_sig[keep]
    rep_cluster = rep_t.column("cluster_id").combine_chunks().take(keep)
    radius = rep_t.column("radius").to_numpy()[keep].astype(np.int64)

    mem_t = members.select("cluster_id", "conv_id", "sig_hex").toArrow()
    mem_ok, mem_sig = _decode_sigs(mem_t.column("sig_hex"))
    rep_of = pc.index_in(mem_t.column("cluster_id"), value_set=rep_cluster)
    mem_ok &= rep_of.is_valid().to_numpy(zero_copy_only=False)
    rep_of = pc.fill_null(rep_of, 0).to_numpy()
    rows = np.flatnonzero(mem_ok)
    rows = rows[np.argsort(rep_of[rows], kind="stable")]
    offsets = np.zeros(len(keep) + 1, dtype=np.int64)
    np.cumsum(np.bincount(rep_of[rows], minlength=len(keep)), out=offsets[1:])

    keys = _band_keys(rep_sig, n_bands)
    order = np.argsort(keys, axis=0, kind="stable")
    return {
        "n_bands": n_bands,
        "band_keys": np.take_along_axis(keys, order, axis=0),
        "band_order": order,
        "rep_sig": rep_sig,
        "radius": radius,
        "rep_cluster": rep_cluster,
        "offsets": offsets,
        "mem_sig": mem_sig[rows],
        "mem_conv": mem_t.column("conv_id").combine_chunks().take(rows),
    }


def _snapshot_index(reps: DataFrame, members: DataFrame, n_bands: int):
    key = (id(reps), id(members), n_bands)
    with _BUILD_LOCK:
        bc = _SNAPSHOTS.get(key)
        if bc is None:
            index = _build_index(reps, members, n_bands)
            bc = reps.sparkSession.sparkContext.broadcast(index)
            _SNAPSHOTS[key] = bc
            for df in (reps, members):
                weakref.finalize(df, _release, key).atexit = False
    return bc


def _release(key) -> None:
    bc = _SNAPSHOTS.pop(key, None)
    if bc is not None and SparkContext._active_spark_context is bc._sc:
        # unpersist, not destroy: a running stream's plan still holds the
        # broadcast and refetches it; Spark's ContextCleaner frees the
        # driver copy once no plan references it
        bc.unpersist()


def _match(index: dict, sig: np.ndarray, max_dist: int):
    """(probe row, rep row, member row, dist) of every match of the
    decoded probes `sig` against the index, each match once."""
    n_reps = len(index["radius"])
    keys = _band_keys(sig, index["n_bands"])
    pairs = []
    for b in range(index["n_bands"]):
        col = index["band_keys"][:, b]
        lo = np.searchsorted(col, keys[:, b], side="left")
        hi = np.searchsorted(col, keys[:, b], side="right")
        reps = index["band_order"][_ranges(lo, hi - lo), b]
        pairs.append(np.repeat(np.arange(len(sig)), hi - lo) * n_reps + reps)
    # a (probe, rep) pair agreeing on several bands is screened once
    pair = np.unique(np.concatenate(pairs))
    p, r = pair // n_reps, pair % n_reps
    d = kernels.hamming_bytes_matrix(sig[p], index["rep_sig"][r])
    near = d <= max_dist + index["radius"][r]
    p, r = p[near], r[near]

    offsets = index["offsets"]
    counts = offsets[r + 1] - offsets[r]
    m = _ranges(offsets[r], counts)
    p, r = np.repeat(p, counts), np.repeat(r, counts)
    d = kernels.hamming_bytes_matrix(sig[p], index["mem_sig"][m])
    hit = d <= max_dist
    return p[hit], r[hit], m[hit], d[hit]


def probe_stream(
    probes: DataFrame,
    reps: DataFrame,
    members: DataFrame,
    max_dist: int,
    n_bands: int = 16,
) -> DataFrame:
    """probes(probe_id, sig_hex) [streaming] x corpus snapshot -> matches.

    reps: pipeline.probe.reps_with_radius output
    (cluster_id, sig_hex, n_members, radius) — static.
    members: (cluster_id, conv_id, sig_hex) — static.

    Returns a DataFrame (probe_id, conv_id, cluster_id, dist long): every
    corpus member within max_dist of each probe (exact for clusters with
    radius < n_bands - max_dist; see module docstring), each match once.
    Works on a batch `probes` too — the plan is identical, which is how the
    tests pin stream ≡ batch.

    The first call for a (reps, members, n_bands) collects both tables to
    the driver and broadcasts an index of them, a snapshot of their content
    at that moment. Later calls with the same two DataFrame objects reuse
    it. When either object is garbage-collected the entry is dropped and
    the broadcast unpersisted; a stream already running on it keeps
    working. Size rule: the index takes about 112 + 8 * n_bands bytes per
    representative and 32 bytes per member, plus the ids, and building it
    holds both collected tables on the driver. So reps and members must
    fit in driver memory and under spark.driver.maxResultSize, and the
    index in every Python worker's memory.
    """
    if SIG_HEX_CHARS % n_bands != 0:
        raise ValueError(f"n_bands must divide {SIG_HEX_CHARS}, got {n_bands}")
    bc = _snapshot_index(reps, members, n_bands)
    schema = T.StructType(
        [
            probes.schema["probe_id"],
            members.schema["conv_id"],
            reps.schema["cluster_id"],
            T.StructField("dist", T.LongType()),
        ]
    )

    def answer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        index = bc.value
        for batch in batches:
            ok, sig = _decode_sigs(batch.column("sig_hex"))
            rows = np.flatnonzero(ok)
            p, r, m, d = _match(index, sig[rows], max_dist)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("probe_id").take(rows[p]),
                    index["mem_conv"].take(m),
                    index["rep_cluster"].take(r),
                    pa.array(d, type=pa.int64()),
                ],
                names=["probe_id", "conv_id", "cluster_id", "dist"],
            )

    return probes.select("probe_id", "sig_hex").mapInArrow(answer, schema)


def probe_file_stream(
    spark,
    probe_dir: str,
    reps: DataFrame,
    members: DataFrame,
    workdir: str,
    max_dist: int,
    n_bands: int = 16,
):
    """File-fed probe service: parquet probe requests landing in probe_dir
    are answered into <workdir>/matches (append, exactly-once via the file
    source checkpoint at <workdir>/_probe_chk). availableNow trigger so
    tests and batch-drain operation finish; drop .trigger for a live
    service. Returns the started StreamingQuery."""
    stream = spark.readStream.schema(PROBE_DDL).parquet(probe_dir)
    matches = probe_stream(stream, reps, members, max_dist, n_bands=n_bands)
    return (
        matches.writeStream.format("parquet")
        .option("path", f"{workdir}/matches")
        .option("checkpointLocation", f"{workdir}/_probe_chk")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
