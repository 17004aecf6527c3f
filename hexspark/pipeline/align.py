"""B2+ — turn-level alignment: per-turn equality over matched conversations.

The north-star invariant for transcript ER is PER-TURN text equality under
stable (conv_id, turn_idx) ordering (reference semantics: hexhamming's
exact predicates, `/root/reference/test/test_hexhamming.py:12` — equality
is byte-exact, never fuzzy). Document-level SimHash tells us two
conversations are NEAR; this module answers the follow-up a transcript
pipeline actually needs: WHERE do they agree, and is one a resumed /
extended copy of the other? Resumed agent sessions produce exactly this
shape — conversation B replays A's turns verbatim and appends more — and a
dedup decision (drop the prefix, keep the extension) needs the
containment relation, not just a similarity score.

Design (all pure Catalyst — zero UDFs, zero extra shuffles beyond the
one groupBy(conv) every assembly already pays):

  * ``turn_signatures``: one hash aggregate per conversation collects the
    turns, sorts them INSIDE the array by the order columns (sort_array on
    struct — no global sort, no window), and projects each turn to a fixed
    32-char md5 of its content columns. Long turn texts ride exactly one
    exchange (the groupBy) and are then dropped; everything downstream
    compares 16-byte digests.
  * ``opening_block_pairs``: self equi-join on the hash of the first k
    turn digests — conversations can only be prefix/exact duplicates if
    they OPEN identically, so the opening prefix is a lossless blocking
    key for containment at >= k turns. Demo-grade: hot boilerplate
    openers (a universal system prompt) collapse it into one block.
  * ``prefix_block_pairs``: the production blocker — a per-depth prefix
    index (linear in total turns) probed at each conversation's exact
    length, lossless at ANY length and immune to shared openers (see its
    docstring for the depth_cap trade).
  * ``align_pairs``: attach the two digest arrays to any candidate pair
    stream (two conv-keyed hash joins) and classify in projections:
    n_aligned = equal positions over the common prefix (zip_with pads the
    shorter array with NULL; NULL comparisons are dropped by filter), then
      exact   — same length, every position equal
      prefix  — the shorter is a verbatim prefix of the longer
      partial — anything else (n_aligned still reported)

At 100 TB: turn_signatures is one map-side-combinable aggregate; the
digest arrays are ~32B x n_turns per conversation and join-key-partitioned
thereafter; align_pairs adds two hash joins on conv ids and NO Python
boundary, so alignment of a 10^9-pair candidate stream is a codegen map
stage over fixed-width digests.

NULL/content semantics: content columns are cast to string and
coalesced to '' before hashing (concat_ws would silently skip NULLs and
alias ("a", NULL) with ("a") across columns otherwise); a NULL text and an
empty text therefore hash equal — documented, deliberate, and mirrored in
the DuckDB oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: unit separator — keeps ("ab","c") and ("a","bc") from colliding when
#: multiple content columns are concatenated into one digest input.
_US = "\x1f"


def turn_signatures(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    order_cols: Sequence[str] = ("turn_idx",),
    content_cols: Sequence[str] = ("role", "text"),
) -> DataFrame:
    """(conv_id, ...turns...) -> (conv_id, turn_hashes array<string>,
    n_turns int). ``order_cols`` must totally order turns within a
    conversation (turn_idx is unique per conv; for event streams use
    (ts, event_id)) — the digest never participates in the sort.
    One hash aggregate; no window, no global sort."""
    digest = F.md5(
        F.concat_ws(
            _US,
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in content_cols],
        )
    )
    turn = F.struct(
        *[F.col(c) for c in order_cols],
        digest.alias("_h"),
    )
    ordered = F.sort_array(F.collect_list(turn))
    return transcripts.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.transform(ordered, lambda s: s["_h"]).alias("turn_hashes"),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
    )


def opening_block_pairs(sigs: DataFrame, k: int = 2) -> DataFrame:
    """Candidate pairs for containment: conversations whose first ``k``
    turn digests are identical. Lossless for prefix/exact duplicates with
    >= k turns (a containment pair agrees on EVERY common-prefix position,
    so in particular on the first k). Output: (conv_id_a, conv_id_b),
    a < b, exactly once. The block key is one md5 over the k digests —
    a band-key-shaped equi-join, same skew envelope as LSH banding."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    keyed = sigs.where(F.size("turn_hashes") >= k).select(
        "conv_id",
        F.md5(F.array_join(F.slice("turn_hashes", 1, k), "")).alias("_bk"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return a.join(
        b,
        (F.col("a._bk") == F.col("b._bk")) & (F.col("a.conv_id") < F.col("b.conv_id")),
    ).select(
        F.col("a.conv_id").alias("conv_id_a"),
        F.col("b.conv_id").alias("conv_id_b"),
    )


def align_pairs(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Attach turn-level alignment to candidate pairs.

    Input: pairs(conv_id_a, conv_id_b [, ...passthrough]) + the
    ``turn_signatures`` table. Output adds
      n_turns_a, n_turns_b  — conversation lengths,
      n_aligned             — positions i where turn i of a == turn i of b
                              (over the common prefix length),
      relationship          — 'exact' | 'prefix' | 'partial'.
    Two conv-keyed hash joins + projections; no Python, no shuffle beyond
    the joins."""
    a = sigs.select(
        F.col("conv_id").alias("conv_id_a"),
        F.col("turn_hashes").alias("_ha"),
        F.col("n_turns").alias("n_turns_a"),
    )
    b = sigs.select(
        F.col("conv_id").alias("conv_id_b"),
        F.col("turn_hashes").alias("_hb"),
        F.col("n_turns").alias("n_turns_b"),
    )
    # zip_with pads the shorter array with NULL; x == NULL is NULL and
    # filter() keeps only TRUE, so the count runs over the common prefix.
    n_aligned = F.size(
        F.filter(F.zip_with("_ha", "_hb", lambda x, y: x == y), lambda v: v)
    )
    rel = (
        F.when(
            (F.col("n_aligned") == F.col("n_turns_a"))
            & (F.col("n_turns_a") == F.col("n_turns_b")),
            F.lit("exact"),
        )
        .when(
            F.col("n_aligned") == F.least("n_turns_a", "n_turns_b"),
            F.lit("prefix"),
        )
        .otherwise(F.lit("partial"))
    )
    return (
        pairs.join(a, "conv_id_a")
        .join(b, "conv_id_b")
        .withColumn("n_aligned", n_aligned)
        .withColumn("relationship", rel)
        .drop("_ha", "_hb")
    )


def prefix_block_pairs(sigs: DataFrame, depth_cap: int = 256) -> DataFrame:
    """Containment candidates via a PREFIX INDEX — the boilerplate-proof
    scale path (opening_block_pairs degenerates when every conversation
    opens with the same system prompt: one giant block).

    Construction: every conversation INDEXES one key per depth d in
    1..n_turns — (d, digest of its first min(d, depth_cap) turn digests)
    — and PROBES once at exactly its own full length. A containment pair
    (short ⊆ long) agrees on every position <= |short|, so the long side's
    index key at depth |short| equals the short side's probe key: the join
    is LOSSLESS for containment at ANY length (including 1-turn prefixes
    the opening blocker's k >= 2 floor missed), and a non-contained pair
    can only collide if its first min(d, depth_cap) turns are identical —
    beyond depth_cap that residual is real (conversations sharing
    depth_cap identical opening turns block together; raise the cap or
    let AQE split the block), below it the key is the full prefix and
    false candidates require an md5 collision. Downstream align_pairs
    verification discards any such collision, so correctness never rests
    on the blocking.

    Cost: index rows = Σ n_turns (LINEAR in corpus turns, one row per
    turn); prefix digests are materialized once per conversation up to
    depth_cap (O(depth_cap²) bytes transient per conversation — the cap
    exists exactly to bound this). No self-join on conversations: the
    join is probe × index on the fine-grained (depth, digest) key.

    Output: (conv_id_a, conv_id_b), a < b, exactly once — every true
    containment pair present.
    """
    if depth_cap < 1:
        raise ValueError(f"depth_cap must be >= 1 (got {depth_cap})")
    cap = F.least(F.size("turn_hashes"), F.lit(depth_cap))
    pref = F.transform(
        F.sequence(F.lit(1), cap),
        lambda d: F.md5(F.array_join(F.slice("turn_hashes", F.lit(1), d), "")),
    )
    based = sigs.select("conv_id", "n_turns", pref.alias("_pref"))
    probe = based.select(
        F.col("conv_id").alias("_conv_s"),
        F.col("n_turns").alias("_d"),
        F.element_at("_pref", F.least(F.col("n_turns"), F.lit(depth_cap))).alias(
            "_key"
        ),
    )
    idx = based.select(
        F.col("conv_id").alias("_conv_l"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_turns")),
                lambda d: F.element_at("_pref", F.least(d, F.lit(depth_cap))),
            )
        ).alias("_pos", "_key"),
    ).select("_conv_l", (F.col("_pos") + 1).alias("_d"), "_key")
    return (
        probe.join(idx, ["_d", "_key"])
        .where(F.col("_conv_s") != F.col("_conv_l"))
        .select(
            F.least("_conv_s", "_conv_l").alias("conv_id_a"),
            F.greatest("_conv_s", "_conv_l").alias("conv_id_b"),
        )
        .distinct()
    )


def contained_map(sigs: DataFrame, depth_cap: int = 256) -> DataFrame:
    """The containment DEDUP decision: which conversations to drop, and
    which surviving container stands in for each.

    Drop rule: a conversation is dropped iff it is a strict prefix of some
    other conversation (the resumed copy supersedes it), or an exact
    duplicate of one with a smaller conv_id (min-id copy survives).
    Representative rule: among a dropped conversation's containers, take
    the one with the most turns, tiebroken by smallest conv_id.

    The representative PROVABLY survives: if rep R of d were itself
    dropped, its own container S (longer, or same-length with smaller id)
    also contains d — containment composes through prefixes, and the pair
    (d, S) is guaranteed present because the prefix-index blocking is
    lossless for containment — so the (n_turns DESC, conv_id ASC)
    argmax would have chosen S over R. Hence contained_map needs no
    chain-chasing iteration: one aligned-pair pass + one per-conv top-1
    window.

    Output: (conv_id, rep_id, n_turns, rep_n_turns) — one row per DROPPED
    conversation.
    """
    aligned = align_pairs(prefix_block_pairs(sigs, depth_cap=depth_cap), sigs).where(
        F.col("relationship") != "partial"
    )
    ab = aligned.select(
        F.col("conv_id_a").alias("conv_id"),
        F.col("conv_id_b").alias("rep_id"),
        F.col("n_turns_a").alias("n"),
        F.col("n_turns_b").alias("rep_n"),
        "relationship",
    )
    ba = aligned.select(
        F.col("conv_id_b").alias("conv_id"),
        F.col("conv_id_a").alias("rep_id"),
        F.col("n_turns_b").alias("n"),
        F.col("n_turns_a").alias("rep_n"),
        "relationship",
    )
    dropped = ab.unionByName(ba).where(
        (F.col("n") < F.col("rep_n"))
        | (
            (F.col("relationship") == "exact")
            & (F.col("conv_id") > F.col("rep_id"))
        )
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("rep_n"), F.asc("rep_id"))
    return (
        dropped.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            "conv_id",
            "rep_id",
            F.col("n").alias("n_turns"),
            F.col("rep_n").alias("rep_n_turns"),
        )
    )
