"""Fellegi-Sunter probabilistic scoring (pipeline/fs): match weights,
the threshold gate, and EM parameter estimation."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from hexspark.pipeline.fs import FieldParams, estimate_mu, match_weight

_PARAMS = {
    "agr_name": FieldParams(m=0.95, u=0.05),
    "agr_city": FieldParams(m=0.80, u=0.20),
    "agr_year": FieldParams(m=0.90, u=0.30),
}


def _w(agree: dict[str, bool | None]) -> float:
    total = 0.0
    for c, fp in _PARAMS.items():
        g = agree[c]
        if g is None:
            continue
        total += math.log2(fp.m / fp.u) if g else math.log2((1 - fp.m) / (1 - fp.u))
    return total


@pytest.fixture(scope="module")
def pair_df(spark):
    rows = [
        (1, True, True, True),
        (2, True, False, True),
        (3, False, False, False),
        (4, True, None, False),
        (5, None, None, None),
    ]
    return spark.createDataFrame(
        rows, "pair_id long, agr_name boolean, agr_city boolean, agr_year boolean"
    )


def test_match_weight_values(spark, pair_df):
    got = {
        r["pair_id"]: r["fs_weight"]
        for r in match_weight(pair_df, _PARAMS).collect()
    }
    rows = pair_df.collect()
    for r in rows:
        want = _w({c: r[c] for c in _PARAMS})
        assert got[r["pair_id"]] == pytest.approx(want), r["pair_id"]
    # all-null pair scores exactly 0
    assert got[5] == pytest.approx(0.0)


def test_match_weight_plan_is_projection(spark, pair_df):
    plan = (
        match_weight(pair_df, _PARAMS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure projection, no shuffle
    assert "BatchEvalPython" not in plan


def test_param_validation(spark, pair_df):
    with pytest.raises(ValueError):
        match_weight(pair_df, {"agr_name": FieldParams(m=1.0, u=0.1)})


def test_em_recovers_planted_parameters(spark):
    """Pairs drawn from a known two-class FS model: EM must recover m, u,
    and the prevalence p within a loose tolerance (EM converges to the
    data-generating parameters given enough pairs + separation)."""
    rng = random.Random(0xF5)
    true_m = {"a": 0.92, "b": 0.85, "c": 0.75}
    true_u = {"a": 0.08, "b": 0.15, "c": 0.30}
    true_p = 0.25
    rows = []
    for i in range(8000):
        is_match = rng.random() < true_p
        src = true_m if is_match else true_u
        rows.append(
            (i, rng.random() < src["a"], rng.random() < src["b"], rng.random() < src["c"])
        )
    df = spark.createDataFrame(
        rows, "pair_id long, a boolean, b boolean, c boolean"
    )
    params, p = estimate_mu(df, ["a", "b", "c"])
    assert p == pytest.approx(true_p, abs=0.05)
    for f in ("a", "b", "c"):
        assert params[f].m == pytest.approx(true_m[f], abs=0.07), f
        assert params[f].u == pytest.approx(true_u[f], abs=0.07), f


def test_em_handles_nulls(spark):
    rng = random.Random(0xE)
    rows = []
    for i in range(2000):
        is_match = rng.random() < 0.3
        a = rng.random() < (0.9 if is_match else 0.1)
        b = None if rng.random() < 0.3 else rng.random() < (0.9 if is_match else 0.1)
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "pair_id long, a boolean, b boolean")
    params, p = estimate_mu(df, ["a", "b"])
    assert 0.1 < p < 0.5
    assert params["b"].m > 0.7 and params["b"].u < 0.3


def test_em_then_classify_end_to_end(spark):
    """The production loop: estimate parameters from unlabeled pairs, then
    weigh the pairs with them — planted matches clear the weight-2 match
    gate, planted non-matches almost never do."""
    rng = random.Random(0x7)
    rows = []
    for i in range(4000):
        is_match = i % 4 == 0
        rows.append(
            (
                i,
                is_match,
                rng.random() < (0.95 if is_match else 0.05),
                rng.random() < (0.9 if is_match else 0.1),
                rng.random() < (0.85 if is_match else 0.2),
            )
        )
    df = spark.createDataFrame(
        rows, "pair_id long, truth boolean, a boolean, b boolean, c boolean"
    )
    params, _ = estimate_mu(df, ["a", "b", "c"])
    out = match_weight(df, params)
    agg = (
        out.groupBy("truth", (F.col("fs_weight") >= 2.0).alias("is_match"))
        .count()
        .collect()
    )
    tally = {(r["truth"], r["is_match"]): r["count"] for r in agg}
    n_match_right = tally.get((True, True), 0)
    n_match_all = sum(v for (t, _), v in tally.items() if t)
    n_non_wrong = tally.get((False, True), 0)
    n_non_all = sum(v for (t, _), v in tally.items() if not t)
    assert n_match_right / n_match_all > 0.8
    assert n_non_wrong / n_non_all < 0.05


# ---------------------------------------------------------------------------
# Production composition: FS over the wide pair stream
# ---------------------------------------------------------------------------


def test_default_threshold_is_prior_log_odds(spark):
    from hexspark.pipeline.fs import default_threshold

    assert default_threshold(0.5) == 0.0
    assert default_threshold(0.2) == pytest.approx(2.0)
    for bad in (0.0, 1.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            default_threshold(bad)


def test_params_json_roundtrip(spark):
    from hexspark.pipeline.fs import params_from_json, params_to_json

    params = dict(_PARAMS)
    d = params_to_json(params, 0.07)
    back, p = params_from_json(d)
    assert p == 0.07 and back == params


def _wide_pairs(spark):
    """Two wide pair rows: a near-dup (2 bits off inside one chunk) and a
    far pair (every chunk ~half flipped), canon prefix agreeing on the
    near-dup only."""
    near_a = [0x0F0F0F0F] * 8
    near_b = [0x0F0F0F0C] + [0x0F0F0F0F] * 7  # 2 bits in chunk 0
    far_b = [0x0F0F0F00] * 8  # XOR = 0x0F per chunk: 4 bits off -> dist 32
    rows = [
        tuple(["n1", "n2", "same prefix here....", "same prefix here...."] + near_a + near_b),
        tuple(["f1", "f2", "one prefix here.....", "two prefix here....."] + near_a + far_b),
    ]
    cols = "conv_id_a string, conv_id_b string, canon_a string, canon_b string, " + ", ".join(
        f"c{i}_a long" for i in range(8)
    ) + ", " + ", ".join(f"c{i}_b long" for i in range(8))
    # interleave: c{i}_a then c{i}_b column order must match row layout
    rows = [
        (r[0], r[1], r[2], r[3], *r[4:12], *r[12:20]) for r in rows
    ]
    return spark.createDataFrame(rows, cols)


def test_wide_pair_agreements_fields(spark):
    from hexspark.pipeline.fs import wide_pair_agreements

    df, names = wide_pair_agreements(_wide_pairs(spark), chunk_dist=4)
    assert names == [f"agree_c{i}" for i in range(8)] + ["agree_canon"]
    rows = {r["conv_id_a"]: r for r in df.collect()}
    near = rows["n1"]
    assert near["hamming_dist"] == 2
    assert all(near[f"agree_c{i}"] for i in range(8))  # 2 bits <= 4
    assert near["agree_canon"]
    far = rows["f1"]
    assert far["hamming_dist"] == 32
    assert all(far[f"agree_c{i}"] for i in range(8))  # exactly 4 bits each
    assert not far["agree_canon"]
    # tighter radius flips the far pair's chunk fields but not the near's
    df3, _ = wide_pair_agreements(_wide_pairs(spark), chunk_dist=3)
    rows3 = {r["conv_id_a"]: r for r in df3.collect()}
    assert all(rows3["n1"][f"agree_c{i}"] for i in range(8))
    assert not any(rows3["f1"][f"agree_c{i}"] for i in range(8))


def test_score_wide_fs_gates_and_schema(spark):
    from hexspark.pipeline.fs import score_wide_fs

    params = {f"agree_c{i}": FieldParams(m=0.9, u=0.1) for i in range(8)}
    params["agree_canon"] = FieldParams(m=0.9, u=0.1)
    out = score_wide_fs(_wide_pairs(spark), params, threshold=0.0, chunk_dist=3)
    assert out.columns == ["conv_id_a", "conv_id_b", "hamming_dist", "fs_weight"]
    got = {r["conv_id_a"]: r["fs_weight"] for r in out.collect()}
    # near pair: all 9 fields agree -> weight 9*log2(9) > 0 -> kept
    assert got == {"n1": pytest.approx(9 * math.log2(9))}
    with pytest.raises(ValueError, match="missing fields"):
        score_wide_fs(_wide_pairs(spark), {"agree_c0": FieldParams(0.9, 0.1)}, 0.0)


def test_score_wide_fs_plan_has_no_python_stage(spark):
    """The FS scorer must stay entirely inside codegen: no BatchEvalPython /
    ArrowEvalPython / mapInArrow stage anywhere in the plan (the blend
    path's Jaro-Winkler kernel is replaced by the canon-prefix field)."""
    from hexspark.pipeline.fs import score_wide_fs

    params = {f"agree_c{i}": FieldParams(m=0.9, u=0.1) for i in range(8)}
    params["agree_canon"] = FieldParams(m=0.9, u=0.1)
    plan = (
        score_wide_fs(_wide_pairs(spark), params, threshold=0.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonMapInArrow", "MapInPandas"):
        assert marker not in plan, marker


# ---------------------------------------------------------------------------
# Term-frequency adjustment
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tf_records(spark):
    # 8 non-null values: 'smith' x 5 (tf=0.625), 'jones' x 2 (tf=0.25),
    # 'xanthopoulos' x 1 (tf=0.125); one NULL excluded from the table.
    rows = [(i, v) for i, v in enumerate(
        ["smith"] * 5 + ["jones"] * 2 + ["xanthopoulos"] + [None]
    )]
    return spark.createDataFrame(rows, "rec_id long, surname string")


def test_term_frequencies_values(spark, tf_records):
    from hexspark.pipeline.fs import term_frequencies

    got = {r["value"]: r for r in term_frequencies(tf_records, "surname").collect()}
    assert set(got) == {"smith", "jones", "xanthopoulos"}
    assert got["smith"]["tf_cnt"] == 5 and got["smith"]["tf_n"] == 8
    assert got["smith"]["tf"] == pytest.approx(5 / 8)
    assert got["xanthopoulos"]["tf"] == pytest.approx(1 / 8)


def test_tf_adjusted_weight_values(spark, tf_records):
    from hexspark.pipeline.fs import term_frequencies, tf_adjusted_weight

    fp = FieldParams(m=0.9, u=0.3)
    tfs = term_frequencies(tf_records, "surname")
    pairs = spark.createDataFrame(
        [
            (1, True, "xanthopoulos"),   # rare agreement: strong evidence
            (2, True, "smith"),          # common agreement: weak / negative
            (3, False, None),            # disagreement: unchanged
            (4, None, None),             # null: 0
        ],
        "pair_id long, agr boolean, val string",
    )
    out = tf_adjusted_weight(pairs, "agr", F.col("val"), fp, tfs, "w_tf")
    got = {r["pair_id"]: r["w_tf"] for r in out.collect()}
    assert got[1] == pytest.approx(math.log2(0.9 / (1 / 8)))
    assert got[2] == pytest.approx(math.log2(0.9 / (5 / 8)))
    assert got[3] == pytest.approx(math.log2(0.1 / 0.7))
    assert got[4] == pytest.approx(0.0)
    # rare-value agreement strictly outweighs the field average, common
    # value strictly under it
    base = math.log2(fp.m / fp.u)
    assert got[1] > base > got[2]


def test_tf_adjustment_reduces_to_base_weight_when_uniform(spark):
    """If every value is equally common and u == tf, the adjusted term
    equals the classical field-average weight exactly."""
    from hexspark.pipeline.fs import term_frequencies, tf_adjusted_weight

    recs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(["a", "b", "c", "d"])],
        "rec_id long, f string",
    )
    fp = FieldParams(m=0.8, u=0.25)  # u == tf == 1/4
    tfs = term_frequencies(recs, "f")
    pairs = spark.createDataFrame(
        [(1, True, "a"), (2, True, "d"), (3, False, None)],
        "pair_id long, agr boolean, val string",
    )
    out = tf_adjusted_weight(pairs, "agr", F.col("val"), fp, tfs, "w_tf")
    base = match_weight(
        pairs.select("pair_id", F.col("agr").alias("agr_f")),
        {"agr_f": fp},
    )
    got = {r["pair_id"]: r["w_tf"] for r in out.collect()}
    want = {r["pair_id"]: r["fs_weight"] for r in base.collect()}
    for pid in got:
        assert got[pid] == pytest.approx(want[pid], abs=1e-12), pid


def test_tf_adjusted_weight_plan_broadcasts(spark, tf_records):
    """The frequency probe must be a broadcast hash join — the pair stream
    must not gain an exchange from the adjustment."""
    from hexspark.pipeline.fs import term_frequencies, tf_adjusted_weight

    fp = FieldParams(m=0.9, u=0.3)
    tfs = term_frequencies(tf_records, "surname")
    pairs = spark.createDataFrame(
        [(1, True, "smith")], "pair_id long, agr boolean, val string"
    )
    out = tf_adjusted_weight(pairs, "agr", F.col("val"), fp, tfs, "w_tf")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
