"""Clustering-quality metrics beyond pairwise F1: B-cubed and blocking
quality (pair completeness / pair quality / reduction ratio).

Each Spark result is checked against a brute-force per-record / per-pair
python oracle on the same rows — the definitions, not the scalable
identities the DataFrame plans use — so the contingency-cell reformulation
in evaluate.bcubed_df is verified, not assumed.
"""

from __future__ import annotations

import random

import pytest

from hexspark.pipeline.evaluate import bcubed_df, blocking_quality_df


def _bcubed_oracle(assign: dict[str, str], truth: dict[str, str]):
    """Literal per-record B-cubed over the co-assigned universe."""
    ids = sorted(set(assign) & set(truth))
    if not ids:
        return 1.0, 1.0
    p_sum = r_sum = 0.0
    for r in ids:
        cluster = [x for x in ids if assign[x] == assign[r]]
        entity = [x for x in ids if truth[x] == truth[r]]
        overlap = len(set(cluster) & set(entity))
        p_sum += overlap / len(cluster)
        r_sum += overlap / len(entity)
    return p_sum / len(ids), r_sum / len(ids)


def _dfs(spark, assign, truth):
    c = spark.createDataFrame(
        [(k, v) for k, v in assign.items()], "conv_id string, cluster_id string"
    )
    t = spark.createDataFrame(
        [(k, v) for k, v in truth.items()], "conv_id string, entity_id string"
    )
    return c, t


def test_bcubed_perfect_clustering(spark):
    assign = {"a": "1", "b": "1", "c": "2"}
    c, t = _dfs(spark, assign, {"a": "x", "b": "x", "c": "y"})
    row = bcubed_df(c, t).collect()[0]
    assert row["n_records"] == 3
    assert row["bcubed_precision"] == pytest.approx(1.0)
    assert row["bcubed_recall"] == pytest.approx(1.0)
    assert row["bcubed_f1"] == pytest.approx(1.0)


def test_bcubed_known_split():
    # classic example: entity {a,b,c} split into clusters {a,b} and {c}
    assign = {"a": "1", "b": "1", "c": "2"}
    truth = {"a": "x", "b": "x", "c": "x"}
    p, r = _bcubed_oracle(assign, truth)
    assert p == pytest.approx(1.0)  # every cluster is pure
    assert r == pytest.approx((2 / 3 + 2 / 3 + 1 / 3) / 3)


def test_bcubed_vs_oracle_matrix(spark):
    assign = {"a": "1", "b": "1", "c": "1", "d": "2", "e": "2", "f": "3"}
    truth = {"a": "x", "b": "x", "c": "y", "d": "y", "e": "y", "f": "z"}
    c, t = _dfs(spark, assign, truth)
    row = bcubed_df(c, t).collect()[0]
    p, r = _bcubed_oracle(assign, truth)
    assert row["n_records"] == 6
    assert row["bcubed_precision"] == pytest.approx(p)
    assert row["bcubed_recall"] == pytest.approx(r)
    f1 = 2 * p * r / (p + r)
    assert row["bcubed_f1"] == pytest.approx(f1)


def test_bcubed_inner_join_universe(spark):
    # records present on only one side are excluded from the metric
    assign = {"a": "1", "b": "1", "only_clustered": "9"}
    truth = {"a": "x", "b": "x", "only_labeled": "w"}
    c, t = _dfs(spark, assign, truth)
    row = bcubed_df(c, t).collect()[0]
    assert row["n_records"] == 2
    assert row["bcubed_f1"] == pytest.approx(1.0)


def test_bcubed_randomized_trials(spark):
    rng = random.Random(0xB3)
    for trial in range(5):
        n = rng.randint(5, 40)
        ids = [f"r{i}" for i in range(n)]
        assign = {i: str(rng.randint(0, 5)) for i in ids}
        truth = {i: str(rng.randint(0, 4)) for i in ids}
        c, t = _dfs(spark, assign, truth)
        row = bcubed_df(c, t).collect()[0]
        p, r = _bcubed_oracle(assign, truth)
        assert row["bcubed_precision"] == pytest.approx(p), trial
        assert row["bcubed_recall"] == pytest.approx(r), trial


def _pair_df(spark, pairs, extra=None):
    rows = [(a, b) + ((extra[(a, b)],) if extra else ()) for a, b in pairs]
    schema = "conv_id_a string, conv_id_b string" + (
        ", is_match boolean" if extra else ""
    )
    return spark.createDataFrame(rows, schema)


def test_blocking_quality_exact_counts(spark):
    # universe: 6 records -> C(6,2)=15 possible pairs
    labeled = {
        ("a", "b"): True,
        ("a", "c"): True,
        ("d", "e"): True,
        ("e", "f"): False,
        ("b", "c"): False,
    }
    cand = [("a", "b"), ("e", "f"), ("b", "c"), ("x", "y")]  # covers 1 of 3 matches
    lab_df = _pair_df(spark, list(labeled), labeled)
    cand_df = _pair_df(spark, cand)
    n_df = spark.createDataFrame([(6,)], "n long")
    row = blocking_quality_df(lab_df, cand_df, n_df).collect()[0]
    assert row["n_candidates"] == 4
    assert row["n_true_matches"] == 3
    assert row["n_covered"] == 1
    assert row["pair_completeness"] == pytest.approx(1 / 3)
    assert row["pair_quality"] == pytest.approx(1 / 4)
    assert row["reduction_ratio"] == pytest.approx(1 - 4 / 15)


def test_blocking_quality_perfect_blocker(spark):
    labeled = {("a", "b"): True, ("c", "d"): True}
    lab_df = _pair_df(spark, list(labeled), labeled)
    cand_df = _pair_df(spark, [("a", "b"), ("c", "d")])
    n_df = spark.createDataFrame([(4,)], "n long")
    row = blocking_quality_df(lab_df, cand_df, n_df).collect()[0]
    assert row["pair_completeness"] == pytest.approx(1.0)
    assert row["pair_quality"] == pytest.approx(1.0)
    assert row["reduction_ratio"] == pytest.approx(1 - 2 / 6)


def test_blocking_quality_single_action_plan(spark):
    """The metric is one full-outer join + one aggregate + the one-row count
    cross join — no pair-set is ever exploded against the record count."""
    labeled = {("a", "b"): True}
    lab_df = _pair_df(spark, list(labeled), labeled)
    cand_df = _pair_df(spark, [("a", "b")])
    n_df = spark.createDataFrame([(2,)], "n long")
    plan = blocking_quality_df(lab_df, cand_df, n_df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# adjusted_rand_index_df
# ---------------------------------------------------------------------------


def _ari_reference(pred: dict, true: dict) -> float:
    """Literal ARI from the textbook contingency formula (python ints)."""
    from collections import Counter
    from math import comb

    ids = sorted(set(pred) & set(true))
    cells = Counter((pred[i], true[i]) for i in ids)
    a = Counter(pred[i] for i in ids)
    b = Counter(true[i] for i in ids)
    n = len(ids)
    s_cells = sum(comb(o, 2) for o in cells.values())
    s_a = sum(comb(x, 2) for x in a.values())
    s_b = sum(comb(x, 2) for x in b.values())
    exp = s_a * s_b / comb(n, 2)
    mx = (s_a + s_b) / 2
    if mx - exp == 0:
        return 1.0
    return (s_cells - exp) / (mx - exp)


def _asg_dfs(spark, pred: dict, true: dict):
    cl = spark.createDataFrame(
        [(k, v) for k, v in pred.items()], "conv_id string, cluster_id string"
    )
    tr = spark.createDataFrame(
        [(k, v) for k, v in true.items()], "conv_id string, entity_id string"
    )
    return cl, tr


def test_ari_matches_reference_formula(spark):
    from hexspark.pipeline.evaluate import adjusted_rand_index_df

    pred = {f"r{i}": f"c{i // 3}" for i in range(12)}       # clusters of 3
    true = {f"r{i}": f"e{i // 4}" for i in range(12)}       # entities of 4
    row = adjusted_rand_index_df(*_asg_dfs(spark, pred, true)).collect()[0]
    assert row["n_records"] == 12
    assert row["ari"] == pytest.approx(_ari_reference(pred, true), abs=1e-6)


def test_ari_randomized_vs_reference(spark):
    import random

    from hexspark.pipeline.evaluate import adjusted_rand_index_df

    rng = random.Random(17)
    for trial in range(3):
        pred = {f"r{i}": f"c{rng.randint(0, 4)}" for i in range(40)}
        true = {f"r{i}": f"e{rng.randint(0, 3)}" for i in range(40)}
        row = adjusted_rand_index_df(*_asg_dfs(spark, pred, true)).collect()[0]
        assert row["ari"] == pytest.approx(
            _ari_reference(pred, true), abs=1e-6
        ), trial


def test_ari_perfect_and_degenerate(spark):
    from hexspark.pipeline.evaluate import adjusted_rand_index_df

    # identical partitions -> 1.0
    pred = {f"r{i}": f"c{i // 2}" for i in range(8)}
    row = adjusted_rand_index_df(*_asg_dfs(spark, pred, pred)).collect()[0]
    assert row["ari"] == pytest.approx(1.0)
    # both all-singletons -> degenerate denominator -> 1.0 by convention
    singles = {f"r{i}": f"s{i}" for i in range(5)}
    row = adjusted_rand_index_df(*_asg_dfs(spark, singles, singles)).collect()[0]
    assert row["ari"] == pytest.approx(1.0)
    # inner-join universe: records missing from truth are dropped
    pred2 = dict(pred, extra="cX")
    row = adjusted_rand_index_df(*_asg_dfs(spark, pred2, pred)).collect()[0]
    assert row["n_records"] == 8
