"""Product quantization (ops/ann.pq_codes_df), the one PQ fit and
assignment: exact parity with a driver-numpy replay of the same
decimal-grid algorithm, determinism across invocations, and guards."""

from __future__ import annotations

import numpy as np
import pytest

from hexspark.ops.ann import pq_codes_df


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((200, 64)).astype(np.float32)
    vecs[100:120] = vecs[:20] + 0.05 * rng.standard_normal((20, 64)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    return df, vecs


def test_pq_codes_df_matches_numpy_replay(spark, embeddings):
    """The distributed decimal-exact fit+assign (pq_codes_df) agrees with
    a driver-numpy replay of the same algorithm (raw vectors, smallest-id
    seeds, snapped means, squared-L2 argmin with ties to lowest code) —
    and is deterministic across invocations."""
    df, vecs = embeddings
    m, k, sub = 4, 8, 16
    out = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in pq_codes_df(df, dim=64, m=m, k=k, n_iters=1).collect()
    }
    assert len(out) == 200 * m

    x = vecs.astype(np.float64)  # float32 -> float64 cast is exact
    books = np.stack(
        [x[:k, j * sub : (j + 1) * sub].copy() for j in range(m)]
    )  # seeds: k smallest ids (fixture ids are 0..199 in order)

    def snap(a):
        return np.round(a, 9)

    def assign(bks):
        codes = np.empty((200, m), dtype=int)
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            # decimal-grid squared L2, summed exactly like the engines
            d = snap((xs[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)  # ties -> lowest code
        return codes

    c0 = assign(books)
    refined = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        nb = books[j].copy()
        for code in range(k):
            mask = c0[:, j] == code
            if mask.any():
                nb[code] = snap(snap(xs[mask]).sum(axis=0) / mask.sum())
        refined.append(nb)
    c1 = assign(np.stack(refined))
    for i in range(200):
        for j in range(m):
            assert out[(i, j)] == c1[i, j], (i, j, out[(i, j)], c1[i, j])

    out2 = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in pq_codes_df(df, dim=64, m=m, k=k, n_iters=1).collect()
    }
    assert out == out2


def test_pq_codes_df_guards(spark, embeddings):
    df, _ = embeddings
    with pytest.raises(ValueError, match="divisible"):
        pq_codes_df(df, dim=64, m=7)
    with pytest.raises(ValueError, match="k >= 2"):
        pq_codes_df(df, dim=64, m=4, k=1)


def test_pq_codes_df_randomized_replay_parity(spark):
    """Randomized differential: pq_codes_df ≡ the numpy replay across
    random corpora and (m, k, n_iters) shapes — the decimal-grid argmin
    and snapped means must agree EXACTLY (no tolerance) on every seed,
    which is the whole point of the SQL-replayable variant."""
    def replay(x, m, k, n_iters):
        n, dim = x.shape
        sub = dim // m
        books = np.stack([x[:k, j * sub : (j + 1) * sub].copy() for j in range(m)])

        def assign(bks):
            codes = np.empty((n, m), dtype=int)
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                d = np.round((xs[:, None, :] - bks[j][None, :, :]) ** 2, 9).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            return codes

        c = assign(books)
        for _ in range(n_iters):
            nb = []
            for j in range(m):
                xs = x[:, j * sub : (j + 1) * sub]
                b = books[j].copy()
                for code in range(k):
                    mask = c[:, j] == code
                    if mask.any():
                        b[code] = np.round(
                            np.round(xs[mask], 9).sum(axis=0) / mask.sum(), 9
                        )
                nb.append(b)
            books = np.stack(nb)
            c = assign(books)
        return c

    for seed, m, k, n_iters in [(7, 2, 4, 1), (11, 4, 3, 2), (23, 8, 5, 1)]:
        rng = np.random.default_rng(seed)
        n, dim = 60, 32
        x = rng.standard_normal((n, dim))
        # mix in near-duplicate rows so cells have uneven occupancy
        x[40:50] = x[:10] + 0.01 * rng.standard_normal((10, dim))
        df = spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["vec_id"], r["subspace"]): r["code"]
            for r in pq_codes_df(df, dim=dim, m=m, k=k, n_iters=n_iters).collect()
        }
        want = replay(x, m, k, n_iters)
        assert len(got) == n * m, (seed, m, k)
        for i in range(n):
            for j in range(m):
                assert got[(i, j)] == want[i, j], (seed, m, k, i, j)
