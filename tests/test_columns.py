"""Spark column-function tests: the reference semantics exercised through
the pandas-UDF layer on a live session, plus Jaro-Winkler parity with an
independent scalar implementation (strcmp95 conventions)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from hexspark import columns as C


def jw_scalar(s1: str, s2: str) -> float:
    """Independent scalar Jaro-Winkler, strcmp95 conventions (int-half
    transpositions, 0.7 boost threshold) — the oracle for the vectorized
    batch implementation."""
    s1, s2 = s1[:64], s2[:64]
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    w = max(max(len(s1), len(s2)) // 2 - 1, 0)
    used = [False] * len(s2)
    mj = []
    for i, c in enumerate(s1):
        for j in range(max(0, i - w), min(len(s2) - 1, i + w) + 1):
            if not used[j] and s2[j] == c:
                used[j] = True
                mj.append((i, j))
                break
    m = len(mj)
    if m == 0:
        return 0.0
    a_seq = [s1[i] for i, _ in mj]
    b_seq = [s2[j] for j in sorted(j for _, j in mj)]
    t = sum(x != y for x, y in zip(a_seq, b_seq)) // 2
    jaro = (m / len(s1) + m / len(s2) + (m - t) / m) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for x, y in zip(s1[:4], s2[:4]):
        if x != y:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


def test_jaro_winkler_batch_vs_scalar_oracle():
    rng = np.random.default_rng(17)
    cases = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"),
        ("", ""),
        ("a", ""),
        ("abc", "abc"),
        ("abcdef", "abcxyz"),
    ]
    for _ in range(800):
        n1, n2 = rng.integers(0, 20, 2)
        cases.append(
            (
                "".join(rng.choice(list("abcde "), n1)),
                "".join(rng.choice(list("abcde "), n2)),
            )
        )
    got = C.jaro_winkler_matrix(
        pd.Series([c[0] for c in cases]), pd.Series([c[1] for c in cases])
    )
    for i, (s1, s2) in enumerate(cases):
        assert abs(got[i] - jw_scalar(s1, s2)) < 1e-12, (s1, s2)


def test_hamming_columns_on_spark(spark):
    df = spark.createDataFrame(
        [
            ("deadbeef", "00000000"),
            ("abc", "abc"),
            ("ggg", "ggg"),  # invalid hex → NULL
            ("xyz", "abc"),  # invalid hex → NULL
            ("abc", "abcd"),  # length mismatch → NULL
            ("f" * 64, "0" * 64),
        ],
        "a string, b string",
    )
    rows = df.select(C.hamming_hex("a", "b").alias("d")).collect()
    assert [r["d"] for r in rows] == [24, 0, None, None, None, 256]


def test_jw_arrow_kernels_differential():
    """Reference-style differential test (set_algo loops,
    test_hexhamming.py:69-77): the DuckDB and numpy Jaro-Winkler kernels
    must agree on random strings, edge cases included."""
    import numpy as np
    import pyarrow as pa

    from hexspark import columns as C

    rng = np.random.default_rng(11)
    chars = np.frombuffer(b"abcdefghij0123456789 ", dtype=np.uint8)
    rows_a, rows_b = [], []
    for _ in range(500):
        la, lb = int(rng.integers(0, 48)), int(rng.integers(0, 48))
        a = bytes(chars[rng.integers(0, len(chars), la)]).decode()
        b = bytes(chars[rng.integers(0, len(chars), lb)]).decode()
        if rng.random() < 0.3:
            b = a[: max(la - 2, 0)] + "xy"  # near-dup prefix case
        rows_a.append(a)
        rows_b.append(b)
    rows_a += ["", "", "abc", "martha"]
    rows_b += ["", "abc", "", "marhta"]
    ca, cb = pa.array(rows_a), pa.array(rows_b)

    pytest.importorskip("duckdb")

    saved = C._JW_IMPL
    try:
        C._JW_IMPL = "duckdb"
        jw_duck = C.jw_arrow(ca, cb)
        C._JW_IMPL = "numpy"
        jw_np = C.jw_arrow(ca, cb)
    finally:
        C._JW_IMPL = saved
    assert np.allclose(jw_duck, jw_np, atol=1e-12), (
        np.abs(jw_duck - jw_np).max()
    )


def test_canon_keys_match_spark_expression_on_mixed_unicode(spark):
    """kernels.canon_keys_utf8's byte-level filter must agree with the JVM
    expression substring(regexp_replace(lower(s), '[^a-z0-9 ]', ''), 1, 48)
    for every char whose lowercase stays outside ASCII (multi-byte UTF-8 is
    dropped by both). The documented divergence is the handful of Unicode
    chars that lowercase INTO ASCII — e.g. U+212A KELVIN SIGN → 'k',
    U+0130 İ → 'i' — where the JVM keeps the mapped char and the byte
    filter drops it; the ASCII assumption is stated in kernels.py."""
    import numpy as np

    from hexspark import kernels
    from hexspark.pipeline.simhash import signatures

    texts = [
        "Hello, WORLD! 123",
        "héllo wörld — ünïcode",
        "中文文本 with ascii 42",
        "  spaces   and\tTABS  ",
        "ALL CAPS AND 0987654321 plus punctuation!!!",
        "émoji 🎉 and ação ñandú",
        "",
        "...",
        # the kernel reads a 4 * 48 = 192-byte prefix first: fewer than 48
        # kept chars in it (punctuation / non-ASCII first) widens the window
        "!" * 191 + "Widened Window " * 8,
        "中文" * 40 + " tail after the multibyte run 0123456789 and more words",
        # the 48th kept char is the window's last byte, then its first
        # byte past the edge
        "." * 144 + "a" * 48 + "b",
        "." * 145 + "a" * 48 + "b",
        # larger than simhash._SLICE_BYTES: a slice of its own
        "Big Doc, " * 120_000,
    ]
    df = spark.createDataFrame(
        [(str(i), t, 1) for i, t in enumerate(texts)],
        "conv_id string, doc_text string, n_turns int",
    )
    got = {
        r["conv_id"]: r["canon"] for r in signatures(df).select("conv_id", "canon").collect()
    }
    expected = {
        r["conv_id"]: r["e"]
        for r in df.selectExpr(
            "conv_id",
            "substring(regexp_replace(lower(doc_text), '[^a-z0-9 ]', ''), 1, 48) AS e",
        ).collect()
    }
    assert got == expected

    # the known divergence: chars that lowercase into ASCII
    kelvin = "Kelvin"  # KELVIN SIGN + 'elvin'
    data = np.frombuffer(kelvin.encode(), dtype=np.uint8)
    offs = np.array([0, len(data)], dtype=np.int64)
    mat, lens = kernels.canon_keys_utf8(data, offs, 48)
    byte_canon = bytes(mat[0][: lens[0]]).decode()
    jvm_canon = spark.sql(
        f"SELECT regexp_replace(lower('{kelvin}'), '[^a-z0-9 ]', '') AS e"
    ).collect()[0]["e"]
    assert byte_canon == "elvin" and jvm_canon == "kelvin"  # divergence is real & pinned


def test_fingerprint_slices_equal_whole_batch(monkeypatch):
    """simhash._fingerprint_batches runs the kernels over row slices of
    about _SLICE_BYTES of text: the output must not depend on the slice
    size, and no kernel call may exceed the budget unless it holds one
    oversize document. Driver-side, no Spark."""
    import pyarrow as pa

    from hexspark import kernels
    from hexspark.pipeline import simhash as sm

    rng = np.random.default_rng(5)
    words = ["alpha", "Beta", "gamma42", "ünï", "—", "中文", "...", "x" * 30]
    texts = [
        " ".join(rng.choice(words, size=int(rng.integers(0, 60))))
        for _ in range(200)
    ]
    texts += ["", None, "!" * 2700, "tokens " * 500]  # the last two > 1 KB
    n = len(texts)
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([str(i) for i in range(n)]),
            pa.array(texts, type=pa.string()),
            pa.array(np.ones(n, dtype=np.int32)),
        ],
        names=["conv_id", "doc_text", "n_turns"],
    )
    # a second batch that is itself a view at a non-zero offset
    batches = [batch, batch.slice(17, 150)]
    orig = kernels.simhash256_from_utf8

    def run(slice_bytes):
        calls = []

        def spy(data, offs):
            calls.append((len(data), len(offs) - 1))
            return orig(data, offs)

        monkeypatch.setattr(sm, "_SLICE_BYTES", slice_bytes)
        monkeypatch.setattr(kernels, "simhash256_from_utf8", spy)
        out = pa.Table.from_batches(list(sm._fingerprint_batches(iter(batches))))
        return out.combine_chunks(), calls

    sliced, sliced_calls = run(1024)
    whole, whole_calls = run(1 << 30)
    assert len(whole_calls) == 2 and len(sliced_calls) > 10
    assert sliced.num_rows == whole.num_rows == n + 150
    assert sliced.equals(whole)
    for nbytes, ndocs in sliced_calls:
        assert nbytes <= 1024 or ndocs == 1, (nbytes, ndocs)
    # null doc_text: empty key, 0 chars (the byte count's answer)
    row = whole.slice(n - 3, 1).to_pylist()[0]
    assert row["canon"] == "" and row["n_chars"] == 0
