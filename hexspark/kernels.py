"""Vectorized numpy hamming kernels — the engine's scalar-function core.

Semantics are anchored to the reference kernels (cited by file:line into
/root/reference/), but the implementation is batch-columnar numpy: one call
processes an Arrow batch of rows, the moral equivalent of the reference's
SIMD registers generalized to whole columns.

Anchors
-------
- nibble popcount LOOKUP table        : hexhamming/python_hexhamming.h:204
- case-insensitive hex decode formula : hexhamming/python_hexhamming.cc:52-53
  (``(c & ~0x20) - 55`` for alpha, ``c - '0'`` for digits; out-of-range
  values > 15 or < 0 mark the char invalid, cc:56-59)
- distance = popcount of XOR          : hexhamming/python_hexhamming.h:215-237
- within-dist scalar semantics        : hexhamming/python_hexhamming.cc:31-68
  (equal-string shortcut cc:39-41; early exit once sum > max_dist cc:62-64)
- first-index array search            : hexhamming/python_hexhamming.cc:246-284

No per-row Python anywhere in this module: every function takes numpy
arrays / python lists of equal-width rows and stays in C-level numpy ops.
"""

from __future__ import annotations

import numpy as np

# Same 16-entry nibble popcount table as the reference (h:204).
LOOKUP16 = np.array([0, 1, 1, 2, 1, 2, 2, 3, 1, 2, 2, 3, 2, 3, 3, 4], dtype=np.uint8)
# Byte-wide popcount table (the numpy analogue of the reference's SSE
# nibble-shuffle popcount, h:243-259, widened to 8 bits).
POPCNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
# 16-bit-wide table (64 KiB, L2-resident): halves the gather count on the
# hot path — the same width-vs-table-size tradeoff the reference makes
# going from the nibble LOOKUP to SSE shuffles (h:243-259).
POPCNT16 = np.array([bin(i).count("1") for i in range(65536)], dtype=np.uint8)

# ---------------------------------------------------------------------------
# set_algo kernel dispatch (SURVEY §2.1 A5)
#
# The reference's set_algo rebinds function pointers to one of four popcount
# kernels chosen by CPU capability (cc:294-344; USE__* macros h:606-629).
# The numpy analogues are four genuinely distinct code paths over the XOR'd
# byte matrix:
#   classic : two nibble LOOKUP16 gathers per byte   (scalar loop, h:204)
#   native  : one byte-wide POPCNT8 gather per byte  (hardware popcnt)
#   sse41   : one POPCNT16 gather per 2 bytes        (SSE4.1 128-bit shuffle)
#   extra   : uint64-view XOR + POPCNT16 + u16 row sums (AVX2; the default)
# KERNEL_CALLS counts invocations per path so differential tests can assert
# each algo really ran its own kernel.
# ---------------------------------------------------------------------------

# CPU capability mask, reference bit layout (h:69-72): SSE41 = 1<<19,
# POPCNT = 1<<23, AVX2 = 1<<5. numpy performs the hardware dispatch the
# reference does with cpuid, so every path is always available here.
CPU_CAPABILITIES = (1 << 19) | (1 << 23) | (1 << 5)

KERNEL_CALLS = {"classic": 0, "native": 0, "sse41": 0, "extra": 0}
_ALGO = {"name": "extra"}


def set_kernel_algo(name: str) -> None:
    """Rebind the popcount kernel used by hamming_bytes_matrix /
    hamming_hex_fixed (the analogue of the reference's USE__* rebinding)."""
    if name not in KERNEL_CALLS:
        raise ValueError(f"unknown kernel algo {name!r}")
    _ALGO["name"] = name


def get_kernel_algo() -> str:
    return _ALGO["name"]


def _pop_classic(x: np.ndarray) -> np.ndarray:
    """Nibble-table path: LOOKUP16 on high and low nibbles separately."""
    KERNEL_CALLS["classic"] += 1
    return (
        LOOKUP16[x >> 4].sum(axis=1, dtype=np.int64)
        + LOOKUP16[x & 0x0F].sum(axis=1, dtype=np.int64)
    )


def _pop_native(x: np.ndarray) -> np.ndarray:
    """Byte-wide table path: one POPCNT8 gather per byte."""
    KERNEL_CALLS["native"] += 1
    return POPCNT8[x].sum(axis=1, dtype=np.int64)


def _pop_sse41(x: np.ndarray) -> np.ndarray:
    """16-bit-wide table path: one POPCNT16 gather per 2 bytes (odd widths
    fall back to the byte table for the whole row)."""
    KERNEL_CALLS["sse41"] += 1
    if x.shape[1] % 2 == 0 and x.flags.c_contiguous:
        return POPCNT16[x.view(np.uint16)].sum(axis=1, dtype=np.int64)
    return POPCNT8[x].sum(axis=1, dtype=np.int64)


_POP_DISPATCH = {"classic": _pop_classic, "native": _pop_native, "sse41": _pop_sse41}


def popcount_rows(x: np.ndarray) -> np.ndarray:
    """Per-row popcount of an XOR'd (n, w) uint8 matrix under the currently
    bound algo (the kernel the reference's function pointers resolve to)."""
    algo = _ALGO["name"]
    if algo != "extra":
        return _POP_DISPATCH[algo](x)
    KERNEL_CALLS["extra"] += 1
    if x.shape[1] % 2 == 0 and x.flags.c_contiguous:
        return POPCNT16[x.view(np.uint16)].sum(axis=1, dtype=np.int64)
    return POPCNT8[x].sum(axis=1, dtype=np.int64)


def _ascii_matrix(strings: list[str], width: int) -> np.ndarray:
    """Pack equal-width ASCII strings into an (n, width) uint8 matrix."""
    n = len(strings)
    if width == 0 or n == 0:
        return np.zeros((n, 0), dtype=np.uint8)
    joined = "".join(strings).encode("ascii", errors="replace")
    return np.frombuffer(joined, dtype=np.uint8).reshape(n, width)


def _bytes_matrix(rows: list[bytes], width: int) -> np.ndarray:
    """Pack equal-width byte rows into an (n, width) uint8 matrix."""
    n = len(rows)
    if width == 0 or n == 0:
        return np.zeros((n, 0), dtype=np.uint8)
    return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(n, width)


def decode_hex_nibbles(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized case-insensitive hex decode (cc:52-59).

    Returns (values, invalid_mask) where values is int16 nibbles and
    invalid_mask flags chars outside [0-9a-fA-F] per position.
    """
    c = mat.astype(np.int16)
    is_gt9 = c > ord("9")
    val = np.where(is_gt9, (c & ~0x20) - 55, c - ord("0"))
    invalid = (val > 15) | (val < 0)
    return val, invalid


def hamming_hex_fixed(a: list[str], b: list[str], width: int) -> tuple[np.ndarray, np.ndarray]:
    """Batch hamming distance over equal-width hex strings.

    Returns (dist uint64 array, row_invalid bool array). Distance semantics
    ≡ ``bin(int(a,16) ^ int(b,16)).count('1')`` (cc:349-362); rows with any
    invalid hex char get the sentinel flagged (cc:112-116 maps it to
    ValueError at the API layer).
    """
    ma = _ascii_matrix(a, width)
    mb = _ascii_matrix(b, width)
    va, inva = decode_hex_nibbles(ma)
    vb, invb = decode_hex_nibbles(mb)
    row_invalid = (inva | invb).any(axis=1) if width else np.zeros(len(a), dtype=bool)
    x = (va ^ vb).astype(np.uint8) & 0x0F
    if width == 0:
        dist = np.zeros(len(a), dtype=np.uint64)
    elif _ALGO["name"] == "classic":
        KERNEL_CALLS["classic"] += 1
        dist = LOOKUP16[x].sum(axis=1, dtype=np.uint64)
    else:
        # non-classic algos: pack adjacent XOR'd nibbles back into bytes
        # (zero-pad odd widths) and run the bound byte-popcount kernel —
        # the string path rebinds with set_algo just like the bytes path
        # (reference rebinds ptr__hamming_distance_string too, h:606-629).
        if width % 2:
            x = np.concatenate([x, np.zeros((x.shape[0], 1), np.uint8)], axis=1)
        xb = np.ascontiguousarray((x[:, 0::2] << np.uint8(4)) | x[:, 1::2])
        dist = popcount_rows(xb).astype(np.uint64)
    return dist, row_invalid


def hamming_bytes_fixed(a: list[bytes], b: list[bytes], width: int) -> np.ndarray:
    """Batch hamming distance over equal-width byte rows (h:167-197 semantics:
    popcount of bytewise XOR; no invalid-value concept for bytes)."""
    ma = _bytes_matrix(a, width)
    mb = _bytes_matrix(b, width)
    return hamming_bytes_matrix(ma, mb).astype(np.uint64)


def hamming_bytes_matrix(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Hamming distance between aligned rows of two (n, w) uint8 matrices —
    the pipeline's hot scoring kernel (SURVEY §2.1 A2).

    Fast path (8-byte-aligned widths, e.g. the 32-byte signature): XOR on
    the uint64 view (one vector op per 8 bytes) + POPCNT16 gather on the
    uint16 view + u16 row sum — measured ~12M pairs/s per core at width 32,
    on par with the reference's single-call SIMD kernel throughput
    (README.rst:150, ~10.3M pairs/s) while running on whole Arrow batches.
    Rows up to 8 KiB keep the u16 accumulator exact (max 8*w <= 65535)."""
    w = ma.shape[1]
    if w == 0:
        return np.zeros(ma.shape[0], dtype=np.int64)
    algo = _ALGO["name"]
    if algo != "extra":
        return _POP_DISPATCH[algo](ma ^ mb)
    KERNEL_CALLS["extra"] += 1
    if w % 8 == 0 and w <= 8100 and ma.flags.c_contiguous and mb.flags.c_contiguous:
        x = ma.view(np.uint64) ^ mb.view(np.uint64)
        return (
            POPCNT16[x.view(np.uint16)]
            .sum(axis=1, dtype=np.uint16)
            .astype(np.int64)
        )
    return POPCNT8[ma ^ mb].sum(axis=1, dtype=np.int64)


def within_dist_hex_fixed(
    a: list[str], b: list[str], width: int, max_dist: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batch within-distance predicate with the reference's exact quirk set
    (SURVEY §2.1 A3, cc:177-234 + cc:31-68):

    q1  byte-equal strings → True with NO hex validation (strcmp shortcut
        cc:39-41)
    q2  max_dist > len(a)  → True with NO validation (cc:212-214)
    ≤   predicate is ``dist <= max_dist`` (early exit on ``> max_dist``,
        cc:62-64)
    eo  an invalid hex char is only *seen* if the left-to-right running
        distance has not already exceeded max_dist at that position
        (validation happens inside the scan loop, cc:52-64) — so a bad char
        after the exceed point yields False, not ValueError.

    Returns (within bool array, raise_invalid bool array).
    """
    n = len(a)
    max_dist = np.asarray(max_dist, dtype=np.int64)
    ma = _ascii_matrix(a, width)
    mb = _ascii_matrix(b, width)
    equal = (ma == mb).all(axis=1) if width else np.ones(n, dtype=bool)
    trivially_true = max_dist > width  # q2, strict > (cc:212-214)

    va, inva = decode_hex_nibbles(ma)
    vb, invb = decode_hex_nibbles(mb)
    pos_invalid = inva | invb
    per_pos = LOOKUP16[((va ^ vb) & 0x0F).astype(np.uint8)].astype(np.int64)
    # Zero contributions at invalid positions so cumsum is well-defined up
    # to the first invalid char (the reference never accumulates an invalid
    # nibble — it returns -1 first, cc:56-59).
    per_pos = np.where(pos_invalid, 0, per_pos)
    csum = per_pos.cumsum(axis=1) if width else np.zeros((n, 0), dtype=np.int64)

    if width:
        # position of first invalid char, width if none
        first_bad = np.where(pos_invalid.any(axis=1), pos_invalid.argmax(axis=1), width)
        # position where running sum first exceeds max_dist, width if never
        exceeded = csum > max_dist[:, None]
        first_exceed = np.where(exceeded.any(axis=1), exceeded.argmax(axis=1), width)
        total = csum[:, -1]
    else:
        first_bad = np.full(n, 0)
        first_exceed = np.full(n, 0)
        total = np.zeros(n, dtype=np.int64)

    # scan outcome (only consulted when not equal / not trivially true):
    #   invalid seen before exceed  → raise
    #   else exceed seen            → False
    #   else                        → dist <= max_dist
    raise_invalid = (first_bad < width) & (first_bad <= first_exceed)
    scan_within = (~raise_invalid) & (first_exceed >= width) & (total <= max_dist)

    within = equal | trivially_true | scan_within
    raise_invalid = raise_invalid & ~(equal | trivially_true)
    return within, raise_invalid


def first_index_within_dist(big: bytes, probe: bytes, max_dist: int) -> int:
    """One-vs-many packed scan: first element index whose hamming distance to
    the probe is ≤ max_dist, else -1 (cc:246-284, first-match loop cc:276-283).

    Vectorized: the packed buffer is reshaped to an (n, w) matrix and scanned
    in one shot — the numpy analogue of the reference's SIMD per-element
    predicate with early exit; first-match semantics come from argmax over
    the boolean mask instead of a sequential break.
    """
    w = len(probe)
    n = len(big) // w
    mat = np.frombuffer(big, dtype=np.uint8).reshape(n, w)
    pv = np.broadcast_to(np.frombuffer(probe, dtype=np.uint8), (n, w))
    dist = hamming_bytes_matrix(np.ascontiguousarray(mat), np.ascontiguousarray(pv))
    hits = dist <= max_dist
    return int(hits.argmax()) if hits.any() else -1


# ---------------------------------------------------------------------------
# splitmix64 — deterministic 64-bit mixer used to derive independent hash
# lanes for SimHash / MinHash without depending on library hash stability.
# (Public-domain construction, Steele et al., "Fast Splittable PRNGs".)
# ---------------------------------------------------------------------------

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + _GOLDEN).astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * _M1
        x = (x ^ (x >> np.uint64(27))) * _M2
        x = x ^ (x >> np.uint64(31))
    return x


_POLY_P = np.uint64(1099511628211)  # FNV prime as the polynomial base
_MAX_TOKEN_BYTES = 16
with np.errstate(over="ignore"):
    _P_POW = np.ones(_MAX_TOKEN_BYTES, dtype=np.uint64)
    for _i in range(1, _MAX_TOKEN_BYTES):
        _P_POW[_i] = _P_POW[_i - 1] * _POLY_P


def hash_tokens_utf8(data: np.ndarray, doc_offsets: np.ndarray):
    """Byte-level vectorized tokenizer + hasher.

    data        : (N,) uint8 — all documents' utf8 bytes, concatenated
    doc_offsets : (D+1,) int64 — doc d spans data[doc_offsets[d]:doc_offsets[d+1]]

    Tokens are maximal [a-z0-9]+ runs after ASCII lowercasing (non-ASCII
    bytes act as separators). Each token's first 16 bytes are hashed with a
    polynomial rolling hash (base _POLY_P, the FNV prime),
    length-mixed, splitmix64-finalized. The 16 Horner steps run over the
    tokens in descending order of capped length, so step j reads one byte
    of each token longer than j and nothing else.

    Returns (token_h64 (T,) uint64, token_doc_bounds (D+1,) int64) where
    tokens of doc d are token_h64[bounds[d]:bounds[d+1]] (possibly empty).
    Everything is O(N) numpy; no per-token Python.
    """
    N = len(data)
    D = len(doc_offsets) - 1
    if N == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(D + 1, dtype=np.int64)
    lower = np.where((data >= 65) & (data <= 90), data + 32, data)
    isal = ((lower >= 97) & (lower <= 122)) | ((lower >= 48) & (lower <= 57))
    # force token breaks at document boundaries
    prev = np.empty_like(isal)
    prev[0] = False
    prev[1:] = isal[:-1]
    inner = doc_offsets[1:-1] if D > 1 else np.zeros(0, dtype=np.int64)
    prev[inner[inner < N]] = False
    start = isal & ~prev
    tok_start_pos = np.flatnonzero(start)
    T = len(tok_start_pos)
    if T == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(D + 1, dtype=np.int64)
    nxt = np.empty_like(isal)
    nxt[-1] = False
    nxt[:-1] = isal[1:]
    nxt[inner[inner > 0] - 1] = False
    tok_end_pos = np.flatnonzero(isal & ~nxt) + 1
    lens = tok_end_pos - tok_start_pos

    # polynomial hash of the first 16 bytes of each token: a fixed 16-step
    # horner loop with one 1-D gather per step (a 2-D (T,16) gather is 10x
    # more memory traffic; np.add.reduceat's inner loop is scalar) —
    # bounded work per token, fully SIMD. Tokens run in descending order of
    # capped length (a stable radix sort of small ints), so step j touches
    # only the leading tokens longer than j: no masked update and no step
    # over a finished token. Same hash values as a per-token loop.
    capped_len = np.minimum(lens, _MAX_TOKEN_BYTES)
    order = np.argsort(
        (_MAX_TOKEN_BYTES - capped_len).astype(np.uint8), kind="stable"
    )
    start_sorted = tok_start_pos[order]
    # n_longer[j]: how many tokens are longer than j bytes (capped)
    n_longer = np.cumsum(
        np.bincount(capped_len, minlength=_MAX_TOKEN_BYTES + 1)[::-1]
    )[::-1][1:]
    h_sorted = np.zeros(T, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(int(capped_len.max())):  # horner: acc = acc*P + c
            n = int(n_longer[j])
            h_sorted[:n] = h_sorted[:n] * _POLY_P + lower[start_sorted[:n] + j]
        h = np.empty(T, dtype=np.uint64)
        h[order] = h_sorted
        h ^= lens.astype(np.uint64) * _GOLDEN
    h = splitmix64(h)

    # token count per doc → bounds
    doc_of_tok = np.searchsorted(doc_offsets[1:], tok_start_pos, side="right")
    counts = np.bincount(doc_of_tok, minlength=D)
    bounds = np.zeros(D + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    return h, bounds


def simhash256_from_utf8(data: np.ndarray, doc_offsets: np.ndarray) -> np.ndarray:
    """256-bit SimHash per document from raw concatenated utf8 bytes.
    Returns (D, 32) uint8 signatures. Docs with no tokens get the all-zero
    signature."""
    h, bounds = hash_tokens_utf8(data, doc_offsets)
    D = len(doc_offsets) - 1
    T = len(h)
    lanes = np.empty((T, 4), dtype=np.uint64)
    for k in range(4):
        lanes[:, k] = splitmix64(h + np.uint64(k + 1))
    # Per-doc bit sums via BLOCK-ALIGNED layout: each doc's tokens are
    # scattered to a 128-token-aligned region, so fixed-size block sums
    # (a SIMD reshape-reduce — unlike np.add.reduceat, whose inner loop is
    # scalar, or long cumsum chains, which are serial) never straddle
    # documents; per-doc sums are then tiny cumsum-diffs over block
    # partials. All-zero padding rows contribute nothing. Processing is
    # chunked to ~256k padded tokens so the unpacked bit matrix stays
    # <= 64MB per worker regardless of batch size.
    BLK = 128
    CHUNK_PADDED = 1 << 18
    ntok = np.diff(bounds)  # (D,)
    nblk = np.maximum((ntok + BLK - 1) // BLK, 0)
    out = np.zeros((D, 32), dtype=np.uint8)
    d0 = 0
    while d0 < D:
        d1 = d0
        padded_tokens = 0
        while d1 < D and (padded_tokens + int(nblk[d1]) * BLK <= CHUNK_PADDED or d1 == d0):
            padded_tokens += int(nblk[d1]) * BLK
            d1 += 1
        cn = ntok[d0:d1]
        cb = nblk[d0:d1]
        blk_start = np.zeros(d1 - d0, dtype=np.int64)
        np.cumsum(cb[:-1], out=blk_start[1:])
        TP = int(cb.sum()) * BLK
        if TP == 0:
            d0 = d1
            continue
        t0, t1 = bounds[d0], bounds[d1]
        padded = np.zeros((TP, 4), dtype=np.uint64)
        doc_of_tok = np.repeat(np.arange(d1 - d0), cn)
        dest = blk_start[doc_of_tok] * BLK + (np.arange(t0, t1) - bounds[d0:d1][doc_of_tok])
        padded[dest] = lanes[t0:t1]

        blk_sums = _bit_sums_128(padded)  # (TP//BLK, 256) uint8, old bit order
        csum = np.zeros((TP // BLK + 1, 256), dtype=np.int32)
        np.cumsum(blk_sums, axis=0, dtype=np.int32, out=csum[1:])
        sums = csum[blk_start + cb] - csum[blk_start]  # (d1-d0, 256)
        sig_bits = (2 * sums > cn[:, None]) & (cn[:, None] > 0)
        out[d0:d1] = np.packbits(sig_bits.astype(np.uint8), axis=1)
        d0 = d1
    return out


# Permutation from (lane l, lane-bit p) flat index 64l+p to the historical
# unpackbits bit order g = 64l + 8*(p//8) + (7 - p%8) (little-endian bytes,
# MSB-first bits), so signatures stay byte-identical across kernel versions.
_L = np.repeat(np.arange(4), 64)
_P = np.tile(np.arange(64), 4)
_BITORDER = np.empty(256, dtype=np.int64)
_BITORDER[64 * _L + 8 * (_P // 8) + 7 - (_P % 8)] = 64 * _L + _P
_M_EVERY4 = np.uint64(0x1111111111111111)
_M_BYTELO = np.uint64(0x0F0F0F0F0F0F0F0F)


def _bit_sums_128(padded: np.ndarray) -> np.ndarray:
    """Per-bit sums over 128-token blocks of (TP, 4)-uint64 SimHash lanes,
    WITHOUT unpacking bits to bytes (the naive route writes 256 bytes per
    token; this one stays packed until the final 2-byte-per-bit block
    counters — ~4x less memory traffic, the difference between scaling and
    DRAM-saturating at 32 concurrent workers).

    Carry-save scheme: bits k, k+4, ... of each lane are 4-bit counter
    fields (`& 0x1111...`); summing 8 tokens keeps fields ≤ 8. Widening the
    fields to bytes (even/odd nibbles) lets 16 such partials sum to ≤ 128
    per byte — one 128-token block. Returns (TP//128, 256) uint8 in the
    historical bit order (see _BITORDER).
    """
    TP = padded.shape[0]
    nsb = TP // 128
    x = padded.reshape(TP // 8, 8, 4)
    # partial[b, lane, k]: 16 4-bit fields, field j counts lane-bit 4j+k
    partial = np.empty((TP // 8, 4, 4), dtype=np.uint64)
    for k in range(4):
        partial[:, :, k] = (x >> np.uint64(k) & _M_EVERY4).sum(axis=1)
    even = (partial & _M_BYTELO).reshape(nsb, 16, 4, 4).sum(axis=1)
    odd = (partial >> np.uint64(4) & _M_BYTELO).reshape(nsb, 16, 4, 4).sum(axis=1)
    # byte m of even[.., lane, k] counts lane-bit 8m+k; of odd: 8m+4+k
    e8 = even.view(np.uint8).reshape(nsb, 4, 4, 8)
    o8 = odd.view(np.uint8).reshape(nsb, 4, 4, 8)
    counts = np.empty((nsb, 4, 64), dtype=np.uint8)  # [block, lane, p]
    m8 = 8 * np.arange(8)
    for k in range(4):
        counts[:, :, m8 + k] = e8[:, :, k, :]
        counts[:, :, m8 + 4 + k] = o8[:, :, k, :]
    return counts.reshape(nsb, 256)[:, _BITORDER]


_HEXCHARS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def hex_chars_matrix(sig: np.ndarray) -> np.ndarray:
    """(n, w) uint8 bytes → (n, 2w) uint8 lowercase hex chars. The batch
    analogue of the reference's canonical hex encoding (cc:52-53 decodes
    case-insensitively; we standardize on lowercase output)."""
    n, w = sig.shape
    out = np.empty((n, 2 * w), dtype=np.uint8)
    out[:, 0::2] = _HEXCHARS[sig >> 4]
    out[:, 1::2] = _HEXCHARS[sig & 0x0F]
    return out


def canon_keys_utf8(
    data: np.ndarray, offs: np.ndarray, max_len: int
) -> tuple[np.ndarray, np.ndarray]:
    """Canonical-key extraction, byte-level vectorized — semantics identical
    to ``substring(regexp_replace(lower(doc), '[^a-z0-9 ]', ''), 1, max_len)``
    for ASCII text (non-ASCII bytes are ≥ 0x80 and thus dropped by the
    byte-level filter exactly as the char-level regex drops the chars).

    Only a prefix of each document is read: the first ``4 * max_len``
    bytes. A document longer than that window whose prefix still holds
    fewer than ``max_len`` kept chars (a leading punctuation run, non-ASCII
    text) is read again with the window widened 4x, until it has
    ``max_len`` kept chars or the window covers it. The key of a prefix is
    the prefix of the key, so the result equals a whole-text pass, while
    the temporaries scale with ``D * 4 * max_len`` bytes instead of with
    the text. Cutting a multi-byte UTF-8 char at the window edge is
    harmless: all its bytes are ≥ 0x80 and dropped either way.

    Returns ((D, max_len) uint8 matrix zero-padded, lengths (D,) int64).
    No per-row Python.
    """
    D = len(offs) - 1
    out = np.zeros((D, max_len), dtype=np.uint8)
    lens = np.zeros(D, dtype=np.int64)
    starts = offs[:-1]
    doc_len = offs[1:] - starts
    todo = np.flatnonzero(doc_len > 0)
    window = 4 * max_len
    while len(todo):
        w = np.minimum(doc_len[todo], window)
        bounds = np.zeros(len(todo) + 1, dtype=np.int64)
        np.cumsum(w, out=bounds[1:])
        doc_of = np.repeat(np.arange(len(todo)), w)
        b = data[starts[todo][doc_of] + (np.arange(bounds[-1]) - bounds[doc_of])]
        lower = np.where((b >= 65) & (b <= 90), b + 32, b)
        keep = (
            ((lower >= 97) & (lower <= 122))
            | ((lower >= 48) & (lower <= 57))
            | (lower == 32)
        )
        ks = np.zeros(len(b) + 1, dtype=np.int64)
        np.cumsum(keep, out=ks[1:])
        pos = np.flatnonzero(keep)
        rank = ks[pos] - ks[bounds[:-1]][doc_of[pos]]
        sel = rank < max_len
        out[todo[doc_of[pos[sel]]], rank[sel]] = lower[pos[sel]]
        n_kept = ks[bounds[1:]] - ks[bounds[:-1]]
        lens[todo] = np.minimum(n_kept, max_len)
        todo = todo[(doc_len[todo] > window) & (n_kept < max_len)]
        window *= 4
    return out, lens
