"""B3 — fingerprint stage: 256-bit SimHash per conversation.

The signature width (256 bits = 64 hex chars) matches the reference
library's design fingerprint width (/root/reference/README.rst:58). The
stage is ONE fused mapInArrow pass over a pruned (conv_id, doc_text,
n_turns) projection: SimHash (byte-level tokenizer + block-aligned bit
sums), the canonical Jaro-Winkler key and the lowercase hex form are all
computed from the same utf8 byte buffer, and the char count from the same
Arrow column — no per-row Python, no second copy of the text (the distributed analogue of the
reference's single-pass SIMD string kernel, python_hexhamming.h:320-423).

Plan-shape rationale (measured on local[32]): a scalar pandas_udf here
forces ArrowEvalPython to spool every input row — including the ~KB
doc_text — through a disk-backed row queue to rejoin UDF output with the
input, and computing the canonical key with regexp_replace burns JVM CPU
on java.util.regex. The fused mapInArrow stage ships each text byte across
the Arrow boundary exactly once and returns only the small fingerprint
columns; doc_text dies at this stage boundary.

Slices: each Arrow batch is fingerprinted in zero-copy row slices of about
1 MB of doc_text (``_SLICE_BYTES``; a larger document is a slice of its
own). The kernels' temporaries scale with the text of one call, and
hexspark.session raises glibc's trim and mmap thresholds to 1 GB for the
Python workers, so a worker keeps its largest call's heap until it exits:
the slice, not the batch, bounds a worker's memory. ``n_chars`` is Arrow's
own ``utf8_length`` of the column, and the canonical key reads only a
prefix of each document (kernels.canon_keys_utf8).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# length of the canonical Jaro-Winkler key `canon`: lowercase, alnum+space
# only, first CANON_LEN chars of the document. This stage is the one place
# the key is derived (kernels.canon_keys_utf8); every reader of `canon`
# reads the signatures table's copy.
CANON_LEN = 48

_SIG_SCHEMA = (
    "conv_id string, sig binary, sig_hex string, canon string, "
    "n_turns int, n_chars long"
)


# Text bytes per kernel call. The kernels' temporaries are several times
# the text they read (int64 token positions, gathered bytes, the padded
# SimHash lanes), and hexspark.session raises glibc's trim and mmap
# thresholds to 1 GB, so a Python worker keeps its largest call's heap for
# the rest of its life. A fixed slice caps that heap whatever the Arrow
# batch size. Measured on one task's share of a benchmark corpus (4.2 MB
# of text, 2,254 documents, one core): whole batch 0.39 s and +70 MB of
# peak RSS, 1 MB slices 0.30 s and +25 MB, 256 KB slices 0.34 s and
# +6 MB (the per-call overhead starts to show).
_SLICE_BYTES = 1 << 20


def _fingerprint_slice(batch: pa.RecordBatch) -> pa.RecordBatch:
    from .. import arrow_kernels as ak
    from .. import kernels

    text = batch.column("doc_text")
    offs, data = ak._offsets_and_data(text)
    base = offs[0]
    offs = offs - base
    data = data[base : base + offs[-1]]

    sig = kernels.simhash256_from_utf8(data, offs)
    hex_mat = kernels.hex_chars_matrix(sig)
    canon_mat, canon_lens = kernels.canon_keys_utf8(data, offs, CANON_LEN)
    # a null doc_text counts 0 chars, as its empty byte range always did
    n_chars = pc.fill_null(pc.utf8_length(text), 0).cast(pa.int64())

    return pa.RecordBatch.from_arrays(
        [
            batch.column("conv_id"),
            ak.fixed_binary_array(sig),
            ak.fixed_string_array(hex_mat),
            ak.string_array_from_matrix(canon_mat, canon_lens),
            batch.column("n_turns"),
            n_chars,
        ],
        names=["conv_id", "sig", "sig_hex", "canon", "n_turns", "n_chars"],
    )


def _fingerprint_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Fingerprint each batch in zero-copy row slices of about
    ``_SLICE_BYTES`` of doc_text each (at least one row per slice, so a
    single larger document is a slice of its own)."""
    from .. import arrow_kernels as ak

    for batch in batches:
        offs, _ = ak._offsets_and_data(batch.column("doc_text"))
        r0 = 0
        while r0 < batch.num_rows:
            r1 = int(np.searchsorted(offs, offs[r0] + _SLICE_BYTES, side="right")) - 1
            r1 = max(r1, r0 + 1)
            yield _fingerprint_slice(batch.slice(r0, r1 - r0))
            r0 = r1


def signatures(conversations: DataFrame) -> DataFrame:
    """conversations(conv_id, doc_text, n_turns) →
    signatures(conv_id, sig binary(32), sig_hex char(64), canon, n_turns,
    n_chars).

    Only (conv_id, doc_text, n_turns) is selected, so any other column of
    the input is pruned before the Arrow boundary.
    """
    pruned = conversations.select("conv_id", "doc_text", F.col("n_turns").cast("int"))
    return pruned.mapInArrow(_fingerprint_batches, _SIG_SCHEMA)
