"""B3 — fingerprint stage: 256-bit SimHash per conversation.

The signature width (256 bits = 64 hex chars) matches the reference
library's design fingerprint width (/root/reference/README.rst:58). The
stage is ONE fused mapInArrow pass over a pruned (conv_id, doc_text,
n_turns) projection: SimHash (byte-level tokenizer + block-aligned bit
sums), the canonical Jaro-Winkler key, the lowercase hex form, and the
char count are all computed from the same utf8 byte buffer — no per-row
Python, no second scan of the text (the distributed analogue of the
reference's single-pass SIMD string kernel, python_hexhamming.h:320-423).

Plan-shape rationale (measured on local[32]): a scalar pandas_udf here
forces ArrowEvalPython to spool every input row — including the ~KB
doc_text — through a disk-backed row queue to rejoin UDF output with the
input, and computing the canonical key with regexp_replace burns JVM CPU
on java.util.regex. The fused mapInArrow stage ships each text byte across
the Arrow boundary exactly once and returns only the small fingerprint
columns; doc_text dies at this stage boundary.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
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


def _fingerprint_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from .. import arrow_kernels as ak
    from .. import kernels

    for batch in batches:
        text = batch.column("doc_text")
        if isinstance(text, pa.ChunkedArray):
            text = text.combine_chunks()
        offs, data = ak._offsets_and_data(text)
        base = offs[0]
        offs = offs - base
        data = data[base : base + offs[-1]]

        sig = kernels.simhash256_from_utf8(data, offs)
        hex_mat = kernels.hex_chars_matrix(sig)
        canon_mat, canon_lens = kernels.canon_keys_utf8(data, offs, CANON_LEN)
        n_chars = kernels.utf8_char_counts(data, offs)

        yield pa.RecordBatch.from_arrays(
            [
                batch.column("conv_id"),
                ak.fixed_binary_array(sig),
                ak.fixed_string_array(hex_mat),
                ak.string_array_from_matrix(canon_mat, canon_lens),
                batch.column("n_turns"),
                pa.array(n_chars, type=pa.int64()),
            ],
            names=["conv_id", "sig", "sig_hex", "canon", "n_turns", "n_chars"],
        )


def signatures(conversations: DataFrame) -> DataFrame:
    """conversations(conv_id, doc_text, n_turns) →
    signatures(conv_id, sig binary(32), sig_hex char(64), canon, n_turns,
    n_chars).

    Only (conv_id, doc_text, n_turns) is selected, so any other column of
    the input is pruned before the Arrow boundary.
    """
    pruned = conversations.select("conv_id", "doc_text", F.col("n_turns").cast("int"))
    return pruned.mapInArrow(_fingerprint_batches, _SIG_SCHEMA)
