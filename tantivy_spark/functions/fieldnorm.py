"""Fieldnorm (document length) quantization — bit-faithful to tantivy.

tantivy compresses the per-(doc, field) token count to one byte through a
256-entry table (reference: /root/reference/src/fieldnorm/code.rs:13-259).
The table is *generated* here from the closed-form encoding the reference
verifies in its own unit test (code.rs:301-328): ids below 24 are the
identity, above that a 3-bit mantissa + 5-bit exponent floating encoding.

BM25 scores depend on the decoded (quantized) value, so this must match the
reference exactly — tests/test_fieldnorm.py replays the reference's
round-trip assertions (code.rs:262-299).
"""

from __future__ import annotations

import numpy as np

_IDENTITY_PART = 24


def _decode_exp_part(b: int) -> int:
    bits = b & 0b0000_0111
    shift = b >> 3
    if shift == 0:
        return bits
    return (bits | 8) << (shift - 1)


def _build_table() -> np.ndarray:
    out = np.empty(256, dtype=np.uint32)
    for i in range(256):
        if i < _IDENTITY_PART:
            out[i] = i
        else:
            out[i] = _IDENTITY_PART + _decode_exp_part(i - _IDENTITY_PART)
    return out


#: FIELD_NORMS_TABLE[id] == decoded fieldnorm (code.rs:13-259); max 2_013_265_944.
FIELD_NORMS_TABLE: np.ndarray = _build_table()
FIELD_NORMS_TABLE.setflags(write=False)

MAX_FIELDNORM = int(FIELD_NORMS_TABLE[-1])  # 2_013_265_944


def fieldnorm_to_id(fieldnorm: int | np.ndarray) -> np.ndarray | int:
    """Token count -> quantized byte id; rounds DOWN to the nearest table
    entry (binary_search.unwrap_or_else(|idx| idx - 1), code.rs:7-11)."""
    ids = np.searchsorted(FIELD_NORMS_TABLE, fieldnorm, side="right") - 1
    if np.isscalar(fieldnorm) or np.ndim(fieldnorm) == 0:
        return int(ids)
    return ids.astype(np.uint8)


def id_to_fieldnorm(fieldnorm_id: int | np.ndarray) -> np.ndarray | int:
    """Quantized byte id -> decoded fieldnorm (table lookup, code.rs:2-4)."""
    if np.isscalar(fieldnorm_id) or np.ndim(fieldnorm_id) == 0:
        return int(FIELD_NORMS_TABLE[int(fieldnorm_id)])
    return FIELD_NORMS_TABLE[np.asarray(fieldnorm_id, dtype=np.int64)]
