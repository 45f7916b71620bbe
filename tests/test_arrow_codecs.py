"""The Arrow buffer codecs every mapInArrow token kernel crosses through
(`operators/repair_vectorized.py`), pinned directly on NULL, empty,
non-ASCII and sliced rows. Spark-free.

A slice of an Arrow array shares its parent's buffers and carries an
offset, which is what the operator loop sees after a batch filter; every
case below runs on each slice of its array, so a codec that reads a
buffer from position 0 instead of the slice's offset fails."""

import numpy as np
import pyarrow as pa
import pytest

from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
    _decode_bin, _decode_list, _decode_text, _encode_bin, _encode_list,
    _validity)

TOKEN_ROWS = [[1, 2, 3], None, [], [70000, -5], [], None, [9], [0, 255, 256]]

TEXTS = ["ab", "é", None, "€x", "", "𝄞", "mix é € 𝄞 end", "", None, "z"]


def _slices(arr):
    """The whole array and every non-empty slice of it."""
    n = len(arr)
    return [arr.slice(a, b - a) for a in range(n) for b in range(a + 1, n + 1)]


def _rows(flat, offsets):
    return [flat[offsets[i]:offsets[i + 1]].tolist()
            for i in range(offsets.size - 1)]


def test_packed_binary_round_trips_sliced_null_and_empty_rows():
    col = pa.array([None if r is None else np.asarray(r, "<i4").tobytes()
                    for r in TOKEN_ROWS], pa.binary())
    for part in _slices(col):
        flat, offsets = _decode_bin(part)
        assert flat.dtype == np.int32 and offsets[0] == 0
        assert _rows(flat, offsets) == [
            [] if r is None else r
            for r in TOKEN_ROWS[part.offset:part.offset + len(part)]]
        out = _encode_bin(flat, offsets, _validity(part))
        out.validate(full=True)
        assert out.to_pylist() == part.to_pylist()


def test_list_round_trips_sliced_null_and_empty_rows():
    col = pa.array(TOKEN_ROWS, pa.list_(pa.int32()))
    for part in _slices(col):
        flat, offsets = _decode_list(part)
        assert flat.dtype == np.int32 and offsets[0] == 0
        out = _encode_list(flat, offsets, _validity(part))
        out.validate(full=True)
        assert out.to_pylist() == part.to_pylist()


def _expected_tokens(s):
    """transform(split(text, ''), ascii): the code points, `''` as one
    token 0 and NULL as no tokens."""
    if s is None:
        return []
    return [ord(c) for c in s] if s else [0]


@pytest.mark.parametrize("kind", ["string", "large_string", "dictionary"])
def test_text_decodes_code_points_empty_and_null(kind):
    assert {len(c.encode()) for s in TEXTS if s for c in s} == {1, 2, 3, 4}
    if kind == "dictionary":
        col = pa.array(TEXTS, pa.string()).dictionary_encode()
    else:
        col = pa.array(TEXTS, getattr(pa, kind)())
    for part in _slices(col):
        flat, offsets = _decode_text(part)
        assert offsets[0] == 0 and offsets.size == len(part) + 1
        assert _rows(flat, offsets) == [
            _expected_tokens(s)
            for s in TEXTS[part.offset:part.offset + len(part)]]


def test_ascii_text_is_a_byte_view():
    col = pa.array(["abc", "", None, "~"]).slice(1)
    flat, offsets = _decode_text(col)
    assert flat.dtype == np.uint8
    assert _rows(flat, offsets) == [[0], [], [126]]
