"""The batch inpaint + blend (`_inpaint_blend`, every repair path's K2)
equals the per-row reference rk.blend(rk.inpaint_1d(...)) at
rk.dynamic_radius, over random span tables. Spark-free.

The tables are built to reach every branch of the segment fill: spans
touching a row's start or end, whole-row spans, spans of length 1 and 2,
odd and even lengths, radii at or above the span length, empty rows
between rows, and negative and >255 int32 tokens; each case is counted,
so a generator change that stops reaching one fails the test."""

import numpy as np
import pytest

from pdf_watermark_removal_otsu_inpaint_spark import reference_kernels as rk
from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
    _inpaint_blend)
from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS


def _row_mask(rng, n):
    """Alternating unmasked/masked runs of 1-14 positions, or (rarely) a
    whole-row mask."""
    if n and rng.random() < 0.08:
        return np.ones(n, dtype=bool)
    m = np.zeros(n, dtype=bool)
    pos, on = 0, bool(rng.random() < 0.4)
    while pos < n:
        run = int(rng.integers(1, 15))
        m[pos:pos + run] = on
        pos, on = pos + run, not on
    return m


def _table(rng):
    """(tokens, masks) per row: 0-7 rows of 0-60 tokens in [-400, 70000)."""
    lengths = [0 if rng.random() < 0.15 else int(rng.integers(1, 61))
               for _ in range(int(rng.integers(1, 8)))]
    toks = [rng.integers(-400, 70000, size=n).astype(np.int32)
            for n in lengths]
    return toks, [_row_mask(rng, n) for n in lengths]


def _batch(toks, masks):
    """Flat tokens, offsets and the span table, spans from rk.run_spans."""
    offsets = np.zeros(len(toks) + 1, dtype=np.int64)
    offsets[1:] = np.cumsum([t.size for t in toks])
    spans = [(offsets[i] + s, offsets[i] + e, i)
             for i, m in enumerate(masks) for s, e in rk.run_spans(m)]
    s, e, rows = (np.array(c, dtype=np.int64).reshape(-1)
                  for c in (zip(*spans) if spans else ([], [], [])))
    flat = np.concatenate(toks) if toks else np.empty(0, np.int32)
    return flat.astype(np.int32), offsets, s, e, rows


@pytest.mark.parametrize("strength", [0.5, 1.0, 1.5])
def test_inpaint_blend_matches_reference(strength):
    rng = np.random.default_rng(int(strength * 10))
    seen = dict.fromkeys(["start", "end", "whole", "ln1", "ln2", "odd",
                          "even", "rad>=ln", "rad<ln", "empty_row"], 0)
    for _ in range(300):
        toks, masks = _table(rng)
        flat, offsets, s, e, rows = _batch(toks, masks)
        cov = rng.random(len(toks)) * 0.6
        p = DEFAULT_PARAMS.with_(inpaint_radius=int(rng.integers(0, 7)),
                                 inpaint_strength=strength)
        got = _inpaint_blend(flat.copy(), s, e, rows, offsets, cov, p)
        for i, (t, m) in enumerate(zip(toks, masks)):
            rad = rk.dynamic_radius(cov[i], p.inpaint_radius, strength)
            want = rk.blend(t, rk.inpaint_1d(t, m, rad), m, strength)
            assert got[offsets[i]:offsets[i + 1]].tolist() == want.tolist()
            seen["empty_row"] += t.size == 0 and 0 < i < len(toks) - 1
            for a, b in rk.run_spans(m):
                ln = b - a
                seen["start"] += a == 0 < b < t.size
                seen["end"] += 0 < a < b == t.size
                seen["whole"] += ln == t.size
                seen["ln1"] += ln == 1
                seen["ln2"] += ln == 2
                two = 0 < a and b < t.size
                seen["odd"] += two and ln % 2 == 1 and ln > 2 * rad
                seen["even"] += two and ln % 2 == 0 and ln > 2 * rad
                seen["rad>=ln"] += two and rad >= ln
                seen["rad<ln"] += two and rad < ln
    assert all(seen.values()), seen
