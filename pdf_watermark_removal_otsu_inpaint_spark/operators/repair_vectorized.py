"""Batch-vectorized token kernels, their Arrow codecs and the repair
mapInArrow operators.

Every Python crossing of a token kernel is one mapInArrow built from the
codecs and the operator loop here (`_arrow_operator`): the repair
operators below (`repair_sequences`, `repair_sequences_arrow_packed`,
`apply_masks`, `repair_text_arrow`), the detect, profiled-repair and
packing operators of repair.py, the threshold repair of otsu.py, the
classifier of classify.py, the A1b histograms and the dedup text kernels. Each
vectorizes ACROSS rows: a micro-batch's token lists (or text) arrive as one
flat values buffer + offsets (zero-copy from Arrow's ListArray, BinaryArray
or StringArray buffers), and every stage runs as whole-batch NumPy:

- per-row histograms: one bincount over the key (row << 8) + g,
  built in place
- dominant-token selection: one argsort over the (B,256) histogram matrix
- masks: flat elementwise ops
- morphology / run filtering: span-table arithmetic (start/end vectors with
  per-span row bounds) — the whole open/close/filter chain stays in span
  space; masks are written back (span-merge + bool XOR-accumulate) only at
  chain boundaries. Runs are split at row boundaries so nothing leaks
  across rows
- inpaint: per span, its nearest-boundary plateau as at most three
  np.repeat segments, then only the <= 2*radius edge positions of
  two-sided spans interpolated; radius and blend in one helper
  (_inpaint_blend) for every repair path

Semantics are EXACTLY reference_kernels.remove_watermark_multi_pass per row
(tests/test_repair_vectorized.py asserts token-array equality row-by-row on
every fixture scenario plus randomized inputs).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .. import reference_kernels as rk
from ..params import DEFAULT_PARAMS, EngineParams

_I64 = np.int64


def _spans_rowwise(m: np.ndarray, offsets: np.ndarray):
    """Spans of True in flat mask `m`, split at row boundaries.

    Returns (starts, ends, row_of_span) int64 arrays."""
    n = m.size
    if n == 0:
        z = np.empty(0, dtype=_I64)
        return z, z, z
    prev = np.empty(n, dtype=bool)
    prev[0] = False
    prev[1:] = m[:-1]
    # empty rows make offsets[i] == offsets[i+1]: a trailing empty row puts
    # n in the starts (out of range) and a leading empty row puts 0 in the
    # ends (index -1 would wrap) — mask both out
    b = offsets[:-1]
    prev[b[b < n]] = False              # break continuity at row starts
    nxt = np.empty(n, dtype=bool)
    nxt[-1] = False
    nxt[:-1] = m[1:]
    t = offsets[1:]
    nxt[t[t > 0] - 1] = False           # break continuity at row ends
    starts = np.flatnonzero(m & ~prev).astype(_I64)
    ends = (np.flatnonzero(m & ~nxt) + 1).astype(_I64)
    rows = np.searchsorted(offsets, starts, side="right") - 1
    return starts, ends, rows


def _merge_spans(lo: np.ndarray, hi: np.ndarray):
    """Union of spans sorted by start: O(#spans) cummax group-merge.
    Overlapping or touching spans fuse into one."""
    if lo.size <= 1:
        return lo, hi
    cm = np.maximum.accumulate(hi)
    new = np.empty(lo.size, dtype=bool)
    new[0] = True
    new[1:] = lo[1:] > cm[:-1]
    if new.all():
        return lo, hi
    return lo[new], np.maximum.reduceat(hi, np.flatnonzero(new))


def _write_spans(lo: np.ndarray, hi: np.ndarray, n: int) -> np.ndarray:
    """Span table -> flat bool mask: merge overlaps in span space (cheap
    cummax over #spans), then one bool XOR-accumulate over the flat length —
    ~5x cheaper than the int32 delta+cumsum it replaced (the cumsum was 51%
    of whole-kernel time at 32 workers, BENCH_r06.json)."""
    if lo.size == 0:
        return np.zeros(n, dtype=bool)
    keep = lo < hi
    if not keep.all():
        lo, hi = lo[keep], hi[keep]
        if lo.size == 0:
            return np.zeros(n, dtype=bool)
    lo, hi = _merge_spans(lo, hi)
    # after the merge boundaries are strictly interleaved
    # (lo[i] < hi[i] < lo[i+1]), so one flip per index is exact parity
    d = np.zeros(n + 1, dtype=bool)
    d[lo] = True
    d[hi] = True
    return np.logical_xor.accumulate(d[:n])


# ---------------------------------------------------------------------------
# Span-space morphology: the whole open/close/run-filter chain runs on the
# (start, end, row) table — O(#spans) per op, no flat-array passes. Masks are
# materialized only at the chain's boundaries (raw-mask compares in, optional
# final mask out), which is where the kernel's memory traffic went at 32
# workers (BENCH_r06.json).
# ---------------------------------------------------------------------------
def _span_merge_rowwise(lo, hi, rows):
    """Union of per-row spans, never fusing across row boundaries: merge in
    a translated space (pos + row) where consecutive rows are separated by
    one unit, so in-row touching spans fuse but cross-row touching don't."""
    if lo.size <= 1:
        return lo, hi, rows
    tl = lo + rows
    th = hi + rows
    cm = np.maximum.accumulate(th)
    new = np.empty(lo.size, dtype=bool)
    new[0] = True
    new[1:] = tl[1:] > cm[:-1]
    if new.all():
        return lo, hi, rows
    rows2 = rows[new]
    return lo[new], np.maximum.reduceat(th, np.flatnonzero(new)) - rows2, rows2


def _span_dilate(s, e, rows, offsets, k, iters=1):
    if k <= 1 or iters <= 0 or s.size == 0:
        return s, e, rows
    left, right = (k - 1) // 2, k // 2
    row_lo, row_hi = offsets[rows], offsets[rows + 1]
    lo = np.maximum(s - right * iters, row_lo)
    hi = np.minimum(e + left * iters, row_hi)
    return _span_merge_rowwise(lo, hi, rows)


def _span_erode(s, e, rows, offsets, k, iters=1):
    """Erode non-overlapping sorted spans. True padding outside each ROW:
    spans touching a row edge keep that edge (cv2 border convention)."""
    if k <= 1 or iters <= 0 or s.size == 0:
        return s, e, rows
    left, right = (k - 1) // 2, k // 2
    row_lo, row_hi = offsets[rows], offsets[rows + 1]
    lo = np.where(s == row_lo, row_lo, s + left * iters)
    hi = np.where(e == row_hi, row_hi, e - right * iters)
    keep = lo < hi
    return lo[keep], hi[keep], rows[keep]


def _span_open(s, e, rows, offsets, k, iters=1):
    return _span_dilate(*_span_erode(s, e, rows, offsets, k, iters),
                        offsets, k, iters)


def _span_close(s, e, rows, offsets, k, iters=1):
    return _span_erode(*_span_dilate(s, e, rows, offsets, k, iters),
                       offsets, k, iters)


def _span_filter_runs(s, e, rows, min_run, max_run):
    if s.size == 0:
        return s, e, rows
    ln = e - s
    keep = (ln >= min_run) & (ln <= max_run)
    return s[keep], e[keep], rows[keep]


def _refine_spans(m, offsets, p):
    """refine_mask + filter_runs in span space: the raw flat mask's spans,
    opened x1, closed x2 and run-length filtered, as (starts, ends, rows)."""
    s, e, rows = _spans_rowwise(m, offsets)
    s, e, rows = _span_open(s, e, rows, offsets, p.kernel_size, 1)
    s, e, rows = _span_close(s, e, rows, offsets, p.kernel_size, 2)
    return _span_filter_runs(s, e, rows, p.min_run, p.max_run)


def _span_coverage(s, e, rows, lengths):
    """Per-row masked share of disjoint spans (0.0 for an empty row)."""
    return (np.bincount(rows, weights=e - s, minlength=lengths.size)
            / np.maximum(lengths, 1))


def _detect_wm_batch(g, lengths):
    """Vectorized detect_wm_token per row: returns int32 wm (-1 = none).
    The bincount key (row << 8) + g is built in place, one pass."""
    B = lengths.size
    key = np.repeat(np.arange(B, dtype=_I64) << 8, lengths)
    key += g
    hist = np.bincount(key, minlength=B * 256).reshape(B, 256)
    order = np.argsort(hist, axis=1, kind="stable")[:, ::-1][:, :rk.TOPK_MODES]
    counts = np.take_along_axis(hist, order, axis=1)
    cov = counts * 100.0 / np.maximum(lengths, 1)[:, None]
    qual = ((order >= rk.WM_VALUE_LO) & (order <= rk.WM_VALUE_HI)
            & (cov >= rk.WM_COV_LO) & (cov <= rk.WM_COV_HI))
    has = qual.any(axis=1)
    first = np.argmax(qual, axis=1)
    wm = np.take_along_axis(order, first[:, None], axis=1)[:, 0]
    return np.where(has, wm, -1).astype(np.int32)


def _text_protect_flat(g, offsets, expand):
    core = g < rk.TEXT_CORE_THRESHOLD
    s, e, rows = _spans_rowwise(core, offsets)
    if s.size == 0:
        return core
    if expand > 0:
        s, e, rows = _span_dilate(s, e, rows, offsets, 2 * expand + 1, 1)
    s, e, rows = _span_open(s, e, rows, offsets, rk.TEXT_CLEAN_KERNEL, 1)
    return _write_spans(s, e, g.size)


def _inpaint_spans(out, s, e, rows, offsets, radius_per_row):
    """inpaint_1d over a span table of non-touching spans, in place.

    Every position of a span takes its nearest-boundary plateau, written
    by one np.repeat over at most three segments per span: L x ln//2, then
    (L+R)//2 when ln is odd, then R x ln//2; a one-sided span is one
    segment and a span with no boundary is left alone. Only the <= 2*rad
    edge positions of two-sided spans are then overwritten with the
    distance-weighted (L*dr + R*dl) // (ln+1)."""
    row_lo, row_hi = offsets[rows], offsets[rows + 1]
    has_l, has_r = s > row_lo, e < row_hi
    bound = has_l | has_r
    if not bound.all():
        s, e, rows = s[bound], e[bound], rows[bound]
        has_l, has_r = has_l[bound], has_r[bound]
    if s.size == 0:
        return
    ln = e - s
    # boundaries gathered before any write; a missing side takes the other
    L = out[np.where(has_l, s - 1, e)].astype(_I64)
    R = out[np.where(has_r, e, s - 1)].astype(_I64)
    two = has_l & has_r
    half = np.where(two, ln // 2, ln)
    odd = np.where(two, ln & 1, 0)
    seg_val = np.stack([L, (L + R) // 2, R], axis=1).ravel()
    seg_len = np.stack([half, odd, np.where(two, half, 0)], axis=1).ravel()
    vals = np.repeat(seg_val, seg_len).astype(out.dtype)
    # masked position = the span's start + its index within the span
    pos = np.repeat(s - (np.cumsum(ln) - ln), ln)
    pos += np.arange(pos.size, dtype=_I64)
    out[pos] = vals
    # interpolated edges: the first k_l and last k_r positions of each
    # two-sided span, k_l + k_r = min(2*rad, ln)
    rad = radius_per_row[rows[two]]
    s2, ln2, L2, R2 = s[two], ln[two], L[two], R[two]
    k_l = np.minimum(rad, ln2)
    k_r = np.minimum(rad, ln2 - k_l)
    ne = k_l + k_r
    sp = np.repeat(np.arange(s2.size, dtype=_I64), ne)
    j = np.arange(sp.size, dtype=_I64) - (np.cumsum(ne) - ne)[sp]
    # distance from the left boundary; the right edge skips the middle
    dl = j + 1 + np.where(j >= k_l[sp], (ln2 - ne)[sp], 0)
    n1 = ln2[sp] + 1
    out[s2[sp] + dl - 1] = ((L2[sp] * (n1 - dl) + R2[sp] * dl) // n1) \
        .astype(out.dtype)


def _inpaint_blend(out, s, e, rows, offsets, cov, p):
    """K2 over a span table: inpaint_1d at each row's dynamic_radius, then
    the strength blend. Returns the repaired buffer; at full strength that
    is `out` itself, filled in place (boundaries are unmasked positions)."""
    radius = np.maximum(
        2, (p.inpaint_radius + cov * 10.0 * p.inpaint_strength).astype(_I64))
    if p.inpaint_strength >= rk.BLEND_FULL_STRENGTH or \
       p.inpaint_strength == 1.0:
        _inpaint_spans(out, s, e, rows, offsets, radius)
        return out
    filled = out.copy()
    _inpaint_spans(filled, s, e, rows, offsets, radius)
    bf = _write_spans(s, e, out.size).astype(np.float32) \
        * np.float32(p.inpaint_strength)
    res = (out.astype(np.float32) * (np.float32(1.0) - bf)
           + filled.astype(np.float32) * bf)
    return res.astype(np.int32)


def _row_sums(m: np.ndarray, offsets: np.ndarray,
              lengths: np.ndarray) -> np.ndarray:
    """Per-row sums of a flat bool or int array via int64 prefix sums —
    exact for empty rows anywhere in the batch (reduceat mis-handles idx[i]==idx[i+1]
    and clamping the start index steals the previous row's last element)."""
    if m.size == 0:
        return np.zeros(lengths.size, dtype=_I64)
    c = np.empty(m.size + 1, dtype=_I64)
    c[0] = 0
    np.cumsum(m, dtype=_I64, out=c[1:])
    return c[offsets[1:]] - c[offsets[:-1]]


def repair_batch(flat: np.ndarray, offsets: np.ndarray,
                 params: EngineParams = DEFAULT_PARAMS,
                 wm_in: np.ndarray | None = None):
    """Whole-batch remove_watermark_multi_pass.

    flat: int32 concatenated tokens; offsets: int64 (B+1).
    Returns (out_flat int32, coverage float64[B], wm int32[B] (-1=none),
    pass_count int32[B]).

    Memory-traffic-minimized (the VM's DRAM bandwidth is the scaling
    ceiling at 32 workers, BENCH_r06.json): value classes live in uint8
    (int32 low byte == mod 256), the raw mask is two uint8 range compares
    against per-row repeated byte bounds (no int32 |g-wm| temp, no int64
    row-index gathers), per-row masked counts are one bincount over the
    span table, and for full-strength blends the inpaint scatters straight
    into the output buffer (no `filled` copy, no np.where pass)."""
    p = params
    offsets = np.asarray(offsets, dtype=_I64)
    B = offsets.size - 1
    lengths = np.diff(offsets)
    out = np.array(flat, dtype=np.int32, copy=True)
    wm = (np.full(B, -1, dtype=np.int32) if wm_in is None
          else np.asarray(wm_in, dtype=np.int32).copy())
    first_cov = np.zeros(B)
    n_passes = np.zeros(B, dtype=np.int32)
    active = np.ones(B, dtype=bool)

    for pass_num in range(p.passes):
        if not active.any():
            break
        g = out.astype(np.uint8)  # low byte == np.mod(out, 256)
        need = wm < 0
        if need.any():
            wm = np.where(need, _detect_wm_batch(g, lengths), wm)
        # raw mask: |g - wm| < tol as a uint8 interval test; rows with no wm
        # (or already converged) get an empty interval (lo=1 > hi=0)
        valid = active & (wm >= 0)
        lo_b = np.where(valid, np.clip(wm - (p.color_tolerance - 1), 0, 255),
                        1).astype(np.uint8)
        hi_b = np.where(valid, np.clip(wm + (p.color_tolerance - 1), 0, 255),
                        0).astype(np.uint8)
        m = (g >= np.repeat(lo_b, lengths)) & (g <= np.repeat(hi_b, lengths))
        m &= g <= rk.BACKGROUND_THRESHOLD  # P3: protect g > 250
        if p.protect_text:
            # protection applies per row unless wm is text-like
            prot_rows = ~((wm >= rk.TEXTLIKE_LO) & (wm <= rk.TEXTLIKE_HI))
            if prot_rows.any() and m.any():
                tp = _text_protect_flat(g, offsets, p.text_expand)
                m &= ~(tp & np.repeat(prot_rows, lengths))
        # morphology + run filter stay in span space: one extraction, no
        # flat-array passes until the (optional) final mask write
        s, e, rows = _spans_rowwise(m, offsets)
        s, e, rows = _span_open(s, e, rows, offsets, p.kernel_size, 1)
        s, e, rows = _span_close(s, e, rows, offsets, p.kernel_size, 2)
        s, e, rows = _span_filter_runs(s, e, rows, p.min_run, p.max_run)

        active &= _span_coverage(s, e, rows, lengths) > 0
        if not active.any():
            break
        keep = active[rows]
        if not keep.all():
            s, e, rows = s[keep], e[keep], rows[keep]
        if pass_num > 0:
            s, e, rows = _span_dilate(s, e, rows, offsets,
                                      rk.MULTIPASS_DILATE_KERNEL, 1)
        cov = _span_coverage(s, e, rows, lengths)
        if pass_num == 0:
            first_cov = cov
        n_passes += active.astype(np.int32)
        out = _inpaint_blend(out, s, e, rows, offsets, cov, p)
    return out, first_cov, wm, n_passes



def detect_batch(flat: np.ndarray, offsets: np.ndarray,
                 params: EngineParams = DEFAULT_PARAMS,
                 wm_in: np.ndarray | None = None):
    """Whole-batch detect_refine (detection only, no inpaint): the pass-0
    detection stage of repair_batch factored out for the detect_masks /
    stateful (X5) paths.

    wm_in: int32[B] with -1 = self-detect (reference_kernels.detect_refine
    wm_token=None). Returns (mask_flat bool, wm int32[B] (-1 = none found),
    coverage float64[B])."""
    p = params
    offsets = np.asarray(offsets, dtype=_I64)
    B = offsets.size - 1
    lengths = np.diff(offsets)
    g = np.asarray(flat).astype(np.uint8)  # low byte == mod 256
    wm = (np.full(B, -1, dtype=np.int32) if wm_in is None
          else np.asarray(wm_in, dtype=np.int32).copy())
    need = wm < 0
    if need.any():
        wm = np.where(need, _detect_wm_batch(g, lengths), wm)
    # uint8 interval test with per-row repeated byte bounds (as repair_batch)
    valid = wm >= 0
    lo_b = np.where(valid, np.clip(wm - (p.color_tolerance - 1), 0, 255),
                    1).astype(np.uint8)
    hi_b = np.where(valid, np.clip(wm + (p.color_tolerance - 1), 0, 255),
                    0).astype(np.uint8)
    m = (g >= np.repeat(lo_b, lengths)) & (g <= np.repeat(hi_b, lengths))
    m &= g <= rk.BACKGROUND_THRESHOLD
    if p.protect_text:
        prot_rows = ~((wm >= rk.TEXTLIKE_LO) & (wm <= rk.TEXTLIKE_HI))
        if prot_rows.any() and m.any():
            tp = _text_protect_flat(g, offsets, p.text_expand)
            m &= ~(tp & np.repeat(prot_rows, lengths))
    s, e, rows = _refine_spans(m, offsets, p)
    return (_write_spans(s, e, g.size), wm,
            _span_coverage(s, e, rows, lengths))


def detect_auto_batch(flat: np.ndarray, offsets: np.ndarray,
                      params: EngineParams = DEFAULT_PARAMS):
    """Whole-batch automatic detection mode (P6 adaptive threshold OR P7
    saturation, then protection + open x1 / close x2 + run filter) — the
    batch form of rk.detect_mask_auto + rk.filter_runs, no per-row Python.

    The P6 local mean uses ONE global float64 prefix sum with per-row
    clamped window bounds: token classes are integers <= 255, so the prefix
    sum stays exact in float64 up to ~3.5e13 positions per batch and the
    windowed differences equal the per-row computation bit-for-bit
    (rk.local_mean_1d, watermark_detector.py:497-499).

    Returns (mask_flat bool, coverage float64[B])."""
    p = params
    offsets = np.asarray(offsets, dtype=_I64)
    B = offsets.size - 1
    lengths = np.diff(offsets)
    g = np.asarray(flat).astype(np.uint8)  # low byte == mod 256
    n = g.size
    if n == 0:
        return np.zeros(0, dtype=bool), np.zeros(B)
    gf = g.astype(np.float64)
    # P6: g > local_mean(block, shrinking at ROW edges) - C
    left = (rk.ADAPTIVE_BLOCK - 1) // 2
    right = rk.ADAPTIVE_BLOCK // 2
    c = np.empty(n + 1, dtype=np.float64)
    c[0] = 0.0
    np.cumsum(gf, out=c[1:])
    row_idx = np.repeat(np.arange(B, dtype=_I64), lengths)
    pos = np.arange(n, dtype=_I64)
    lo = np.maximum(pos - left, offsets[row_idx])
    hi = np.minimum(pos + right + 1, offsets[row_idx + 1])
    local_mean = (c[hi] - c[lo]) / (hi - lo)
    m = gf > (local_mean - rk.ADAPTIVE_C)
    # P7: g < max(30, 0.6 * row_mean) — exact integer row sums
    row_mean = np.where(lengths > 0,
                        (c[offsets[1:]] - c[offsets[:-1]])
                        / np.maximum(lengths, 1), 0.0)
    thr = np.maximum(rk.SAT_MIN_THRESHOLD, row_mean * rk.SAT_MEAN_FACTOR)
    m |= gf < thr[row_idx]
    m &= g <= rk.BACKGROUND_THRESHOLD
    if p.protect_text and m.any():
        m &= ~_text_protect_flat(g, offsets, p.text_expand)
    s, e, rows = _refine_spans(m, offsets, p)
    return _write_spans(s, e, n), _span_coverage(s, e, rows, lengths)


def threshold_repair_batch(flat: np.ndarray, offsets: np.ndarray,
                           thr: np.ndarray,
                           params: EngineParams = DEFAULT_PARAMS):
    """Whole-batch detect_mask_threshold + run filter + single-pass K2
    (the otsu_repair per-row body, reference_kernels.detect_mask_threshold
    semantics): mask = g > thr_row, background/text protection, open x1 /
    close x2, run filter, inpaint + blend.

    thr: int32[B] per-row (window/source-level Otsu) thresholds.
    Returns (out_flat int32, coverage float64[B])."""
    p = params
    offsets = np.asarray(offsets, dtype=_I64)
    lengths = np.diff(offsets)
    out = np.array(flat, dtype=np.int32, copy=True)
    g = out.astype(np.uint8)
    thr_b = np.clip(np.asarray(thr, dtype=np.int64), 0, 255).astype(np.uint8)
    m = g > np.repeat(thr_b, lengths)
    # rows whose threshold is >= 255 mask nothing (degenerate convention)
    if (np.asarray(thr) >= 255).any():
        m &= np.repeat(np.asarray(thr) < 255, lengths)
    m &= g <= rk.BACKGROUND_THRESHOLD
    if p.protect_text and m.any():
        m &= ~_text_protect_flat(g, offsets, p.text_expand)
    s, e, rows = _refine_spans(m, offsets, p)
    cov = _span_coverage(s, e, rows, lengths)
    return _inpaint_blend(out, s, e, rows, offsets, cov, p), cov


def apply_mask_batch(flat: np.ndarray, mask_flat: np.ndarray,
                     offsets: np.ndarray,
                     params: EngineParams = DEFAULT_PARAMS) -> np.ndarray:
    """Whole-batch K2 (inpaint + blend with a GIVEN mask): the post-join
    stage of the stream-stream pipeline (X6 -> repair), vectorized across
    rows. Per-row semantics == reference_kernels inpaint_1d + blend with
    dynamic_radius; empty-mask rows pass through (P10)."""
    p = params
    offsets = np.asarray(offsets, dtype=_I64)
    lengths = np.diff(offsets)
    out = np.array(flat, dtype=np.int32, copy=True)
    m = np.asarray(mask_flat, dtype=bool)
    if not m.any():
        return out
    s, e, rows = _spans_rowwise(m, offsets)
    return _inpaint_blend(out, s, e, rows, offsets,
                          _span_coverage(s, e, rows, lengths), p)


def flatten_arrays(series) -> tuple[np.ndarray, np.ndarray]:
    """pandas Series of per-row arrays -> (flat, offsets). One C-level
    concatenate, no per-element Python."""
    arrs = series.to_numpy()
    B = len(arrs)
    lengths = np.fromiter((len(a) for a in arrs), dtype=_I64, count=B)
    offsets = np.zeros(B + 1, dtype=_I64)
    np.cumsum(lengths, out=offsets[1:])
    if B == 0 or offsets[-1] == 0:
        return np.empty(0, dtype=np.int32), offsets
    flat = np.concatenate([np.asarray(a) for a in arrs])
    return flat, offsets


# ---------------------------------------------------------------------------
# Arrow buffer codecs and the mapInArrow operator loop: the one Python
# boundary of every token kernel. Each operator selects just the columns it
# reads or passes through, decodes the token column zero-copy into
# (flat, offsets), runs one whole-batch kernel and re-encodes the result,
# carrying the input's null bitmap so a NULL row stays NULL (its other
# fields are those of an empty row).
# ---------------------------------------------------------------------------
# Key columns an operator passes through when present (the sink's
# masked_tokens lineage metric needs n_tok)
_KEEP_COLS = ("doc_id", "seq_no", "event_ts", "source", "n_tok")


def _key_cols(df, extra=()) -> list[str]:
    """The `_KEEP_COLS` (then `extra`) columns `df` has, in that order."""
    return [c for c in (*_KEEP_COLS, *extra) if c in df.columns]


def _passthrough(b, name):
    """Input column for re-emission. Parquet scans may hand mapInArrow
    dictionary-encoded strings, which Spark cannot read back through a
    plain output schema; those are decoded, everything else is reused."""
    col = b.column(name)
    return col.dictionary_decode() if pa.types.is_dictionary(col.type) else col


def _validity(col):
    """The column's null bitmap rebased to offset 0 (None: no NULL rows)."""
    return None if col.null_count == 0 else pc.is_valid(col).buffers()[1]


def _buffer(col, i, dtype):
    buf = col.buffers()[i]
    return np.empty(0, dtype) if buf is None else np.frombuffer(buf, dtype)


def _binary_offsets(col) -> np.ndarray:
    """BinaryArray byte offsets (len + 1, int64), slice-aware."""
    return _buffer(col, 1, np.int32)[col.offset:col.offset + len(col) + 1] \
        .astype(_I64)


def _decode_list(col, dtype=np.int32):
    """ListArray -> (flat values as `dtype`, offsets int64 from 0)."""
    offsets = col.offsets.to_numpy().astype(_I64)
    flat = col.values.to_numpy(zero_copy_only=False)[offsets[0]:offsets[-1]]
    return np.ascontiguousarray(flat, dtype=dtype), offsets - offsets[0]


def _encode_list(out, offsets, validity, value_type=pa.int32()):
    return pa.Array.from_buffers(
        pa.list_(value_type), offsets.size - 1,
        [validity, pa.py_buffer(offsets.astype(np.int32))],
        children=[pa.array(out, type=value_type)])


def _encode_mask(m, offsets, validity):
    """Flat bool mask -> array<boolean> rows."""
    return _encode_list(m, offsets, validity, pa.bool_())


def _decode_bin(col):
    """Packed BinaryArray: its data buffer IS the flat little-endian int32
    token buffer (offsets in bytes / 4). The read-only view goes straight
    into the kernels, which copy into their output and never mutate it."""
    byte_offsets = _binary_offsets(col)
    base = byte_offsets[0] // 4
    offsets = byte_offsets // 4 - base
    return _buffer(col, 2, np.int32)[base:base + offsets[-1]], offsets


def _encode_bin(out, offsets, validity):
    """Zero-copy out: py_buffer wraps the numpy arrays directly."""
    return pa.BinaryArray.from_buffers(
        pa.binary(), offsets.size - 1,
        [validity, pa.py_buffer((offsets * 4).astype(np.int32)),
         pa.py_buffer(out)])


def _utf8_code_points(data, offs):
    """UTF-8 bytes + byte offsets -> (int32 code points, char offsets),
    one vectorised pass per continuation byte."""
    lead = (data & 0xC0) != 0x80
    starts = np.flatnonzero(lead)
    b0 = data[starts].astype(np.int32)
    n = 1 + (b0 >= 0xC0) + (b0 >= 0xE0) + (b0 >= 0xF0)   # bytes per char
    cp = np.where(n == 1, b0, b0 & (0x7F >> n))
    pad = np.concatenate([data, np.zeros(3, np.uint8)])
    for k in (1, 2, 3):
        cp = np.where(n > k, (cp << 6) | (pad[starts + k] & 0x3F), cp)
    chars = np.zeros(data.size + 1, dtype=_I64)
    np.cumsum(lead, out=chars[1:])
    return cp, chars[offs]


def _decode_text(col):
    """StringArray -> (flat tokens, offsets): the code points that
    transform(split(text, ''), ascii) gives, an empty text as one token 0
    and a NULL text as no tokens. An all-ASCII batch is a zero-copy uint8
    view of the string bytes; otherwise the bytes are decoded to int32
    code points."""
    if pa.types.is_dictionary(col.type):
        col = col.dictionary_decode()
    off_type = np.int64 if pa.types.is_large_string(col.type) else np.int32
    offs = _buffer(col, 1, off_type)[col.offset:col.offset + len(col) + 1] \
        .astype(_I64)
    flat = _buffer(col, 2, np.uint8)[offs[0]:offs[-1]]
    offs = offs - offs[0]
    if flat.size and flat.max() >= 0x80:
        flat, offs = _utf8_code_points(flat, offs)
    empty = offs[1:] == offs[:-1]
    if col.null_count:
        empty &= pc.is_valid(col).to_numpy(zero_copy_only=False)
    if empty.any():      # split('', '') is [''] and ascii('') is 0
        flat = np.insert(flat, offs[:-1][empty], 0)
        offs = offs + np.concatenate(([0], np.cumsum(empty)))
    return flat, offs


def _decoded(batches, name, decode):
    """(batch, flat, offsets) per batch, with the rows whose `name` is NULL
    dropped (as explode and UNNEST drop them) and empty batches skipped."""
    for b in batches:
        col = b.column(name)
        if col.null_count:
            b = b.filter(pc.is_valid(col))
            col = b.column(name)
        if b.num_rows:
            yield (b, *decode(col))


def _given_wm(b):
    """The batch's `_wm_in` column as int32, -1 = self-detect (None when
    the operator was given no wm_token)."""
    if b.schema.get_field_index("_wm_in") < 0:
        return None
    return b.column("_wm_in").fill_null(-1).to_numpy()


def _wm_array(wm):
    return pa.array(wm, mask=wm < 0)


def _arrow_operator(df, keep, reads, tail, kernel):
    """One mapInArrow over `df.select(*keep, *reads)`: the `keep` columns
    pass through and kernel(batch) returns the arrays of the appended
    `tail` fields ("name type" strings), one row per input row."""
    pruned = df.select(*keep, *reads)
    fields = pruned.schema.fields[:len(keep)]
    keep_names = [f.name for f in fields]
    names = keep_names + [t.split()[0] for t in tail]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in fields] + tail)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [_passthrough(b, c) for c in keep_names] + kernel(b), names)

    return pruned.mapInArrow(fn, out_schema)


def _repair_operator(df, params, keep, tok_col, tok_type, decode, encode,
                     wm_token=None):
    """Fused multi-pass detect+repair (K1+K2) over one token layout:
    `keep` columns pass through, `tok_col` is repaired, and coverage,
    wm_token and pass_count are appended. `wm_token` (a Column, NULL =
    self-detect) gives a row's watermark token to repair_batch."""
    reads = [tok_col] + ([] if wm_token is None
                         else [wm_token.cast("int").alias("_wm_in")])

    def kernel(b):
        col = b.column(tok_col)
        flat, offsets = decode(col)
        out, cov, wm, npass = repair_batch(flat, offsets, params,
                                           wm_in=_given_wm(b))
        return [encode(out, offsets, _validity(col)), pa.array(cov),
                _wm_array(wm), pa.array(npass)]

    return _arrow_operator(
        df, keep, reads, [f"{tok_col} {tok_type}", "coverage double",
                          "wm_token int", "pass_count int"], kernel)


def repair_sequences(df, params: EngineParams = DEFAULT_PARAMS,
                     wm_token=None):
    """sequences (tokens array<int>) -> repaired: the present key columns
    (doc_id/seq_no/event_ts/source/n_tok), the repaired tokens, coverage,
    wm_token and pass_count. `wm_token` is an optional per-row int Column
    of given watermark tokens; NULL rows self-detect."""
    return _repair_operator(df, params, _key_cols(df), "tokens",
                            "array<int>", _decode_list, _encode_list,
                            wm_token)


def repair_sequences_arrow_packed(df, params: EngineParams = DEFAULT_PARAMS):
    """Packed-binary layout (tokens_bin = little-endian int32 blob) ->
    doc_id string, seq_no long, source string, tokens_bin binary, coverage
    double, wm_token int, pass_count int."""
    from pyspark.sql import functions as F
    keep = [F.col("doc_id").cast("string").alias("doc_id"),
            F.col("seq_no").cast("long").alias("seq_no"),
            F.col("source").cast("string").alias("source")]
    return _repair_operator(df, params, keep, "tokens_bin", "binary",
                            _decode_bin, _encode_bin)


def _mask_flat(col, offsets) -> np.ndarray:
    """Mask column aligned with the token rows `offsets` -> flat bool mask.
    Takes array<boolean> or packbits binary (padded to whole bytes, so each
    row's length comes from its tokens)."""
    import pyarrow as pa
    lengths = np.diff(offsets)
    if pa.types.is_binary(col.type):
        bo = _binary_offsets(col)
        bits = np.unpackbits(_buffer(col, 2, np.uint8)[bo[0]:bo[-1]]) \
            .view(bool)
        bo = bo - bo[0]
        starts, have = bo[:-1] * 8, np.diff(bo) * 8
    else:
        mo = col.offsets.to_numpy().astype(_I64)
        bits = col.values.to_numpy(zero_copy_only=False)[mo[0]:mo[-1]]
        mo = mo - mo[0]
        starts, have = mo[:-1], np.diff(mo)
    if (have < lengths).any():
        raise ValueError("a mask row is shorter than its tokens row")
    if np.array_equal(starts, offsets[:-1]):
        return bits[:offsets[-1]]
    return bits[np.repeat(starts - offsets[:-1], lengths)
                + np.arange(offsets[-1])]


def apply_masks(df, params: EngineParams = DEFAULT_PARAMS):
    """K2 (inpaint + blend with a GIVEN mask), the post-join repair of the
    stream-stream pipeline (X6 -> repair) and of the marker-span merge.
    Reads `tokens` and the mask, `mask` (array<boolean>) or the bit-packed
    `mask_bin` (whichever is present), and returns its input with `tokens`
    repaired; empty-mask rows pass through unchanged (P10)."""
    import pyarrow as pa
    from pyspark.sql.types import (ArrayType, IntegerType, StructField,
                                   StructType)

    p = params
    mask_col = "mask_bin" if "mask_bin" in df.columns else "mask"
    out_schema = StructType([
        StructField("tokens", ArrayType(IntegerType())) if f.name == "tokens"
        else f for f in df.schema.fields])
    names = df.columns
    tok_i = names.index("tokens")

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            toks = b.column("tokens")
            flat, offsets = _decode_list(toks)
            out = apply_mask_batch(flat, _mask_flat(b.column(mask_col),
                                                    offsets), offsets, p)
            cols = [_passthrough(b, c) for c in names]
            cols[tok_i] = _encode_list(out, offsets, _validity(toks))
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(fn, out_schema)


def repair_text_arrow(df, params: EngineParams = DEFAULT_PARAMS):
    """Fused tokenize+repair over document text: the text column decodes
    straight into the char-token buffer (_decode_text; a zero-copy byte
    view on ASCII batches) and the whole batch goes into repair_batch.

    Input: (doc_id, source, text); output per-doc repair stats (no token
    lists shipped back — the aggregate shape used by q40)."""
    from pyspark.sql import functions as F

    def kernel(b):
        flat, offsets = _decode_text(b.column("text"))
        out, cov, wm, npass = repair_batch(flat, offsets, params)
        lengths = np.diff(offsets)
        # value-level evidence of the inpaint fills: per-row sum of the
        # FINAL repaired tokens (exact int64 — order-independent), the
        # quantity q40's unrolled 2-pass DuckDB oracle re-derives
        return [pa.array(lengths), pa.array(cov), _wm_array(wm),
                pa.array(npass),
                pa.array(_row_sums(out != flat, offsets, lengths)),
                pa.array(_row_sums(out, offsets, lengths))]

    keep = [F.col("doc_id").cast("long").alias("doc_id"),
            F.col("source").cast("string").alias("source")]
    return _arrow_operator(
        df, keep, ["text"],
        ["n_out long", "coverage double", "wm_token int", "pass_count int",
         "changed_tokens long", "token_sum long"], kernel)
