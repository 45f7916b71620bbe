"""Detect-side and profiled repair operators, each one mapInArrow.

`detect_masks` (detect_refine per row, with an optional given watermark
token) and `detect_masks_auto` (the P6/P7 automatic mode) emit flat
masks; `repair_with_profiles` repairs with per-source tuned parameters;
`pack_tokens` converts the list layout to the packed one. Each runs one
whole-batch kernel of repair_vectorized through its Arrow codecs and
operator loop, as the repair operators there (`repair_sequences`,
`repair_sequences_arrow_packed`, `apply_masks`) do;
`repair_with_marker_spans` composes the detect operator with
`apply_masks`.

The kernels are pinned row by row against reference_kernels; the *Spark*
behavior under test is batching, schema, null handling, and plan shape.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..params import DEFAULT_PARAMS, EngineParams
from .repair_vectorized import (_arrow_operator, _decode_list, _encode_bin,
                                _encode_list, _encode_mask, _given_wm,
                                _key_cols, _validity, _wm_array,
                                apply_masks, detect_auto_batch, detect_batch,
                                repair_batch)


def _detect_operator(df: DataFrame, params: EngineParams, keep: list[str],
                     wm_token: Column | None = None) -> DataFrame:
    """detect_batch over `tokens` as one mapInArrow: the `keep` columns
    (which may include `tokens`) pass through and mask, wm_token and
    coverage are appended. `wm_token` (a Column, NULL = self-detect)
    gives a row's watermark token."""
    reads = [] if "tokens" in keep else ["tokens"]
    if wm_token is not None:
        reads.append(wm_token.cast("int").alias("_wm_in"))

    def kernel(b):
        toks = b.column("tokens")
        flat, offsets = _decode_list(toks)
        m, wm, cov = detect_batch(flat, offsets, params, wm_in=_given_wm(b))
        return [_encode_mask(m, offsets, _validity(toks)), _wm_array(wm),
                pa.array(cov)]

    return _arrow_operator(df, keep, reads, ["mask array<boolean>",
                                             "wm_token int",
                                             "coverage double"], kernel)


def detect_masks(df: DataFrame, params: EngineParams = DEFAULT_PARAMS,
                 wm_token: Column | None = None) -> DataFrame:
    """sequences -> detect_masks (the present doc_id, seq_no, event_ts,
    source, n_tok; mask, wm_token, coverage): the detection-only kernel,
    engine analogue of detect_watermark_mask + refine_mask
    (watermark_detector.py:362-419, :755-789), feeding the `detect_masks`
    intermediate stream (SURVEY §1.2). Only `tokens` (and the given
    `wm_token`) reach the kernel; a NULL tokens row gets a NULL mask."""
    return _detect_operator(df, params, _key_cols(df), wm_token)


def detect_masks_auto(df: DataFrame,
                      params: EngineParams = DEFAULT_PARAMS) -> DataFrame:
    """P6/P7 automatic detection mode (no known watermark token) —
    _automatic_detection_mode (watermark_detector.py:481-545): the present
    key columns, mask and coverage. Opt-in operator; the default pipeline
    short-circuits undetected rows (P10)."""
    def kernel(b):
        toks = b.column("tokens")
        flat, offsets = _decode_list(toks)
        m, cov = detect_auto_batch(flat, offsets, params)
        return [_encode_mask(m, offsets, _validity(toks)), pa.array(cov)]

    return _arrow_operator(df, _key_cols(df), ["tokens"],
                           ["mask array<boolean>", "coverage double"], kernel)


# ---------------------------------------------------------------------------
# Packed-binary path (the 10^12-scale physical layout).
#
# The logical input shape is fixed by BASELINE.json input_hint
# (tokens: array<int32>), but at scale the engine stores token payloads as
# little-endian int32 BinaryType blobs: parquet then decodes ONE value per
# row (no per-element assembly), Arrow ships one buffer, and the Python
# worker reads it zero-copy via np.frombuffer. Measured on this box, the
# packed path roughly doubles pipeline throughput and fixes 8->32-core
# scaling (32 cores, BENCH_r06.json); pack_tokens converts the list view to it.
# ---------------------------------------------------------------------------
def pack_tokens(df: DataFrame) -> DataFrame:
    """array<int32> -> little-endian int32 blob: every column but `tokens`
    passes through and `tokens_bin` (NULL for a NULL row) is appended."""
    def kernel(b):
        toks = b.column("tokens")
        flat, offsets = _decode_list(toks)
        return [_encode_bin(flat, offsets, _validity(toks))]

    return _arrow_operator(df, [c for c in df.columns if c != "tokens"],
                           ["tokens"], ["tokens_bin binary"], kernel)


# ---------------------------------------------------------------------------
# J3: marker-span mask merge (the QR path) — a detected marker region is
# expressed as a positional span, OR'd into the watermark mask, and repaired
# as one merged mask. Reference: qr_detector.py:373-400 (create span mask),
# watermark_detector.py:689-694 (wm_mask |= qr_mask).
# ---------------------------------------------------------------------------
def repair_with_marker_spans(df: DataFrame,
                             params: EngineParams = DEFAULT_PARAMS) -> DataFrame:
    """sequences + per-row marker span -> merged-mask repair (J3).

    Expects columns (tokens, marker_lo, marker_hi): the marker span is
    [marker_lo, marker_hi) (null = no marker). Emits the detect-mask count,
    the span count, the merged count (merged ⊇ each input by construction:
    zip_with OR), and the repaired tokens — repair runs ONCE on the merged
    mask, exactly like the reference's combined pass."""
    from ..functions import mask_exprs as mx
    keep = _key_cols(df)
    det = _detect_operator(df, params,
                           keep + ["tokens", "marker_lo", "marker_hi"])
    lo = F.coalesce(F.col("marker_lo"), F.lit(0))
    hi = F.coalesce(F.col("marker_hi"), F.lit(0))
    span = mx.span_mask(F.size("tokens"), lo, hi)
    stage = (det.withColumn("_span", span)
             .withColumn("_merged", mx.mask_or(F.col("mask"), F.col("_span"))))
    merged = stage.select(
        *keep, "wm_token",
        mx.mask_count(F.col("mask")).alias("detect_cnt"),
        mx.mask_count(F.col("_span")).alias("span_cnt"),
        mx.mask_count(F.col("_merged")).alias("merged_cnt"),
        "tokens",
        F.col("mask").alias("detect_mask"),
        F.col("_merged").alias("mask"))
    return apply_masks(merged, params).withColumnRenamed("mask",
                                                         "merged_mask")


# ---------------------------------------------------------------------------
# Profile-tuned repair (J2 end-to-end): classify each source once, broadcast
# the tiny params dim onto the stream, and run the kernel with PER-ROW
# parameters — the reference classifies page 1 and applies the tuned
# parameters to the whole document (cli.py:742-841).
# ---------------------------------------------------------------------------
def _row_positions(offsets, idx):
    """Flat positions of rows `idx` and their offsets as a batch of their
    own."""
    lens = offsets[idx + 1] - offsets[idx]
    sub = np.zeros(idx.size + 1, dtype=np.int64)
    np.cumsum(lens, out=sub[1:])
    return np.repeat(offsets[idx] - sub[:-1], lens) + np.arange(sub[-1]), sub


def repair_with_profiles(df: DataFrame,
                         base: EngineParams = DEFAULT_PARAMS) -> DataFrame:
    """Classify each source from its first row (A10-A14), broadcast-join the
    tuned parameter dim (J2), repair with per-row parameters."""
    from .classify import classify_sources
    knobs = ("color_tolerance", "kernel_size", "inpaint_strength", "passes")
    prof = classify_sources(df).select("source", "doc_type", *knobs)
    joined = df.join(F.broadcast(prof), "source", "left")
    reads = ["tokens"] + [F.coalesce(F.col(k), F.lit(getattr(base, k)))
                          .alias(f"_{k}") for k in knobs]

    def kernel(b):
        # per-row parameters come from a tiny profile dim (<= 4 distinct
        # combinations), so rows are grouped by profile and each group runs
        # the whole-batch kernel once
        toks = b.column("tokens")
        flat, offsets = _decode_list(toks)
        n = len(toks)
        out = flat.copy()
        cov, wm = np.zeros(n), np.full(n, -1, dtype=np.int32)
        npass = np.zeros(n, dtype=np.int32)
        per_row = np.column_stack(
            [b.column(f"_{k}").to_numpy().astype(np.float64) for k in knobs])
        combos, group = np.unique(per_row, axis=0, return_inverse=True)
        for i, (tol, kern, strength, passes) in enumerate(combos):
            idx = np.flatnonzero(group.reshape(-1) == i)
            pos, sub = _row_positions(offsets, idx)
            prm = base.with_(color_tolerance=int(tol), kernel_size=int(kern),
                             inpaint_strength=float(strength),
                             passes=int(passes))
            out[pos], cov[idx], wm[idx], npass[idx] = repair_batch(
                flat[pos], sub, prm)
        return [_encode_list(out, offsets, _validity(toks)), pa.array(cov),
                _wm_array(wm), pa.array(npass)]

    return _arrow_operator(
        joined, _key_cols(joined, ("doc_type",)), reads,
        ["tokens array<int>", "coverage double", "wm_token int",
         "pass_count int"], kernel)
