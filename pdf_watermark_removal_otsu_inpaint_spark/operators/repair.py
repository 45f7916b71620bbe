"""Detect-side and profiled repair operators as Arrow-batched pandas UDFs.

The detect UDFs (`make_detect_udf`, `make_auto_detect_udf`), the per-row
parameter repair of `repair_with_profiles` and the `make_pack_udf` layout
adapter live here. The two repair kernels themselves, fused detect+repair
(K1+K2) and repair with a given mask (K2), cross into Python only through
the mapInArrow operators of repair_vectorized (`repair_sequences`,
`repair_sequences_arrow_packed`, `apply_masks`); `repair_with_marker_spans`
composes a detect UDF with `apply_masks`.

The UDF bodies delegate to the whole-batch kernels, which are pinned row
by row against reference_kernels; the *Spark* behavior under test is
batching, schema, null/state handling, and plan shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..params import DEFAULT_PARAMS, EngineParams
from .repair_vectorized import apply_masks

DETECT_STRUCT = "struct<mask:array<boolean>,wm_token:int,coverage:double>"
REPAIR_STRUCT = ("struct<tokens:array<int>,coverage:double,wm_token:int,"
                 "pass_count:int>")


def _as_wm(w) -> int | None:
    if w is None:
        return None
    try:
        if isinstance(w, float) and np.isnan(w):
            return None
    except TypeError:
        pass
    return int(w)


def _wm_series_to_batch(wm: pd.Series) -> np.ndarray:
    """Column of optional wm tokens -> int32 vector, -1 = self-detect."""
    vals = wm.to_numpy()
    out = np.full(len(vals), -1, dtype=np.int32)
    for i, w in enumerate(vals):
        v = _as_wm(w)
        if v is not None:
            out[i] = v
    return out


def make_detect_udf(params: EngineParams = DEFAULT_PARAMS):
    """Detection-only kernel -> (mask, wm_token, coverage) struct.

    Engine analogue of detect_watermark_mask + refine_mask
    (watermark_detector.py:362-419, :755-789); feeds the `detect_masks`
    intermediate stream (SURVEY §1.2). Whole-batch vectorized: the batch
    flattens once into the span-space kernel (detect_batch), no per-row
    Python kernel calls."""
    p = params

    @pandas_udf(DETECT_STRUCT)
    def detect(tokens: pd.Series, wm: pd.Series) -> pd.DataFrame:
        from .repair_vectorized import detect_batch, flatten_arrays
        flat, offsets = flatten_arrays(tokens)
        B = offsets.size - 1
        if B == 0:
            return pd.DataFrame({"mask": [], "wm_token": [], "coverage": []})
        mask_flat, wm_out, cov = detect_batch(
            np.asarray(flat, dtype=np.int32), offsets, p,
            wm_in=_wm_series_to_batch(wm))
        return pd.DataFrame({
            "mask": [mask_flat[offsets[i]:offsets[i + 1]] for i in range(B)],
            "wm_token": [None if w < 0 else int(w) for w in wm_out],
            "coverage": cov})

    return detect


# ---------------------------------------------------------------------------
# High-level DataFrame operators (one code path for batch and streaming).
# ---------------------------------------------------------------------------
def detect_masks(df: DataFrame, params: EngineParams = DEFAULT_PARAMS,
                 wm_token: Column | None = None) -> DataFrame:
    """sequences -> detect_masks (doc_id, seq_no, event_ts, source, mask,
    wm_token, coverage). Column-pruned: only `tokens` reaches the UDF."""
    wm = wm_token if wm_token is not None else F.lit(None).cast("int")
    d = make_detect_udf(params)(F.col("tokens"), wm)
    keep = [c for c in ("doc_id", "seq_no", "event_ts", "source", "n_tok")
            if c in df.columns]
    return (df.withColumn("_d", d)
              .select(*keep, F.col("_d.mask").alias("mask"),
                      F.col("_d.wm_token").alias("wm_token"),
                      F.col("_d.coverage").alias("coverage")))


# ---------------------------------------------------------------------------
# Packed-binary path (the 10^12-scale physical layout).
#
# The logical input shape is fixed by BASELINE.json input_hint
# (tokens: array<int32>), but at scale the engine stores token payloads as
# little-endian int32 BinaryType blobs: parquet then decodes ONE value per
# row (no per-element assembly), Arrow ships one buffer, and the Python
# worker reads it zero-copy via np.frombuffer. Measured on this box, the
# packed path roughly doubles pipeline throughput and fixes 8->32-core
# scaling (see BENCH.md); make_pack_udf converts the list view to it.
# ---------------------------------------------------------------------------
def make_pack_udf():
    """array<int32> -> little-endian int32 binary blob."""

    @pandas_udf("binary")
    def pack(tokens: pd.Series) -> pd.Series:
        return pd.Series([np.asarray(t, dtype="<i4").tobytes()
                          for t in tokens.to_numpy()])

    return pack


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
    d = make_detect_udf(params)(F.col("tokens"), F.lit(None).cast("int"))
    n = F.size("tokens")
    lo = F.coalesce(F.col("marker_lo"), F.lit(0))
    hi = F.coalesce(F.col("marker_hi"), F.lit(0))
    span = mx.span_mask(n, lo, hi)
    stage = (df.withColumn("_d", d)
             .withColumn("_span", span)
             .withColumn("_merged", mx.mask_or(F.col("_d.mask"),
                                               F.col("_span"))))
    keep = [c for c in ("doc_id", "seq_no", "event_ts", "source", "n_tok")
            if c in df.columns]
    merged = stage.select(
        *keep,
        F.col("_d.wm_token").alias("wm_token"),
        mx.mask_count(F.col("_d.mask")).alias("detect_cnt"),
        mx.mask_count(F.col("_span")).alias("span_cnt"),
        mx.mask_count(F.col("_merged")).alias("merged_cnt"),
        "tokens",
        F.col("_d.mask").alias("detect_mask"),
        F.col("_merged").alias("mask"))
    return apply_masks(merged, params).withColumnRenamed("mask",
                                                         "merged_mask")


def make_auto_detect_udf(params: EngineParams = DEFAULT_PARAMS):
    """P6/P7 automatic detection mode (no known watermark token) —
    _automatic_detection_mode (watermark_detector.py:481-545). Opt-in
    operator; the default pipeline short-circuits undetected rows (P10)."""
    p = params

    @pandas_udf(DETECT_STRUCT)
    def detect_auto(tokens: pd.Series) -> pd.DataFrame:
        from .repair_vectorized import detect_auto_batch, flatten_arrays
        flat, offsets = flatten_arrays(tokens)
        B = offsets.size - 1
        if B == 0:
            return pd.DataFrame({"mask": [], "wm_token": [], "coverage": []})
        mask_flat, cov = detect_auto_batch(
            np.asarray(flat, dtype=np.int32), offsets, p)
        return pd.DataFrame({
            "mask": [mask_flat[offsets[i]:offsets[i + 1]] for i in range(B)],
            "wm_token": [None] * B,
            "coverage": cov})

    return detect_auto


# ---------------------------------------------------------------------------
# Profile-tuned repair (J2 end-to-end): classify each source once, broadcast
# the tiny params dim onto the stream, and run the kernel with PER-ROW
# parameters — the reference classifies page 1 and applies the tuned
# parameters to the whole document (cli.py:742-841).
# ---------------------------------------------------------------------------
def make_repair_profiled_udf(base: EngineParams = DEFAULT_PARAMS):
    b = base

    @pandas_udf(REPAIR_STRUCT)
    def repair_profiled(tokens: pd.Series, tol: pd.Series, kern: pd.Series,
                        strength: pd.Series, passes: pd.Series) -> pd.DataFrame:
        # per-row parameters come from a tiny profile dim (<= 4 distinct
        # combinations), so group rows by profile and run the whole-batch
        # kernel once per group — no per-row Python kernel calls
        from .repair_vectorized import flatten_arrays, repair_batch
        n = len(tokens)
        toks = tokens.to_numpy()
        key = pd.DataFrame({"t": tol.to_numpy(), "k": kern.to_numpy(),
                            "s": strength.to_numpy(), "p": passes.to_numpy()})
        out_t = [None] * n
        out_c = np.zeros(n)
        out_w: list = [None] * n
        out_p = np.zeros(n, dtype=np.int32)
        for (tl, k, st, ps), grp in key.groupby(["t", "k", "s", "p"],
                                                sort=False):
            idx = grp.index.to_numpy()
            flat, offsets = flatten_arrays(pd.Series([toks[i] for i in idx]))
            prm = b.with_(color_tolerance=int(tl), kernel_size=int(k),
                          inpaint_strength=float(st), passes=int(ps))
            res, cov, wm, npass = repair_batch(
                np.asarray(flat, dtype=np.int32), offsets, prm)
            for j, i in enumerate(idx):
                out_t[i] = res[offsets[j]:offsets[j + 1]]
                out_w[i] = None if wm[j] < 0 else int(wm[j])
            out_c[idx] = cov
            out_p[idx] = npass
        return pd.DataFrame({"tokens": out_t, "coverage": out_c,
                             "wm_token": out_w, "pass_count": out_p})

    return repair_profiled


def repair_with_profiles(df: DataFrame,
                         base: EngineParams = DEFAULT_PARAMS) -> DataFrame:
    """Classify each source from its first row (A10-A14), broadcast-join the
    tuned parameter dim (J2), repair with per-row parameters."""
    from .classify import classify_sources
    prof = classify_sources(df).select(
        "source", "doc_type", "color_tolerance", "kernel_size",
        "inpaint_strength", "passes")
    joined = df.join(F.broadcast(prof), "source", "left")
    r = make_repair_profiled_udf(base)(
        F.col("tokens"),
        F.coalesce(F.col("color_tolerance"), F.lit(base.color_tolerance)),
        F.coalesce(F.col("kernel_size"), F.lit(base.kernel_size)),
        F.coalesce(F.col("inpaint_strength"), F.lit(base.inpaint_strength)),
        F.coalesce(F.col("passes"), F.lit(base.passes)))
    keep = [c for c in ("doc_id", "seq_no", "event_ts", "source", "n_tok",
                        "doc_type") if c in joined.columns]
    return (joined.withColumn("_r", r)
            .select(*keep, F.col("_r.tokens").alias("tokens"),
                    F.col("_r.coverage").alias("coverage"),
                    F.col("_r.wm_token").alias("wm_token"),
                    F.col("_r.pass_count").alias("pass_count")))
