"""Native Catalyst column expressions for the token/mask algebra.

Everything here is JVM-side (higher-order functions over arrays — transform /
zip_with / aggregate / sequence): whole-stage-codegen friendly, no
Python in the hot path. These are the Spark mapping of SURVEY.md §2.2 P1-P11,
§2.7 U1, §2.8 F1-F10 and A5, with reference citations inline.

The heavyweight kernels (morphology K1, inpaint K2) run as mapInArrow
operators in operators/repair_vectorized.py, which also computes the
text-core protection (P4), the text-like guard (P5) and the saturation
predicate (P7); this module covers the parts Catalyst can own.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..reference_kernels import (BACKGROUND_THRESHOLD, WM_COV_HI, WM_COV_LO,
                                 WM_VALUE_HI, WM_VALUE_LO)


# --- P1: token value-class bucketing (grayscale projection analogue) --------
def bucket(tok: Column) -> Column:
    """Scalar token -> 0..255 value class (reference gray conversion,
    watermark_detector.py:159)."""
    return F.pmod(tok, F.lit(256))


def bucket_tokens(tokens: Column) -> Column:
    return F.transform(tokens, bucket)


# --- P2: color-match predicate -> raw mask (watermark_detector.py:439-441) --
def raw_color_mask(tokens: Column, wm_token: Column, tolerance: Column) -> Column:
    return F.transform(tokens, lambda t: F.abs(bucket(t) - wm_token) < tolerance)


# --- P3: background-protection predicate (watermark_detector.py:455) --------
def background_mask(tokens: Column) -> Column:
    return F.transform(tokens, lambda t: bucket(t) > F.lit(BACKGROUND_THRESHOLD))


# --- P8/P9/U1: positional mask algebra (watermark_detector.py:456-529) -------
def mask_or(m1: Column, m2: Column) -> Column:
    return F.zip_with(m1, m2, lambda a, b: a | b)


def mask_and_not(m1: Column, m2: Column) -> Column:
    """bitwise_and(mask, bitwise_not(prot)) — the protection application."""
    return F.zip_with(m1, m2, lambda a, b: a & ~b)


# --- A5: coverage scalar (watermark_remover.py:145) ---------------------------
def mask_coverage(mask: Column, n_tok: Column) -> Column:
    cnt = F.aggregate(mask, F.lit(0),
                      lambda acc, x: acc + x.cast("int"))
    return cnt.cast("double") / n_tok.cast("double")


def mask_count(mask: Column) -> Column:
    return F.aggregate(mask, F.lit(0), lambda acc, x: acc + x.cast("int"))


# --- F8: span mask constructor (create_qr_mask analogue, qr_detector.py:373) -
def span_mask(n_tok: Column, lo: Column, hi: Column) -> Column:
    """mask[lo:hi] = True over an n_tok-long row."""
    return F.transform(F.sequence(F.lit(0), n_tok - 1),
                       lambda i: (i >= lo) & (i < hi))


# --- U3: instance-mask max-combine (yolo_detector.py:224-230:
#     np.max(masks, axis=0) unions per-instance masks) ------------------------
def mask_max_combine(masks: Column, n_tok: Column) -> Column:
    """array<array<boolean>> -> positionwise union. Pure Catalyst fold:
    aggregate over the instance list with a zip_with OR combiner."""
    zero = F.transform(F.sequence(F.lit(0), n_tok - 1), lambda _: F.lit(False))
    return F.aggregate(masks, zero, mask_or)


# --- A3 helpers: the dominant-token qualification predicate -------------------
def qualifies_as_watermark(value: Column, coverage_pct: Column) -> Column:
    """watermark_detector.py:181: 100<=v<=250 and 1<=coverage%<=20."""
    return (value.between(WM_VALUE_LO, WM_VALUE_HI)
            & coverage_pct.between(WM_COV_LO, WM_COV_HI))


# --- dynamic radius (watermark_remover.py:146-149) ----------------------------
def dynamic_radius(coverage: Column, base_radius: Column, strength: Column) -> Column:
    return F.greatest(F.lit(2),
                      (base_radius + coverage * 10.0 * strength).cast("int"))


# --- per-row repair status (A6; reference per-page status records,
#     stats.py:59-65: success / partial / skipped) ---------------------------
def repair_status(coverage: Column, pass_count: Column,
                  max_passes: Column) -> Column:
    """skipped: nothing detected; success: converged before the pass limit
    (the mask emptied); partial: still detecting at the last allowed pass."""
    return (F.when(pass_count == 0, "skipped")
            .when(pass_count < max_passes, "success")
            .otherwise("partial"))
