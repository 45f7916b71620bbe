"""Relational histogram + dominant-token operators (A1-A3, W1-W2, X1-X3).

The scan path is pure Catalyst: explode -> hash aggregate. The explode emits
n_tok rows per sequence, but partial (map-side) aggregation collapses them to
<= 256 rows per group per partition *before* the shuffle, so shuffle volume is
O(groups x 256), independent of token count — the property that makes this
hold at 10^12 sequences. The A1b flavor (`token_histogram_bincount` and its
fused text and float feeds) gets the same tree-merge from one mapInArrow
that bincounts each Arrow batch, never emitting the exploded rows
(SURVEY §4.3).

Reference: cv2.calcHist (watermark_detector.py:162-165), top-k modes
(:168-172), dominant-token selection (:172-189).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import mask_exprs as mx
from ..reference_kernels import TOPK_MODES
from .repair_vectorized import (_decode_list, _decode_text, _decoded,
                                _passthrough)


def token_histogram(df: DataFrame, group_cols: list[str] | None = None,
                    tokens_col: str = "tokens") -> DataFrame:
    """Per-group 256-bin token-value histogram: (group..., tok, cnt)."""
    group_cols = group_cols or ["source"]
    ex = df.select(*group_cols,
                   F.explode(mx.bucket_tokens(F.col(tokens_col))).alias("tok"))
    return ex.groupBy(*group_cols, "tok").agg(F.count("*").alias("cnt"))


def _group_codes(cols) -> np.ndarray:
    """Dense codes, 0..k-1 in first-appearance order, of the rows' group
    key tuples: each column dictionary-encodes with NULL as its own value,
    and the running code and the column's index re-factorize as one int64
    (kept below rows x dictionary size)."""
    codes = np.zeros(len(cols[0]), dtype=np.int64)
    for col in cols:
        enc = pc.dictionary_encode(col, null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        codes, _ = pd.factorize(codes * len(enc.dictionary) + idx)
    return codes


def _bincount_partial_batch(b, group_cols, g, lengths):
    """Bincount the uint8 token classes `g` (flat, `lengths` per row) per
    group key and return the partial-histogram RecordBatch, or None when
    the batch holds no token."""
    keys = [_passthrough(b, c) for c in group_cols]
    codes = _group_codes(keys)
    k = int(codes.max()) + 1
    key = np.repeat(codes << 8, lengths)
    key += g
    hist = np.bincount(key, minlength=k * 256)
    nz = np.flatnonzero(hist)
    if nz.size == 0:
        return None
    # one representative row per group code (codes are 0..k-1 in
    # first-appearance order, so first-occurrence indexes map 1:1)
    _, first_pos = np.unique(codes, return_index=True)
    rep_idx = pa.array(first_pos[nz // 256])
    return pa.RecordBatch.from_arrays(
        [col.take(rep_idx) for col in keys]
        + [pa.array((nz % 256).astype("int32")),
           pa.array(hist[nz].astype("int64"))],
        list(group_cols) + ["tok", "cnt"])


def _bincount_histogram(df: DataFrame, group_cols: list[str], col: str,
                        decode) -> DataFrame:
    """A1b: one mapInArrow decodes `col` into flat token classes
    (`decode`), bincounts each batch per group key, and a final
    groupBy(group, tok) sum tree-merges the partials. Rows whose `col` is
    NULL count nothing, as the explode path drops them."""
    src = df.select(*group_cols, col)
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}"
         for f in src.schema.fields if f.name != col]
        + ["tok int", "cnt long"])

    def fn(batches):
        for b, flat, offsets in _decoded(batches, col, decode):
            out = _bincount_partial_batch(
                b, group_cols, flat.astype(np.uint8, copy=False),
                np.diff(offsets))
            if out is not None:
                yield out

    partial = src.mapInArrow(fn, out_schema)
    return partial.groupBy(*group_cols, "tok") \
        .agg(F.sum("cnt").alias("cnt"))


def token_histogram_bincount(df: DataFrame,
                             group_cols: list[str] | None = None,
                             tokens_col: str = "tokens") -> DataFrame:
    """A1b: the at-scale flavor of token_histogram — identical result,
    different physical shape. Each Arrow batch's token lists bincount at
    memory speed (one np.bincount over group_code*256 + token_class per
    batch: the whole batch collapses to <= groups x 256 partial rows
    WITHOUT ever materializing n_tok exploded rows), then a final
    groupBy(group, tok) sum tree-merges the partials. Shuffle volume is
    O(groups x 256 x partitions), the same as the explode path's partial
    agg, but the map side does one vectorized pass instead of emitting and
    hash-aggregating n_tok rows per sequence — the swap SURVEY §4.3 calls
    out for 2048-token rows at 10^12 scale."""
    return _bincount_histogram(df, group_cols or ["source"], tokens_col,
                               _decode_list)


def token_histogram_bincount_text(df: DataFrame,
                                  group_cols: list[str] | None = None,
                                  text_col: str = "text") -> DataFrame:
    """A1b with tokenization FUSED into the bincount: the per-char tokens
    of `text_col` are those of transform(split(text, ''), ascii) — the
    code points, read zero-copy off the Arrow StringArray's bytes for an
    ASCII batch (_decode_text). An empty text counts one token 0; a NULL
    text counts nothing.

    Replaces the round-5 feed `token_histogram_bincount(split+transform)`,
    whose Catalyst stage materialized one single-char string plus one int
    per character (~15M objects at sf1) and shipped the int arrays through
    Arrow before the kernel saw a byte. Here the text column crosses once
    and the whole batch is one np.bincount — result identical (asserted in
    tests/test_histogram_paths.py)."""
    return _bincount_histogram(df, group_cols or ["source"], text_col,
                               _decode_text)


def _quantized(col):
    """Float lists -> P1 token classes clip(floor(v*128+128), 0, 255) over
    float64 — bit-identical to the Catalyst _quantize expression: *128 and
    +128 are exact in float64."""
    v, offsets = _decode_list(col, np.float64)
    g = np.clip(np.floor(v * 128.0 + 128.0), 0.0, 255.0)
    return g.astype(np.int64).astype(np.uint8), offsets


def token_histogram_bincount_floats(df: DataFrame,
                                    group_cols: list[str] | None = None,
                                    emb_col: str = "embedding") -> DataFrame:
    """A1b with P1 quantization FUSED into the bincount: float lists are
    read off the Arrow ListArray's values buffer and quantized in NumPy.

    Replaces the round-5 feed `token_histogram_bincount(transform(
    _quantize))`, which built a full int array per row in Catalyst and
    shipped it through Arrow. Result identical (tests/
    test_histogram_paths.py)."""
    return _bincount_histogram(df, group_cols or ["label"], emb_col,
                               _quantized)


def windowed_histogram(df: DataFrame, window_duration: str = "1 minute",
                       slide: str | None = None,
                       group_cols: list[str] | None = None) -> DataFrame:
    """X1/X2: tumbling (or sliding) event-time window histogram — works
    identically over batch and streaming DataFrames."""
    group_cols = group_cols or ["source"]
    win = (F.window("event_ts", window_duration, slide) if slide
           else F.window("event_ts", window_duration))
    ex = df.select(win.alias("window"), *group_cols,
                   F.explode(mx.bucket_tokens(F.col("tokens"))).alias("tok"))
    return ex.groupBy("window", *group_cols, "tok").agg(F.count("*").alias("cnt"))


def histogram_with_share(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """W1/W2: rank bins by count within the group and compute coverage share
    (count / total positions) — watermark_detector.py:168-175."""
    w = Window.partitionBy(*group_cols)
    order = Window.partitionBy(*group_cols).orderBy(F.desc("cnt"), F.desc("tok"))
    return (hist
            .withColumn("total", F.sum("cnt").over(w))
            .withColumn("coverage_pct", F.col("cnt") * 100.0 / F.col("total"))
            .withColumn("rank", F.row_number().over(order)))


def dominant_token(df_or_hist: DataFrame, group_cols: list[str] | None = None,
                   from_hist: bool = False) -> DataFrame:
    """A3: per group, the first of the top-10 modes with value in [100,250]
    and coverage in [1%,20%] (watermark_detector.py:172-189). Ties in count
    break toward the higher token value (engine spec, reference_kernels).

    Returns (group..., wm_token, coverage_pct).

    The histogram stage runs through the A1b bincount path (identical
    result to the explode path — asserted in tests/test_histogram_paths.py
    — but the map side does one np.bincount per Arrow batch instead of
    emitting and hash-aggregating n_tok rows per sequence: 2.4x faster on
    the 60k x 2048 bench input and the shape that holds at 10^12 rows).
    Pass a pre-built histogram with from_hist=True to choose the path
    yourself."""
    group_cols = group_cols or ["source"]
    hist = (df_or_hist if from_hist
            else token_histogram_bincount(df_or_hist, group_cols))
    ranked = histogram_with_share(hist, group_cols)
    qual = ranked.where((F.col("rank") <= TOPK_MODES)
                        & mx.qualifies_as_watermark(F.col("tok"),
                                                    F.col("coverage_pct")))
    pick = Window.partitionBy(*group_cols).orderBy("rank")
    return (qual.withColumn("pick", F.row_number().over(pick))
                .where(F.col("pick") == 1)
                .select(*group_cols, F.col("tok").alias("wm_token"),
                        F.col("coverage_pct")))
