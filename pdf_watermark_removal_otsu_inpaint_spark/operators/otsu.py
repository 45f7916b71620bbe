"""Otsu binarization threshold from token histograms, as window SQL.

`otsu_sql` computes the between-class variance argmax with cumulative sums
ordered by bin: expressible in any ANSI engine, so DuckDB checks it
(SURVEY §4.3). It matches reference_kernels.otsu_threshold (ties -> smallest
t; thresholds with an empty class excluded). Every caller runs it: q30,
`otsu_repair` and the streaming `run_otsu_pipeline`. In `otsu_repair` the
threshold then drives threshold_repair_batch, one mapInArrow over the
token rows.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..params import DEFAULT_PARAMS
from .histogram import token_histogram
from .repair_vectorized import (_arrow_operator, _decode_list, _encode_list,
                                _key_cols, _validity, threshold_repair_batch)


def otsu_sql(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """hist(group..., tok, cnt) -> (group..., otsu_threshold).

    between(t) = (mu_T*w0(t) - m0(t))^2 / (w0(t) * (N - w0(t))), argmax over
    occupied bins with both classes non-empty; ties -> smallest t. Because
    between(t) only changes at occupied bins, restricting the argmax to
    occupied bins is exact (see reference_kernels.otsu_threshold)."""
    g = Window.partitionBy(*group_cols)
    cum = (Window.partitionBy(*group_cols).orderBy("tok")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    scored = (hist
              .withColumn("w0", F.sum("cnt").over(cum))
              .withColumn("m0", F.sum(F.col("cnt") * F.col("tok")).over(cum))
              .withColumn("total", F.sum("cnt").over(g))
              .withColumn("mu_t", F.sum(F.col("cnt") * F.col("tok")).over(g))
              .where((F.col("w0") > 0) & (F.col("total") - F.col("w0") > 0))
              .withColumn(
                  "between",
                  F.pow(F.col("m0").cast("double") * F.col("total")
                        - F.col("mu_t").cast("double") * F.col("w0"),
                        F.lit(2.0))
                  / (F.col("w0") * (F.col("total") - F.col("w0")))))
    pick = Window.partitionBy(*group_cols).orderBy(F.desc("between"), F.asc("tok"))
    return (scored.withColumn("rn", F.row_number().over(pick))
            .where(F.col("rn") == 1)
            .select(*group_cols, F.col("tok").alias("otsu_threshold")))


def otsu_repair_windowed(df: DataFrame, duration: str = "1 minute",
                         params=None) -> DataFrame:
    """north_star, window-keyed: per-(event-time window, source) histograms
    feed the Otsu threshold that repairs that window's rows — a document
    window contaminated in one period gets that period's threshold, not a
    global one. Batch/micro-batch operator: group keys are
    (window(event_ts), source)."""
    from pyspark.sql import functions as F
    win = df.withColumn("win", F.window("event_ts", duration).start)
    out = otsu_repair(win, ["win", "source"], params)
    return out.drop("win") if "win" in out.columns else out


def otsu_repair(df: DataFrame, group_cols: list[str] | None = None,
                params=None) -> DataFrame:
    """The north_star composition as one batch operator (reused per
    micro-batch inside foreachBatch): group histogram (A1) -> Otsu threshold
    (window SQL) -> broadcast thresholds back -> threshold-mask repair (K2).

    Runs identically over a static table or inside a streaming micro-batch;
    the per-batch grouping mirrors the reference's per-page thresholding."""
    p = params or DEFAULT_PARAMS
    group_cols = group_cols or ["source"]
    thr = otsu_sql(token_histogram(df, group_cols), group_cols)
    joined = df.join(F.broadcast(thr), group_cols, "left") \
        .withColumn("otsu_threshold",
                    F.coalesce(F.col("otsu_threshold"), F.lit(255)))

    def kernel(b):
        toks = b.column("tokens")
        flat, offsets = _decode_list(toks)
        out, cov = threshold_repair_batch(
            flat, offsets, b.column("otsu_threshold").to_numpy(), p)
        return [_encode_list(out, offsets, _validity(toks)), pa.array(cov)]

    return _arrow_operator(joined, _key_cols(joined, ("otsu_threshold",)),
                           ["tokens"],
                           ["tokens array<int>", "coverage double"], kernel)
