"""Otsu binarization threshold from token histograms, as window SQL.

`otsu_sql` computes the between-class variance argmax with cumulative sums
ordered by bin: expressible in any ANSI engine, so DuckDB checks it
(SURVEY §4.3). It matches reference_kernels.otsu_threshold (ties -> smallest
t; thresholds with an empty class excluded). Every caller runs it: q30,
`otsu_repair` and the streaming `run_otsu_pipeline`. The threshold then
drives the per-row repair UDF below.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


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


def make_threshold_repair_udf(params=None):
    """Repair driven by a per-row (window/source-level) Otsu threshold:
    mask = detect_mask_threshold + run filter, then inpaint + blend."""
    from ..params import DEFAULT_PARAMS
    p = params or DEFAULT_PARAMS

    @pandas_udf("struct<tokens:array<int>,coverage:double>")
    def repair_thr(tokens: pd.Series, thr: pd.Series) -> pd.DataFrame:
        # whole-batch vectorized through the span-space kernel
        from .repair_vectorized import flatten_arrays, threshold_repair_batch
        flat, offsets = flatten_arrays(tokens)
        B = offsets.size - 1
        if B == 0:
            return pd.DataFrame({"tokens": [], "coverage": []})
        out, cov = threshold_repair_batch(
            np.asarray(flat, dtype=np.int32), offsets,
            thr.to_numpy().astype(np.int64), p)
        return pd.DataFrame({
            "tokens": [out[offsets[i]:offsets[i + 1]] for i in range(B)],
            "coverage": cov})

    return repair_thr


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
    from pyspark.sql import functions as F

    from ..operators.histogram import token_histogram
    group_cols = group_cols or ["source"]
    thr = otsu_sql(token_histogram(df, group_cols), group_cols)
    joined = df.join(F.broadcast(thr), group_cols, "left") \
        .withColumn("otsu_threshold",
                    F.coalesce(F.col("otsu_threshold"), F.lit(255)))
    r = make_threshold_repair_udf(params)(F.col("tokens"),
                                          F.col("otsu_threshold"))
    keep = [c for c in ("doc_id", "seq_no", "event_ts", "source", "n_tok")
            if c in df.columns]
    return (joined.withColumn("_r", r)
            .select(*keep, "otsu_threshold",
                    F.col("_r.tokens").alias("tokens"),
                    F.col("_r.coverage").alias("coverage")))
