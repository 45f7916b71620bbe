"""Document-profile operator (A10-A14): per-row classifier metrics ->
document type -> parameter set, broadcast-joined onto the stream (J2).

Reference: DocumentClassifier.classify + get_optimal_parameters
(document_classifier.py:33-229); first-page-derived parameters applied to the
whole document (cli.py:742-841) become a per-source profile dim.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import reference_kernels as rk
from ..params import PROFILE_PARAMS
from .repair_vectorized import _arrow_operator, _decode_list


def profile_params_df(spark) -> DataFrame:
    """The tiny doc_profile dim (profile -> engine params), for broadcast."""
    rows = [
        {"doc_type": k, "color_tolerance": p.color_tolerance,
         "kernel_size": p.kernel_size, "inpaint_strength": p.inpaint_strength,
         "passes": p.passes}
        for k, p in PROFILE_PARAMS.items() if k != "electronic-color"
    ]
    return spark.createDataFrame(rows)


def classify_sources(df: DataFrame, sample_per_source: int = 1) -> DataFrame:
    """Classify each source from its first row(s) (the reference classifies
    page 1 only, cli.py:744) and attach tuned parameters via broadcast join.

    Returns (source, doc_type, confidence, color_tolerance, kernel_size,
    inpaint_strength, passes)."""
    w = Window.partitionBy("source").orderBy("doc_id", "seq_no")
    probe = (df.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") <= sample_per_source))

    def kernel(b):
        toks = b.column("tokens")
        flat, offsets = _decode_list(toks)
        typ, conf = [None] * len(toks), [None] * len(toks)
        for i in np.flatnonzero(toks.is_valid().to_numpy(
                zero_copy_only=False)):
            metrics = rk.classify_metrics(
                flat[offsets[i]:offsets[i + 1]].astype(np.int64))
            typ[i], conf[i] = rk.decide_type(metrics)
        return [pa.array(typ, pa.string()), pa.array(conf, pa.float64())]

    classified = _arrow_operator(probe, ["source"], ["tokens"],
                                 ["doc_type string", "confidence double"],
                                 kernel)
    spark = df.sparkSession
    return classified.join(F.broadcast(profile_params_df(spark)), "doc_type")
