"""spark-submit entry point (north_rule: "launched via spark-submit
--py-files on multi-executor clusters").

Batch:
    spark-submit --py-files engine.zip -m ... OR
    spark-submit run_pipeline.py --mode batch --input <path|table> \
        --output <dir> [--passes 2] [--profiled]

Streaming (exactly-once, resumable):
    spark-submit run_pipeline.py --mode stream --input <dir|table> \
        --output <dir> --checkpoint <dir>

Both modes repair through one mapInArrow operator
(operators.repair_vectorized.repair_sequences); --profiled (batch) uses the
per-source tuned-parameter repair instead.

The same module runs under plain `python` in local mode (the session
factory creates local[$SPARK_GRAFT_CPUS] when no master is set).

Imports are absolute so the file works BOTH as `python -m <pkg>.run_pipeline`
and as a bare spark-submit script (run as __main__ with the package shipped
via --py-files — relative imports have no parent package there).
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="token watermark detect+repair")
    ap.add_argument("--mode", choices=["batch", "stream"], default="batch")
    ap.add_argument("--input", required=True,
                    help="parquet dir or iceberg table of sequences")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir (required for stream)")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--tolerance", type=int, default=30)
    ap.add_argument("--kernel-size", type=int, default=3)
    ap.add_argument("--strength", type=float, default=1.0)
    ap.add_argument("--no-protect-text", action="store_true")
    ap.add_argument("--profiled", action="store_true",
                    help="classify sources and auto-tune params (J2)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark
    params = DEFAULT_PARAMS.with_(
        passes=args.passes, color_tolerance=args.tolerance,
        kernel_size=args.kernel_size, inpaint_strength=args.strength,
        protect_text=not args.no_protect_text)
    spark = get_spark("token-repair", cpus=args.cpus)

    if args.mode == "batch":
        from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
            repair_with_profiles)
        from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
            repair_sequences)
        from pdf_watermark_removal_otsu_inpaint_spark.sources.tables import (
            read_sequences, write_sequences)
        df = read_sequences(spark, args.input)
        if args.profiled:
            out = repair_with_profiles(df, params)
        else:
            out = repair_sequences(df, params)
        write_sequences(out, args.output, mode="overwrite")
        n = read_sequences(spark, args.output).count()
        print(f"repaired {n} sequences -> {args.output}")
    else:
        if not args.checkpoint:
            ap.error("--checkpoint is required for --mode stream")
        from pdf_watermark_removal_otsu_inpaint_spark.sources.tables import (
            read_sequences_stream)
        from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
            run_repair_pipeline)
        seq = read_sequences_stream(spark, args.input)
        q = run_repair_pipeline(seq, args.output, args.checkpoint, params)
        q.awaitTermination()
        print(f"stream drained -> {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
