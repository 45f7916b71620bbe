"""Streaming semantics tests (SURVEY.md §5.2 item 3): windows (X1-X3), late
data (X4), stateful carry-over (X5), stream-stream join (X6), exactly-once
resume (X7/X8), salting (X9)."""

import glob
import os
import time
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from pdf_watermark_removal_otsu_inpaint_spark import reference_kernels as rk
from pdf_watermark_removal_otsu_inpaint_spark.operators import histogram as oh
from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
    detect_masks)
from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
    repair_sequences)
from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
from pdf_watermark_removal_otsu_inpaint_spark.sources.sequences import (
    SEQUENCES_DDL, generate_rows, sequences_df)
from pdf_watermark_removal_otsu_inpaint_spark.sources.synth import (
    synth_sequences)
from pdf_watermark_removal_otsu_inpaint_spark.streaming.metrics import (
    ProgressCapture)
from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
    SEQ_SCHEMA, file_stream, join_masks_with_sequences, repair_joined,
    run_repair_pipeline, salted_source_stats, session_stats_stream,
    windowed_hist_stream)
from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
    ExactlyOnceParquetSink)
from pdf_watermark_removal_otsu_inpaint_spark.streaming.state import (
    detect_stream_stateful)


def _seq_cols(df):
    return df.select("doc_id", "tokens", "n_tok", "source", "event_ts",
                     "seq_no")


def write_batches(spark, dfs, path, start=0):
    """Write each df as one parquet 'file drop' with ordered mtimes.
    `start` offsets the file index, so a later call can APPEND drops to a
    directory an earlier call populated (restart tests)."""
    os.makedirs(path, exist_ok=True)
    for i, df in enumerate(dfs, start=start):
        sub = f"{path}/_stage{i}"
        _seq_cols(df).coalesce(1).write.mode("overwrite").parquet(sub)
        src = glob.glob(f"{sub}/part-*.parquet")[0]
        dst = f"{path}/batch{i:03d}.parquet"
        os.replace(src, dst)
        t = time.time() + i  # strictly increasing mtimes
        os.utime(dst, (t, t))


def test_windowed_hist_stream_matches_batch(spark, tmp_path):
    d = str(tmp_path / "seq")
    df = sequences_df(spark, 40, seed=3)
    write_batches(spark, [df], d)
    stream = file_stream(spark, d)
    q = (windowed_hist_stream(stream, "1 minute")
         .writeStream.outputMode("complete")
         .format("memory").queryName("whist").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.window.start, r.source, r.tok): r.cnt
           for r in spark.sql("SELECT * FROM whist").collect()}
    exp = {(r.window.start, r.source, r.tok): r.cnt
           for r in oh.windowed_histogram(df, "1 minute").collect()}
    assert got == exp and len(exp) > 0


def test_session_window_stream(spark, tmp_path):
    d = str(tmp_path / "seq")
    df = sequences_df(spark, 40, seed=4)
    write_batches(spark, [df], d)
    q = (session_stats_stream(file_stream(spark, d), gap="30 seconds")
         .writeStream.outputMode("complete")
         .format("memory").queryName("sess").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess").collect()
    assert len(rows) > 0
    # per-doc totals must be conserved across session splits
    got = {}
    for r in rows:
        got[(r.source, r.doc_id)] = got.get((r.source, r.doc_id), 0) + r.rows_in_session
    exp = {(r.source, r.doc_id): r.cnt
           for r in df.groupBy("source", "doc_id")
                      .agg(F.count("*").alias("cnt")).collect()}
    assert got == exp


def test_late_rows_dropped_and_counted(spark, tmp_path):
    """X4: rows older than the watermark are dropped and show up in the
    listener's numRowsDroppedByWatermark."""
    d = str(tmp_path / "seq")
    fresh = sequences_df(spark, 30, seed=5)
    # Spark filters late records against the PREVIOUS batch's watermark
    # (one-batch lag), so advance the watermark with a second fresh batch
    # before delivering the late rows.
    fresh2 = (sequences_df(spark, 5, seed=7)
              .withColumn("event_ts",
                          F.col("event_ts") + F.expr("interval 1 hour")))
    late = (sequences_df(spark, 10, seed=6)
            .withColumn("event_ts",
                        F.col("event_ts") - F.expr("interval 300 days")))
    write_batches(spark, [fresh, fresh2, late], d)
    import json as _json
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        stream = file_stream(spark, d, max_files_per_trigger=1)
        q = (windowed_hist_stream(stream, "1 minute", watermark="5 minutes")
             .writeStream.outputMode("update")
             .format("memory").queryName("late").start())
        q.processAllAvailable()
        dropped_sync = sum(
            int(op.get("numRowsDroppedByWatermark", 0))
            for p in q.recentProgress
            for op in (p if isinstance(p, dict)
                       else _json.loads(p.json)).get("stateOperators", []))
        q.stop()
        assert dropped_sync > 0
        # listener delivery is async — poll briefly for the same signal (X8)
        deadline = time.time() + 15
        while time.time() < deadline and cap.rows_dropped_by_watermark() == 0:
            time.sleep(0.3)
        assert cap.rows_dropped_by_watermark() > 0
    finally:
        spark.streams.removeListener(cap)


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """X6: detect_masks stream joined to sequences stream == batch join."""
    seq_dir = str(tmp_path / "seq")
    mask_dir = str(tmp_path / "masks")
    df = sequences_df(spark, 40, seed=8)
    write_batches(spark, [df], seq_dir)
    masks_batch = detect_masks(_seq_cols(df))
    os.makedirs(mask_dir, exist_ok=True)
    masks_batch.coalesce(1).write.mode("overwrite").parquet(mask_dir + "/_m")
    os.replace(glob.glob(mask_dir + "/_m/part-*.parquet")[0],
               mask_dir + "/m0.parquet")

    seq_stream = file_stream(spark, seq_dir)
    mask_stream = (spark.readStream
                   .schema("doc_id string, seq_no long, event_ts timestamp, "
                           "source string, n_tok int, mask array<boolean>, "
                           "wm_token int, coverage double")
                   .option("maxFilesPerTrigger", 1).parquet(mask_dir))
    joined = join_masks_with_sequences(
        seq_stream, mask_stream.drop("source", "n_tok"))
    repaired = repair_joined(joined)
    q = (repaired.writeStream.outputMode("append")
         .format("memory").queryName("joined").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.doc_id, r.seq_no): r.tokens
           for r in spark.sql("SELECT * FROM joined").collect()}
    exp = {(r.doc_id, r.seq_no): r.tokens
           for r in repair_sequences(_seq_cols(df),
                                     DEFAULT_PARAMS.with_(passes=1)).collect()}
    assert len(got) == df.count()
    assert got == exp


def test_stateful_detect_carries_wm_token(spark, tmp_path):
    """X5: the wm token detected on a doc's first row is applied to later
    rows of the same doc where per-row detection fails (coverage > 20%)."""
    import datetime as dt
    d = str(tmp_path / "seq")
    n = 2000
    detectable = np.full(n, 255, dtype=np.int32)
    detectable[100:460] = 200  # 18% -> auto-detect finds 200
    ambiguous = np.full(n, 255, dtype=np.int32)
    ambiguous[100:700] = 200   # 30% -> per-row auto-detect fails
    rows1 = [("docA", detectable.tolist(), n, "web",
              dt.datetime(2026, 1, 1, 0, 0, 10), 0)]
    rows2 = [("docA", ambiguous.tolist(), n, "web",
              dt.datetime(2026, 1, 1, 0, 0, 20), 1)]
    df1 = spark.createDataFrame(rows1, SEQ_SCHEMA)
    df2 = spark.createDataFrame(rows2, SEQ_SCHEMA)
    write_batches(spark, [df1, df2], d)

    # per-row (stateless) baseline: second row detects nothing
    assert rk.detect_wm_token(ambiguous) is None

    stream = file_stream(spark, d, max_files_per_trigger=1)
    q = (detect_stream_stateful(stream)
         .writeStream.outputMode("append")
         .format("memory").queryName("stateful").start())
    q.processAllAvailable()
    q.stop()
    out = {r.seq_no: r for r in spark.sql("SELECT * FROM stateful").collect()}
    assert out[0].wm_token == 200 and not out[0].from_state
    assert out[1].wm_token == 200 and out[1].from_state
    assert out[1].coverage > 0  # state-supplied token produced a mask
    # and the mask matches the kernel given the carried token
    exp_mask, _ = rk.detect_refine(ambiguous, 200)
    assert out[1].mask == exp_mask.tolist()


def inject_crash(monkeypatch, owner, name, hit, after):
    """Make `owner.name` raise once, on the first call whose positional
    arguments satisfy `hit`: after doing its work when `after`, before it
    otherwise. This is a process death at that step of the sink."""
    orig = getattr(owner, name)
    armed = [True]

    def crashing(*args, **kw):
        fire = armed[0] and hit(*args)
        if fire and not after:
            armed[0] = False
            raise RuntimeError(f"injected crash before {name}")
        out = orig(*args, **kw)
        if fire:
            armed[0] = False
            raise RuntimeError(f"injected crash after {name}")
        return out

    monkeypatch.setattr(owner, name, crashing)


def committed_view(spark, sink):
    """(committed rows as {(doc_id, seq_no): tokens}, committed row count)."""
    rows = sink.read_committed(spark).collect()
    return {(r.doc_id, r.seq_no): r.tokens for r in rows}, len(rows)


def test_exactly_once_crash_between_data_and_commit(spark, tmp_path,
                                                    monkeypatch):
    """X7: a sink crash after data write but before the commit marker is
    replayed idempotently on restart; committed view equals an uninterrupted
    run; lineage metrics (X8) exist per batch."""
    seq_dir = str(tmp_path / "seq")
    df = sequences_df(spark, 30, seed=9)
    halves = [df.where(F.col("seq_no") % 2 == 0),
              df.where(F.col("seq_no") % 2 == 1)]
    write_batches(spark, halves, seq_dir)

    out1 = str(tmp_path / "out_uninterrupted")
    ck1 = str(tmp_path / "ck1")
    q = run_repair_pipeline(file_stream(spark, seq_dir), out1, ck1)
    q.awaitTermination(120)
    uninterrupted, _ = committed_view(spark, ExactlyOnceParquetSink(out1))

    out2 = str(tmp_path / "out_crashy")
    ck2 = str(tmp_path / "ck2")
    sink2 = ExactlyOnceParquetSink(out2)

    def start():
        return (file_stream(spark, seq_dir, max_files_per_trigger=1)
                .writeStream.foreachBatch(
                    lambda b, i: sink2(repair_sequences(b, DEFAULT_PARAMS), i))
                .option("checkpointLocation", ck2)
                .trigger(availableNow=True).start())

    with monkeypatch.context() as m:
        # batch 0's data lands, then the process dies inside the sink
        inject_crash(m, DataFrameWriter, "parquet",
                     lambda w, path, *a: path.endswith("/data/batch_id=0"),
                     after=True)
        q2 = start()
        with pytest.raises(Exception):
            q2.awaitTermination(120)
    assert os.listdir(f"{out2}/data") == ["batch_id=0"]
    assert sink2.committed_batches() == []  # crash left nothing visible

    start().awaitTermination(120)
    resumed, n = committed_view(spark, sink2)
    assert resumed == uninterrupted and n == len(resumed)  # no dup, no loss
    # replaying an already-committed batch is a no-op
    before = sorted(os.listdir(f"{out2}/_commits"))
    sink2(repair_sequences(_seq_cols(df).limit(1), DEFAULT_PARAMS), 0)
    assert sorted(os.listdir(f"{out2}/_commits")) == before
    # lineage metrics per batch (X8)
    m = sink2.read_metrics(spark)
    assert set(r.batch_id for r in m.collect()) == set(sink2.committed_batches())
    assert m.agg(F.sum("rows_out")).collect()[0][0] == len(resumed)


def _repeating_batch(spark, n_rows, n_repeats, seed, max_tok=512):
    """Static repaired batch of `n_rows` distinct (doc_id, seq_no) keys
    plus identical copies of the first `n_repeats` rows: a source replayed
    within one micro-batch. Returns (batch DataFrame, input rows)."""
    rows = generate_rows(n_rows, seed, min_tok=64, max_tok=max_tok)
    df = spark.createDataFrame(rows + rows[:n_repeats], SEQUENCES_DDL)
    return repair_sequences(_seq_cols(df), DEFAULT_PARAMS), rows


def test_exactly_once_sink_dedups_repeated_keys(spark, tmp_path):
    """X7 in-batch dedup: a batch that repeats 50 of its keys commits each
    key once, with the kernel's tokens, and leaves no staging files."""
    batch, rows = _repeating_batch(spark, 200, 50, seed=23)
    out = str(tmp_path / "out")
    sink = ExactlyOnceParquetSink(out)
    sink(batch, 7)

    got, n = committed_view(spark, sink)
    assert n == len(got) == len(rows) == 200
    metrics = sink.read_metrics(spark).collect()
    assert sum(r.rows_out for r in metrics) == sink.committed_rows() == 200
    for r in rows:
        want = rk.remove_watermark_multi_pass(
            np.asarray(r["tokens"], np.int32), passes=DEFAULT_PARAMS.passes)[0]
        assert got[(r["doc_id"], r["seq_no"])] == want.tolist()
    assert sorted(os.listdir(out)) == ["_commits", "data", "metrics"]
    assert os.listdir(f"{out}/data") == ["batch_id=7"]

    # replaying the same batch_id, even on a fresh sink object, is a no-op
    files = sorted(os.listdir(f"{out}/data/batch_id=7"))
    ExactlyOnceParquetSink(out)(batch, 7)
    assert sorted(os.listdir(f"{out}/data/batch_id=7")) == files
    assert committed_view(spark, sink) == (got, n)


def _record_writes(monkeypatch):
    """The paths DataFrameWriter.parquet is called with, from now on."""
    writes = []
    write = DataFrameWriter.parquet

    def recording_write(w, path, *a, **kw):
        writes.append(path)
        return write(w, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_write)
    return writes


def _sink_jobs(spark, sink, batch, batch_id):
    """Run one sink call and return the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"sink-call-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "exactly-once sink call")
    try:
        sink(batch, batch_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_exactly_once_sink_runs_batch_plan_once(spark, tmp_path, monkeypatch):
    """A batch with no repeated key: the batch plan executes exactly once,
    the sink neither deduplicates nor runs a Spark job for the metrics
    file, and the data write is the commit's only Spark job. A batch with
    repeated keys adds only the staging rewrite's jobs."""
    batch, rows = _repeating_batch(spark, 40, 0, seed=24)
    executed = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for b in it:
            executed.add(b.num_rows)
            yield b

    counted = batch.mapInArrow(count_rows, batch.schema)
    with monkeypatch.context() as m:
        inject_crash(m, type(batch), "dropDuplicates",
                     lambda *a: True, after=False)
        inject_crash(m, type(spark), "createDataFrame",
                     lambda *a: True, after=False)
        writes = _record_writes(m)
        out = str(tmp_path / "out")
        sink = ExactlyOnceParquetSink(out)
        jobs = _sink_jobs(spark, sink, counted, 0)

    assert executed.value == len(rows) == sink.committed_rows()
    assert writes == [f"{out}/data/batch_id=0"]
    assert os.listdir(f"{out}/metrics/batch_id=0")
    assert jobs == 1
    repeating, _ = _repeating_batch(spark, 40, 10, seed=24)
    rep_sink = ExactlyOnceParquetSink(str(tmp_path / "repeating"))
    # a Spark key check and lineage query around the rewrite made it 8
    assert _sink_jobs(spark, rep_sink, repeating, 0) < 8
    assert rep_sink.committed_rows() == 40


def test_exactly_once_sink_commits_null_keys_once(spark, tmp_path,
                                                  monkeypatch):
    """X7 with NULL keys: a repeated row whose seq_no is NULL and a row
    whose doc_id is NULL each commit once. NULL keys group together, as in
    Spark's dropDuplicates, so the repeat takes the staging rewrite."""
    rows = generate_rows(20, 41, min_tok=64, max_tok=512)
    null_seq = dict(rows[0], seq_no=None)
    null_doc = dict(rows[1], doc_id=None)
    df = spark.createDataFrame(rows + [null_seq, null_seq, null_doc],
                               SEQUENCES_DDL)
    writes = _record_writes(monkeypatch)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"))
    sink(repair_sequences(_seq_cols(df), DEFAULT_PARAMS), 0)

    got, n = committed_view(spark, sink)
    assert n == len(got) == sink.committed_rows() == 22
    assert (rows[0]["doc_id"], None) in got
    assert (None, rows[1]["seq_no"]) in got
    assert [p for p in writes if "/_staging/" in p]
    assert sum(r.rows_out for r in sink.read_metrics(spark).collect()) == 22


def _part_no(path):
    """The part number in a data file's name (part-00003-<uuid>...)."""
    return int(os.path.basename(path).split("-")[1])


def test_exactly_once_lineage_matches_written_files(spark, tmp_path):
    """X8: each metrics row describes one committed data file: its part
    number, its row count, and the coverage and masked-token sums Spark's
    own aggregate gives over that file. Covers the list kernel (n_tok,
    so masked_tokens), the packed kernel, a batch whose repeated keys
    went through the staging rewrite, and a batch whose empty write task
    leaves a gap in the part numbers."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        pack_tokens)
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences_arrow_packed)
    df = _seq_cols(sequences_df(spark, 20, seed=3))
    packed = pack_tokens(df)
    repeating, _ = _repeating_batch(spark, 40, 10, seed=5, max_tok=4096)
    gapped = repair_sequences(df.where(F.spark_partition_id() != 1),
                              DEFAULT_PARAMS)
    cases = {"list": (repair_sequences(df, DEFAULT_PARAMS), 20),
             "packed": (repair_sequences_arrow_packed(packed, DEFAULT_PARAMS),
                        20),
             "repeating": (repeating, 40),
             "gapped": (gapped, None)}
    for name, (batch, n_rows) in cases.items():
        out = str(tmp_path / name)
        sink = ExactlyOnceParquetSink(out)
        sink(batch, 2)

        files = glob.glob(f"{out}/data/batch_id=2/part-*.parquet")
        agg = [F.count("*").alias("rows_out"),
               F.round(F.sum("coverage"), 9).alias("coverage_sum")]
        if "n_tok" in batch.columns:
            agg.append(F.round(F.sum(F.col("coverage") * F.col("n_tok")))
                       .cast("long").alias("masked_tokens"))
        want = {_part_no(r.f): r.asDict() for r in
                spark.read.parquet(*files)
                .groupBy(F.input_file_name().alias("f")).agg(*agg).collect()}
        assert set(want) == {_part_no(f) for f in files
                             if pq.read_metadata(f).num_rows}, name
        got = {r.partition_id: r for r in sink.read_metrics(spark).collect()}
        assert set(got) == set(want), name
        for part, w in want.items():
            g = got[part]
            assert (g.batch_id, g.rows_out) == (2, w["rows_out"]), name
            assert abs(g.coverage_sum - w["coverage_sum"]) <= 1e-9, name
            if "masked_tokens" in w:
                assert g.masked_tokens == w["masked_tokens"], name
        assert sum(w["coverage_sum"] for w in want.values()) > 0, name
        n_rows = n_rows or sum(w["rows_out"] for w in want.values())
        assert sum(g.rows_out for g in got.values()) == n_rows, name
        assert sink.committed_rows() == n_rows, name
    # the empty task 1 wrote no file
    assert 1 not in got and max(got) > 1


# the sink's steps a crash can follow: (owner, callable, hit, after)
SINK_FAULTS = {
    "after_data_write": (DataFrameWriter, "parquet",
                         lambda w, path, *a: "/data/" in path, True),
    "after_staging_write": (DataFrameWriter, "parquet",
                            lambda w, path, *a: "/_staging/" in path, True),
    "before_staging_swap": (os, "replace",
                            lambda src, dst: "/_staging/" in str(src), False),
    "after_metrics_write": (pq, "write_table", lambda *a: True, True),
    "before_marker_rename": (os, "replace",
                             lambda src, dst: "/_commits/" in str(dst), False),
}


@pytest.fixture(scope="module")
def sink_fault_batches(spark, tmp_path_factory):
    """Two static batches (the second repeats keys, so the staging rewrite
    runs) and the committed view of an uninterrupted sink over them."""
    b0, _ = _repeating_batch(spark, 30, 0, seed=31)
    b1, _ = _repeating_batch(spark, 30, 10, seed=32)
    sink = ExactlyOnceParquetSink(str(tmp_path_factory.mktemp("clean")))
    sink(b0, 0)
    first = committed_view(spark, sink)
    sink(b1, 1)
    return b0, b1, first, committed_view(spark, sink)


@pytest.mark.parametrize("fault", sorted(SINK_FAULTS))
def test_exactly_once_sink_fault_matrix(spark, tmp_path, monkeypatch,
                                        sink_fault_batches, fault):
    """X7/X8: a crash at each step of the sink, replayed on a fresh sink
    object, commits what an uninterrupted sink commits; until then the
    crashed batch is invisible to both readers."""
    b0, b1, first, uninterrupted = sink_fault_batches
    out = str(tmp_path / "out")
    ExactlyOnceParquetSink(out)(b0, 0)
    with monkeypatch.context() as m:
        inject_crash(m, *SINK_FAULTS[fault])
        with pytest.raises(RuntimeError, match="injected crash"):
            ExactlyOnceParquetSink(out)(b1, 1)

    crashed = ExactlyOnceParquetSink(out)
    assert crashed.committed_batches() == [0]
    assert committed_view(spark, crashed) == first
    assert {r.batch_id for r in crashed.read_metrics(spark).collect()} == {0}

    sink = ExactlyOnceParquetSink(out)
    sink(b1, 1)
    got, n = committed_view(spark, sink)
    assert (got, n) == uninterrupted
    metrics = sink.read_metrics(spark).collect()
    assert {r.batch_id for r in metrics} == {0, 1}
    assert sum(r.rows_out for r in metrics) == sink.committed_rows() == n


# read_metrics schema of the files the sink writes, with and without the
# n_tok column that masked_tokens needs
_METRICS_FIELDS = [("partition_id", "int"), ("rows_out", "bigint"),
                   ("coverage_sum", "double"), ("masked_tokens", "bigint"),
                   ("batch_id", "int")]


def test_exactly_once_metrics_schema(spark, tmp_path):
    """X8: the metrics schema (names, types, nullability) for the list and
    the Arrow-packed kernel, and an empty micro-batch commits 0 rows with
    a readable zero-row metrics file."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        pack_tokens)
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences_arrow_packed)
    df = _seq_cols(sequences_df(spark, 20, seed=3))
    packed = pack_tokens(df)
    cases = {"list": (repair_sequences(df, DEFAULT_PARAMS), _METRICS_FIELDS),
             "packed": (repair_sequences_arrow_packed(packed, DEFAULT_PARAMS),
                        [f for f in _METRICS_FIELDS
                         if f[0] != "masked_tokens"])}
    for name, (batch, fields) in cases.items():
        want = [(c, t, True) for c, t in fields]
        empty = ExactlyOnceParquetSink(str(tmp_path / f"{name}_empty"))
        empty(batch.limit(0), 4)
        assert empty.committed_rows() == 0
        m = empty.read_metrics(spark)
        assert m.count() == 0
        assert [(f.name, f.dataType.simpleString(), f.nullable)
                for f in m.schema.fields] == want, name

        sink = ExactlyOnceParquetSink(str(tmp_path / name))
        sink(batch, 3)
        sink(batch.limit(0), 4)
        m = sink.read_metrics(spark)
        assert [(f.name, f.dataType.simpleString(), f.nullable)
                for f in m.schema.fields] == want, name
        assert m.agg(F.sum("rows_out")).collect()[0][0] == 20


def test_salted_stats_match_unsalted(spark):
    """X9: salt/unsalt two-stage aggregation is exact."""
    df = synth_sequences(spark, 2000, n_tok=64)
    salted = {r.source: (r.rows, r.tokens)
              for r in salted_source_stats(df, n_salts=8).collect()}
    plain = {r.source: (r.rows, r.tokens)
             for r in df.groupBy("source")
                        .agg(F.count("*").alias("rows"),
                             F.sum("n_tok").alias("tokens")).collect()}
    assert salted == plain
    # the heavy hitter actually is heavy (skew fixture)
    total = sum(v[0] for v in plain.values())
    assert plain["web"][0] / total >= 0.55


def test_sliding_window_stream_matches_batch(spark, tmp_path):
    """X2: sliding-window histogram (2 min window, 30 s slide)."""
    d = str(tmp_path / "seq")
    df = sequences_df(spark, 30, seed=11)
    write_batches(spark, [df], d)
    q = (windowed_hist_stream(file_stream(spark, d), "2 minutes", "30 seconds")
         .writeStream.outputMode("complete")
         .format("memory").queryName("slide").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.window.start, r.source, r.tok): r.cnt
           for r in spark.sql("SELECT * FROM slide").collect()}
    exp = {(r.window.start, r.source, r.tok): r.cnt
           for r in oh.windowed_histogram(df, "2 minutes", "30 seconds").collect()}
    assert got == exp and len(exp) > 0


def test_otsu_pipeline_streaming_matches_batch(spark, tmp_path):
    """north_star: hist -> Otsu -> flag -> repair per micro-batch, committed
    exactly-once; single-batch stream == batch operator output."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.otsu import (
        otsu_repair)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_otsu_pipeline)
    d = str(tmp_path / "seq")
    df = sequences_df(spark, 30, seed=12)
    write_batches(spark, [df], d)
    q = run_otsu_pipeline(file_stream(spark, d), str(tmp_path / "out"),
                          str(tmp_path / "ck"))
    q.awaitTermination(120)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"))
    got = {(r.doc_id, r.seq_no): (r.tokens, r.otsu_threshold)
           for r in sink.read_committed(spark).collect()}
    exp = {(r.doc_id, r.seq_no): (r.tokens, r.otsu_threshold)
           for r in otsu_repair(_seq_cols(df), ["source"]).collect()}
    assert got == exp and len(got) == 30


def test_stateful_pipeline_resumes_from_checkpoint(spark, tmp_path):
    """X5+X7+X8 combined: the stateful-detect -> join -> repair pipeline is
    killed after its first micro-batch commit and restarted from the same
    checkpoint; the committed view equals an uninterrupted run (state store
    recovery included)."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    seq_dir = str(tmp_path / "seq")
    df = sequences_df(spark, 24, seed=16)
    halves = [df.where(F.col("seq_no") % 2 == 0),
              df.where(F.col("seq_no") % 2 == 1)]
    write_batches(spark, halves, seq_dir)

    q = run_stateful_pipeline(lambda s: file_stream(s, seq_dir),
                              str(tmp_path / "out_a"), str(tmp_path / "ck_a"))
    q.awaitTermination(180)
    base = {(r.doc_id, r.seq_no): r.tokens
            for r in ExactlyOnceParquetSink(str(tmp_path / "out_a"))
            .read_committed(spark).collect()}

    # crashy run: let batch 0 commit, kill the query before batch 1 commits
    out_b = str(tmp_path / "out_b")
    ck_b = str(tmp_path / "ck_b")
    sink_b = ExactlyOnceParquetSink(out_b)
    iso = spark.newSession()

    def build_query(crash_on):
        seq = file_stream(iso, seq_dir, max_files_per_trigger=1)
        masks = detect_stream_stateful(seq, packed=True,
                                       event_time_col="event_ts")
        joined = join_masks_with_sequences(seq, masks,
                                           seq_watermark="10 minutes",
                                           mask_watermark=None)
        repaired = repair_joined(joined)

        def process(batch_df, batch_id):
            if batch_id in crash_on:
                raise RuntimeError("injected crash")
            sink_b(batch_df, batch_id)

        return (repaired.writeStream.foreachBatch(process)
                .option("checkpointLocation", ck_b)
                .trigger(availableNow=True).start())

    q2 = build_query(crash_on={1})
    with pytest.raises(Exception):
        q2.awaitTermination(180)
    assert 0 in sink_b.committed_batches()

    q3 = build_query(crash_on=set())
    q3.awaitTermination(180)
    resumed = {(r.doc_id, r.seq_no): r.tokens
               for r in sink_b.read_committed(spark).collect()}
    assert resumed == base


def test_observe_metrics_surface_in_progress(spark, tmp_path):
    """A8: df.observe ingest metrics appear in streaming progress."""
    import json as _json
    d = str(tmp_path / "seq")
    df = sequences_df(spark, 20, seed=17)
    write_batches(spark, [df], d)
    q = run_repair_pipeline(file_stream(spark, d), str(tmp_path / "out"),
                            str(tmp_path / "ck"))
    q.awaitTermination(120)
    rows_in = 0
    for p in q.recentProgress:
        pj = p if isinstance(p, dict) else _json.loads(p.json)
        m = pj.get("observedMetrics", {}).get("ingest")
        if m:
            rows_in += int(m["rows_in"])
    assert rows_in == 20


def test_default_chain_resumes_across_restart_rocksdb(spark, tmp_path):
    """Default chain (shard-keyed detect + X6 join, RocksDB store with
    CHANGELOG CHECKPOINTING): the query runs to completion on the first
    file drop, stops, a second drop arrives, and a new query on the SAME
    checkpoint processes exactly the new rows — with the typed detect
    state RECOVERED from the RocksDB changelog across the restart.

    The fixture discriminates recovery from re-detection: the run-2 row is
    an AMBIGUOUS pattern (not self-detectable — coverage too high), so its
    repair is correct ONLY if the wm token cached from run 1 survived the
    restart; lost state would leave the row unrepaired."""
    import datetime as dt

    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    n = 2000
    detectable = np.full(n, 255, dtype=np.int32)
    detectable[100:460] = 200
    ambiguous = np.full(n, 255, dtype=np.int32)
    ambiguous[100:700] = 200
    t0 = dt.datetime(2026, 1, 1, 0, 0, 10)
    d = str(tmp_path / "seq")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    rows1 = [("docA", detectable.tolist(), n, "web", t0, 0)]
    rows2 = [("docA", ambiguous.tolist(), n, "web",
              t0 + dt.timedelta(seconds=10), 1)]
    write_batches(spark, [spark.createDataFrame(rows1, SEQ_SCHEMA)], d)
    q1 = run_stateful_pipeline(
        lambda s: file_stream(s, d, max_files_per_trigger=1), out, ck)
    q1.awaitTermination(180)
    # every stateful operator in the chain (detect AND the X6 join)
    # reports RocksDB custom metrics in its progress — the provider is
    # engaged per-operator, not just configured on the session
    ops = [op for p in q1.recentProgress
           for op in p.get("stateOperators", [])]
    assert ops, "no stateOperators in progress"
    assert all(any(k.startswith("rocksdb") for k in op["customMetrics"])
               for op in ops), [sorted(op["customMetrics"])[:3]
                                for op in ops]
    sink = ExactlyOnceParquetSink(out)
    got1 = {(r.doc_id, r.seq_no): r.tokens
            for r in sink.read_committed(spark).collect()}
    assert set(got1) == {("docA", 0)}

    write_batches(spark, [spark.createDataFrame(rows2, SEQ_SCHEMA)], d,
                  start=1)
    q2 = run_stateful_pipeline(
        lambda s: file_stream(s, d, max_files_per_trigger=1), out, ck)
    q2.awaitTermination(180)
    got2 = {(r.doc_id, r.seq_no): r.tokens
            for r in sink.read_committed(spark).collect()}
    assert set(got2) == {("docA", 0), ("docA", 1)}

    # run-2 row repaired with the RECOVERED wm token: equals the reference
    # repair under wm=200, and differs from the unrepaired input (which is
    # what a state-less re-detection would have produced)
    exp, _, _ = rk.remove_watermark(ambiguous, 200)
    assert got2[("docA", 1)] == exp.tolist()
    assert got2[("docA", 1)] != ambiguous.tolist()

    # changelog checkpointing is genuinely ACTIVE, not silently ignored:
    # the state checkpoint carries .changelog files (per-batch deltas)
    changelogs = glob.glob(f"{ck}/state/**/*.changelog", recursive=True)
    assert changelogs, "no RocksDB changelog files in the checkpoint"


def test_state_partition_count_pinned_across_resume(spark, tmp_path):
    """The sizing docstring's checkpoint-compatibility claim, pinned: a
    chain started with session_conf shuffle.partitions=4 and RESUMED under
    a conflicting session_conf (16) keeps the checkpointed 4 state
    partitions (Spark reads the count from the offset log, the conf is
    ignored on resume), recovers detect state, and commits exactly the new
    rows — resizing state partitions requires a fresh checkpoint, not a
    conf change."""
    import datetime as dt

    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    n = 2000
    detectable = np.full(n, 255, dtype=np.int32)
    detectable[100:460] = 200
    ambiguous = np.full(n, 255, dtype=np.int32)
    ambiguous[100:700] = 200
    t0 = dt.datetime(2026, 1, 1, 0, 0, 10)
    d, out, ck = (str(tmp_path / p) for p in ("seq", "out", "ck"))
    write_batches(spark, [spark.createDataFrame(
        [("docA", detectable.tolist(), n, "web", t0, 0)], SEQ_SCHEMA)], d)
    q1 = run_stateful_pipeline(
        lambda s: file_stream(s, d, max_files_per_trigger=1), out, ck,
        session_conf={"spark.sql.shuffle.partitions": "4"})
    assert q1.awaitTermination(180), "q1 timed out"

    write_batches(spark, [spark.createDataFrame(
        [("docA", ambiguous.tolist(), n, "web",
          t0 + dt.timedelta(seconds=10), 1)], SEQ_SCHEMA)], d, start=1)
    q2 = run_stateful_pipeline(
        lambda s: file_stream(s, d, max_files_per_trigger=1), out, ck,
        session_conf={"spark.sql.shuffle.partitions": "16"})
    assert q2.awaitTermination(180), "q2 timed out"
    resumed_parts = {op.get("numShufflePartitions")
                     for p in q2.recentProgress
                     for op in p.get("stateOperators", [])}
    assert resumed_parts == {4}, resumed_parts
    got = {(r.doc_id, r.seq_no): r.tokens
           for r in ExactlyOnceParquetSink(out).read_committed(
               spark).collect()}
    assert set(got) == {("docA", 0), ("docA", 1)}
    # the run-2 ambiguous row is repaired ONLY with the wm token recovered
    # from run-1 state: the resume carried state, not just the row count
    exp, _, _ = rk.remove_watermark(ambiguous, 200)
    assert got[("docA", 1)] == exp.tolist()


def test_rate_stream_produces_sequences(spark):
    """stream_smoke (FIXTURES §4): the rate-source synthetic feed yields
    schema-correct sequence rows that flow through the windowed histogram."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        rate_stream, windowed_hist_stream)
    seq = rate_stream(spark, rows_per_sec=200, n_tok=256)
    q = (windowed_hist_stream(seq, "10 seconds", watermark="1 minute")
         .writeStream.outputMode("complete")
         .format("memory").queryName("rate_smoke").start())
    deadline = time.time() + 45
    rows = 0
    while time.time() < deadline and rows == 0:
        time.sleep(2)
        rows = spark.sql("SELECT count(*) FROM rate_smoke").collect()[0][0]
    q.stop()
    assert rows > 0


def test_make_sink_contract(spark, tmp_path):
    """Sink factory: parquet fallback in this image (no Iceberg jars), and
    the MERGE path's SQL carries the exactly-once contract — keyed ON
    (doc_id, seq_no), UPDATE on match, INSERT otherwise."""
    from pdf_watermark_removal_otsu_inpaint_spark.sources.tables import (
        iceberg_available)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
        ExactlyOnceParquetSink, IcebergMergeSink, make_sink)
    # this image has no Iceberg runtime: path destinations AND catalog names
    # both degrade to the commit-marker parquet sink
    assert not iceberg_available(spark)
    assert isinstance(make_sink(str(tmp_path / "out"), spark),
                      ExactlyOnceParquetSink)
    import shutil as _sh
    try:
        assert isinstance(make_sink("cat.db.repaired", spark),
                          ExactlyOnceParquetSink)
    finally:
        # the parquet fallback treats the catalog name as a relative path
        # and creates its _commits dir — don't leave it in the repo cwd
        _sh.rmtree("cat.db.repaired", ignore_errors=True)
    # the MERGE statement itself (exercised the day a catalog exists)
    m = IcebergMergeSink("cat.db.repaired")
    sql = m.merge_sql()
    assert "MERGE INTO cat.db.repaired t" in sql
    assert "t.doc_id = u.doc_id AND t.seq_no = u.seq_no" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    assert m.ledger == "cat.db.repaired_commits"
    # replay guard: unknown ledger -> not committed (first run proceeds)
    assert m.is_committed(spark, 0) is False


def test_dedup_stream_drops_replayed_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed (doc_id, seq_no) row within
    the watermark horizon is emitted once; state stays watermark-bounded."""
    import datetime as dt

    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        dedup_stream)
    d = str(tmp_path / "seq")
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    tok = [255] * 16
    rows1 = [("docA", tok, 16, "web", base, 0),
             ("docA", tok, 16, "web", base, 1)]
    # batch 2 replays seq_no=1 and adds seq_no=2
    rows2 = [("docA", tok, 16, "web", base + dt.timedelta(seconds=5), 1),
             ("docA", tok, 16, "web", base + dt.timedelta(seconds=10), 2)]
    write_batches(spark, [spark.createDataFrame(rows1, SEQ_SCHEMA),
                          spark.createDataFrame(rows2, SEQ_SCHEMA)], d)
    q = (dedup_stream(file_stream(spark, d, max_files_per_trigger=1))
         .select("doc_id", "seq_no")
         .writeStream.outputMode("append")
         .format("memory").queryName("dedup_stream").start())
    q.processAllAvailable()
    q.stop()
    got = sorted((r.doc_id, r.seq_no) for r in
                 spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == [("docA", 0), ("docA", 1), ("docA", 2)]


def test_window_detect_pipeline_matches_batch(spark, tmp_path):
    """north_star A-chain: per-(window, source) dominant-token detection
    drives repair with the token GIVEN; streaming result == the same
    composition run as one batch, and == the kernel with the window token."""
    d = str(tmp_path / "seq")
    df = sequences_df(spark, 40, seed=23)
    write_batches(spark, [df], d)
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        dominant_token)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_window_detect_pipeline)
    q = run_window_detect_pipeline(file_stream(spark, d),
                                   str(tmp_path / "out"), str(tmp_path / "ck"),
                                   duration="1 minute")
    q.awaitTermination(180)
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"))
    got = {(r.doc_id, r.seq_no): (r.tokens, r.wm_token)
           for r in sink.read_committed(spark).collect()}
    # batch equivalent of the same composition
    win = _seq_cols(df).withColumn("win", F.window("event_ts", "1 minute").start)
    dom = dominant_token(win, ["win", "source"]) \
        .select("win", "source", F.col("wm_token").alias("_win_wm"))
    joined = win.join(F.broadcast(dom), ["win", "source"], "left")
    exp = {(r.doc_id, r.seq_no): (r.tokens, r.wm_token)
           for r in repair_sequences(joined, DEFAULT_PARAMS,
                                     wm_token=F.col("_win_wm")).collect()}
    assert len(got) == df.count()
    assert got == exp
    # spot-check the kernel with the window-level token on one repaired row
    wm_rows = [k for k, v in got.items() if v[1] is not None]
    assert wm_rows, "no window produced a dominant token"
    doc_id, seq_no = wm_rows[0]
    src = {(r["doc_id"], r["seq_no"]): r["tokens"]
           for r in df.select("doc_id", "seq_no", "tokens").collect()}
    toks = np.array(src[(doc_id, seq_no)])
    wm = got[(doc_id, seq_no)][1]
    exp_t, _, _ = rk.remove_watermark(toks, wm)
    assert got[(doc_id, seq_no)][0] == exp_t.astype(np.int32).tolist()


def _wm_fill(n, token, lo, hi):
    a = np.full(n, 255, dtype=np.int32)
    a[lo:hi] = token
    return a


def test_stateful_pipeline_dial_guards(spark, tmp_path):
    """run_stateful_pipeline rejects a DataFrame: the stream must be built
    on the query's isolated session, so it takes a stream factory."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    with pytest.raises(TypeError, match="stream factory"):
        run_stateful_pipeline(spark.range(1), "o", "c")


def test_session_conf_sizes_state_partitions(spark, tmp_path):
    """`session_conf` lands on the chain's isolated session: sizing
    spark.sql.shuffle.partitions there sets the STATE partition count
    (every state partition pays a fixed RocksDB open/commit per
    micro-batch, so the count must track per-batch volume — the
    operational knob the pipeline docstring documents), the committed
    rows are invariant under it, and the caller's session is untouched."""
    import json as _json

    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    seq_dir = str(tmp_path / "seq")
    write_batches(spark, [sequences_df(spark, 24, seed=16)], seq_dir)
    caller_parts = spark.conf.get("spark.sql.shuffle.partitions")
    outs, progress = {}, {}
    for tag, conf in (("default", None),
                      ("sized", {"spark.sql.shuffle.partitions": "4"})):
        q = run_stateful_pipeline(
            lambda s: file_stream(s, seq_dir),
            str(tmp_path / f"out_{tag}"), str(tmp_path / f"ck_{tag}"),
            session_conf=conf)
        q.awaitTermination(180)
        progress[tag] = [_json.loads(p.json) for p in q.recentProgress]
        outs[tag] = {(r.doc_id, r.seq_no): (r.tokens, r.wm_token)
                     for r in ExactlyOnceParquetSink(
                         str(tmp_path / f"out_{tag}"))
                     .read_committed(spark).collect()}
    assert outs["default"] == outs["sized"] and len(outs["sized"]) == 24
    assert spark.conf.get("spark.sql.shuffle.partitions") == caller_parts
    sized_parts = {so.get("numShufflePartitions")
                   for p in progress["sized"]
                   for so in (p.get("stateOperators") or [])}
    assert sized_parts == {4}, sized_parts


def test_session_conf_rejects_state_store_keys(spark, tmp_path):
    """The chain always runs on RocksDB with changelog checkpointing:
    session_conf is applied after ROCKSDB_CONF, so a provider or changelog
    key passed through it would silently replace that store. Such keys
    raise instead of being applied."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.state import (
        ROCKSDB_CONF)
    seq_dir = str(tmp_path / "seq")
    for key in ROCKSDB_CONF:
        with pytest.raises(ValueError, match="always runs on RocksDB"):
            run_stateful_pipeline(
                lambda s: file_stream(s, seq_dir),
                str(tmp_path / "out"), str(tmp_path / "ck"),
                session_conf={key: "whatever"})


def test_join_free_chain_matches_joined_chain(spark, tmp_path):
    """join_free=True (state op passes tokens through, repair runs on its
    output, no X6 join) commits EXACTLY the rows of the joined default —
    across micro-batches with carry-over."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_stateful_pipeline)
    outs = {}
    for tag, jf in (("joined", False), ("jfree", True)):
        seq_dir = str(tmp_path / f"seq_{tag}")
        df = sequences_df(spark, 24, seed=16)
        halves = [df.where(F.col("seq_no") % 2 == 0),
                  df.where(F.col("seq_no") % 2 == 1)]
        write_batches(spark, halves, seq_dir)
        q = run_stateful_pipeline(
            lambda s: file_stream(s, seq_dir),
            str(tmp_path / f"out_{tag}"), str(tmp_path / f"ck_{tag}"),
            join_free=jf)
        q.awaitTermination(180)
        outs[tag] = {(r.doc_id, r.seq_no): (r.tokens, r.wm_token)
                     for r in ExactlyOnceParquetSink(
                         str(tmp_path / f"out_{tag}"))
                     .read_committed(spark).collect()}
    assert outs["joined"] == outs["jfree"] and len(outs["jfree"]) == 24


def test_join_free_chain_has_single_stateful_operator(spark, tmp_path):
    """Plan shape of the join-free chain: exactly ONE stateful operator
    (the shard-keyed detect) and NO stream-stream join — the whole point
    is that neither stream buffers in join state."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        repair_joined)
    d = str(tmp_path / "seq")
    write_batches(spark, [sequences_df(spark, 4, seed=5)], d)
    stream = file_stream(spark.newSession(), d)
    enriched = detect_stream_stateful(stream, packed=True, with_tokens=True)
    out = repair_joined(enriched)
    q = (out.writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    import json as _json
    prog = _json.loads(q.lastProgress.json) if q.lastProgress else {}
    q.stop()
    n_state = (prog.get("stateOperators") or [])
    assert len(n_state) == 1, f"expected 1 stateful operator, got {n_state}"
    assert "symmetricHashJoin" not in _json.dumps(prog)


def test_stateful_detect_packed_masks_match_unpacked(spark, tmp_path):
    """X5 packed output (mask_bin, the X6 wire format): unpacking the
    bit-packed masks bit-for-bit reproduces the array<boolean> output,
    across carry-over batches."""
    import datetime as dt
    n = 2000
    det = _wm_fill(n, 200, 100, 460)
    amb = _wm_fill(n, 200, 100, 700)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 10)
    batches = [
        [("docA", det.tolist(), n, "web", t0, 0),
         ("docB", amb.tolist(), n, "web", t0, 0)],
        [("docA", amb.tolist(), n, "web",
          t0 + dt.timedelta(seconds=10), 1)],
    ]
    outs = {}
    for tag, packed in (("u", False), ("p", True)):
        d = str(tmp_path / f"seq_{tag}")
        write_batches(spark, [spark.createDataFrame(b, SEQ_SCHEMA)
                              for b in batches], d)
        q = (detect_stream_stateful(file_stream(spark, d,
                                                max_files_per_trigger=1),
                                    packed=packed)
             .writeStream.outputMode("append")
             .format("memory").queryName(f"pk_{tag}").start())
        q.processAllAvailable()
        q.stop()
        got = {}
        for r in spark.sql(f"SELECT * FROM pk_{tag}").collect():
            if packed:
                m = np.unpackbits(np.frombuffer(bytes(r.mask_bin),
                                                dtype=np.uint8),
                                  count=n).astype(bool).tolist()
            else:
                m = list(r.mask)
            got[(r.doc_id, r.seq_no)] = (m, r.wm_token, r.from_state)
        outs[tag] = got
    assert outs["u"] == outs["p"]
    assert len(outs["u"]) == 3
    assert outs["u"][("docA", 1)][1:] == (200, True)   # carried over
    assert any(any(m) for m, _, _ in outs["u"].values())  # non-trivial


def test_stateful_coarse_state_expires_after_watermark(spark, tmp_path):
    """X5 TTL: a doc silent past the 600 s horizon is dropped from its
    shard's cache (or its shard's timer clears the shard), so its next row
    self-detects from scratch (bounded state at 10^12 docs)."""
    import datetime as dt
    n = 2000
    detectable = _wm_fill(n, 200, 100, 460)
    ambiguous = _wm_fill(n, 200, 100, 700)  # not self-detectable
    t0 = dt.datetime(2026, 1, 1, 0, 0, 10)
    late = dt.datetime(2026, 1, 1, 2, 0, 0)  # wm >> t0 + 600 s
    batches = [
        [("docA", detectable.tolist(), n, "web", t0, 0)],
        # advance the watermark far past docA's horizon
        [("docB", detectable.tolist(), n, "web", late, 0)],
        # spacer so docA's expiry materializes while docA is absent
        [("docC", detectable.tolist(), n, "web",
          late + dt.timedelta(seconds=10), 0)],
        [("docA", ambiguous.tolist(), n, "web",
          late + dt.timedelta(seconds=20), 1)],
    ]
    d = str(tmp_path / "seq")
    write_batches(spark, [spark.createDataFrame(b, SEQ_SCHEMA)
                          for b in batches], d)
    q = (detect_stream_stateful(
            file_stream(spark, d, max_files_per_trigger=1))
         .writeStream.outputMode("append")
         .format("memory").queryName("st_ttl_xc").start())
    q.processAllAvailable()
    q.stop()
    out = {(r.doc_id, r.seq_no): r
           for r in spark.sql("SELECT * FROM st_ttl_xc").collect()}
    assert out[("docA", 0)].wm_token == 200
    # expired: re-detects from scratch -> ambiguous row finds nothing
    assert out[("docA", 1)].wm_token is None
    assert not out[("docA", 1)].from_state


