"""The benchmark's workloads and the closed loop that times them.

Every workload runs from this one process on one `local[cpus]` session.
A repeat starts only after the previous one has finished. The engine is
driven only through its public functions (`session.get_spark`,
`operators.repair_vectorized`, `streaming.sink.ExactlyOnceParquetSink`,
`streaming.pipeline.run_stateful_pipeline` / `file_stream`,
`plans.queries.QUERIES` / `ORACLES`); the benchmark times each call from
outside and reads Spark's own `StreamingQueryProgress` after each query
ends.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
import uuid
from dataclasses import dataclass, field

import checks
import inputs
import stats
from host import NoiseProbe, RssPeak, stop_session
from spans import Tracer

RUN_BUDGET_S = 165.0     # a run must have exited within 180 s
CHECK_SAMPLE = 16        # rows recomputed with reference_kernels per repeat
FAILS_IN_A_ROW = 3       # the loop gives up after this many failed repeats

# q40's oracle unrolls both repair passes in SQL and takes about 50 s over
# the 5000 documents of sf0.1 on 4 cores (about 27 ms per document). Its
# rows are per document, so it is checked on a seeded sample of ORACLE_DOCS
# documents: the oracle runs over a documents view holding only those,
# against the same documents' rows.
PER_DOC_ORACLES = ("q40_repair_char_tokens",)
ORACLE_DOCS = 60

# bench.py's HEADLINE: the 12 queries the ROADMAP headline sums
HEADLINE = [
    "q01_pricing_summary", "q03_revenue_by_nation",
    "q07_order_share_per_customer", "q08_events_hourly",
    "q10_sessionize_events", "q11_token_histogram", "q13_dominant_token",
    "q24_cosine_topk", "q25_minhash_signatures", "q29_dominant_char_token",
    "q30_otsu_per_source", "q40_repair_char_tokens",
]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def arrow_rows(df) -> list[tuple]:
    """The rows of `df` as tuples, fetched as Arrow (four times faster than
    `collect()` for the 150k rows of q07). Timestamps come back naive, as
    `collect()` gives them with the session time zone in UTC."""
    import pyarrow as pa
    table = df.toArrow()
    table = table.cast(pa.schema([
        pa.field(f.name, pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) and f.type.tz else f
        for f in table.schema]))
    return list(zip(*(c.to_pylist() for c in table.columns)))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)


def progress_of(query) -> list[dict]:
    """The query's StreamingQueryProgress records as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


@dataclass
class Repeat:
    wall: float
    items: int                      # sequences or queries completed
    op_ms: list                     # per micro-batch or per query latency
    noise: dict
    traced: bool
    out: str | None = None
    ck: str | None = None
    progress: list = field(default_factory=list)
    calls: list = field(default_factory=list)    # sink.__call__ seconds
    walls: dict = field(default_factory=dict)    # per headline query


class Run:
    """State of one benchmark run: metrics, failures, spans, scratch."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.t0 = time.perf_counter()
        self.run_id = (f"{workload}-s{seed}-t{int(trace)}-"
                       f"{uuid.uuid4().hex[:8]}")
        self.tracer = Tracer(trace, self.run_id)
        self.fails = stats.FailLedger()
        self.metrics: dict = {}      # name -> {"value", "unit"}
        self.samples: dict = {}      # name -> (unit, [one value per drain])
        self.ledger: dict | None = None
        self.rss = RssPeak()
        self.scratch = os.path.join(work, "runs", self.run_id)
        self.setup_s = 0.0
        self.reps: list = []
        self.e2e = None
        self._n = 0
        self._checked = 0

    def put(self, name: str, value, unit: str) -> None:
        self.metrics[name] = {"value": value, "unit": unit}

    def sample(self, name: str, value, unit: str) -> None:
        """One reading of a per-drain metric; the report gives the median."""
        self.samples.setdefault(name, (unit, []))[1].append(value)

    def fresh(self, tag: str) -> str:
        """A new, empty directory under this run's scratch root."""
        self._n += 1
        path = os.path.join(self.scratch, f"{tag}-{self._n}")
        os.makedirs(path)
        return path

    def sample_seed(self) -> int:
        """A new seed for each sample of rows checked in this run."""
        self._checked += 1
        return self.seed * 1000 + self._checked

    def left(self) -> float:
        return RUN_BUDGET_S - (time.perf_counter() - self.t0)


# ---------------------------------------------------------------------------
# exactly_once, and the stateful chain probe its traced runs add
# ---------------------------------------------------------------------------
class ExactlyOnce:
    """The packed 2048-token table drained as a file stream through the
    Arrow-packed kernel into ExactlyOnceParquetSink. Each micro-batch
    reads `files_per_batch` files, and each file is one scan task, so every
    batch runs the kernel in that many parallel tasks. The sink's jobs
    cost about 2 s per batch whatever its size: on local[2] a drain of 2
    batches took 5.5-6 s with 6k rows per batch and 6-7 s with 12k. The
    smaller batches give three timed drains in a 15 s run, so the median
    leaves out one slow drain, and keep one run near 50 s, which the
    benchmark's round of runs needs."""
    name = "exactly_once"
    batches, files_per_batch, rows_per_file = 2, 4, 1500
    rows = batches * files_per_batch * rows_per_file
    min_repeats = 3
    schema = ("doc_id string, n_tok int, source string, event_ts timestamp, "
              "seq_no long, tokens_bin binary")

    def __init__(self):
        from pdf_watermark_removal_otsu_inpaint_spark.params import (
            DEFAULT_PARAMS)
        self.params = DEFAULT_PARAMS.with_(passes=2)

    def prepare(self, run: Run) -> None:
        self.src = inputs.packed_table(run.work, run.seed, self.rows,
                                       self.batches * self.files_per_batch)
        run.put("sources.rows_in", self.rows, "count")
        run.put("sources.input_bytes", inputs.parquet_bytes(self.src), "bytes")

    def warm(self, run: Run, spark) -> None:
        """One uncounted drain."""
        rep = self.repeat(run, spark, run.tracer)
        self.check(run, rep, count=False)

    def repeat(self, run: Run, spark, tracer: Tracer) -> Repeat:
        from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
            repair_sequences_arrow_packed)
        from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
            ExactlyOnceParquetSink)
        out, ck = run.fresh("out"), run.fresh("ck")
        sink = ExactlyOnceParquetSink(out)
        calls: list = []
        qspan: dict = {}
        params = self.params

        def process(batch_df, batch_id):
            with tracer.span("pipeline.foreach_batch", parent=qspan.get("id"),
                             batch_id=batch_id):
                with tracer.span("sink.call", batch_id=batch_id):
                    t = time.perf_counter()
                    sink(repair_sequences_arrow_packed(batch_df, params),
                         batch_id)
                    calls.append(time.perf_counter() - t)
                run.rss.sample()

        stream = (spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", self.files_per_batch)
                  .parquet(self.src))
        probe = NoiseProbe()
        t0 = time.perf_counter()
        with tracer.span("pipeline.query") as sid:
            qspan["id"] = sid
            q = (stream.writeStream.foreachBatch(process)
                 .option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            done = q.awaitTermination(max(run.left(), 1.0))
        wall = time.perf_counter() - t0
        noise = probe.finish()
        if not done:
            q.stop()
            raise TimeoutError("exactly_once stream did not drain in time")
        prog = progress_of(q)
        return Repeat(wall, self.rows, _data_batch_ms(prog), noise,
                      tracer.enabled, out=out, ck=ck, progress=prog,
                      calls=calls)

    def ops(self, rep: Repeat) -> int:
        return 1 + len(rep.op_ms)

    def check(self, run: Run, rep: Repeat, count: bool = True) -> None:
        with run.tracer.span("checks.accounting"):
            problems = checks.stream_accounting(rep.out, self.rows)
        with run.tracer.span("checks.reference"):
            n, bad = checks.reference_sample_packed(
                self.src, rep.out, run.sample_seed(), CHECK_SAMPLE,
                self.params.passes)
        if bad:
            problems.append(f"{bad} of {n} sampled rows differ from "
                            "reference_kernels")
        if count:
            _count_sample(run, n, bad)
            _stream_layers(run, rep, "")
        _settle(run, rep, problems, count)

    def layers(self, run: Run, spark, reps: list) -> None:
        """Scan alone and scan + kernel into a noop sink, one job per
        micro-batch's files as the stream runs them, in interleaved
        rounds: the prefixes the sink calls contain. Then the stateful
        chain probe."""
        from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
            repair_sequences_arrow_packed)
        files = sorted(os.path.join(self.src, n) for n in os.listdir(self.src)
                       if n.endswith(".parquet"))
        k = self.files_per_batch
        frames = [spark.read.schema(self.schema).parquet(*files[i:i + k])
                  for i in range(0, len(files), k)]
        prefixes = [repair_sequences_arrow_packed(df, self.params)
                    for df in frames]
        scans, kernels = [], []
        for _ in range(3):
            with run.tracer.span("sources.scan"):
                t = time.perf_counter()
                for df in frames:
                    noop(df)
                scans.append(time.perf_counter() - t)
            with run.tracer.span("repair_vectorized.prefix"):
                t = time.perf_counter()
                for df in prefixes:
                    noop(df)
                kernels.append(time.perf_counter() - t)
        scan_s, prefix_s = stats.median(scans), stats.median(kernels)
        call_s = stats.median([sum(r.calls) for r in reps])
        run.put("sources.scan_s", scan_s, "s")
        run.put("repair_vectorized.prefix_s", prefix_s, "s")
        run.put("repair_vectorized.self_s", prefix_s - scan_s, "s")
        run.put("repair_vectorized.prefix_seqs_per_s", self.rows / prefix_s,
                "seq/s")
        run.put("sink.call_s", call_s, "s")
        run.put("sink.self_s", call_s - prefix_s, "s")
        # stacked breakdown of the median repeat's wall time. Spark's own
        # progress gives the trigger and addBatch times, independently of
        # the benchmark's clock, so the residual is real: the time outside
        # every micro-batch (query start, stop and termination)
        rep = sorted(reps, key=lambda r: r.wall)[len(reps) // 2]
        trigger = _total_ms(rep.progress, "triggerExecution") / 1e3
        add_batch = _total_ms(rep.progress, "addBatch") / 1e3
        call = sum(rep.calls)
        run.ledger = _ledger(rep.wall, {
            "sources.scan_s": scan_s,
            "repair_vectorized.self_s": prefix_s - scan_s,
            "sink.self_s": call - prefix_s,
            "pipeline.foreach_batch_s": add_batch - call,
            "pipeline.trigger_s": trigger - add_batch})
        ChainProbe().run(run, spark)

    def e2e(self, reps: list) -> tuple[float, list, dict]:
        return (stats.median([r.wall for r in reps]),
                [ms for r in reps for ms in r.op_ms], {})


class ChainProbe:
    """One drain of the default run_stateful_pipeline (v2 detect on
    RocksDB, the X6 stream-stream join, repair, the exactly-once sink) over
    a mixed-scenario backlog cut into one file per micro-batch. Its
    state_v2, join and pipeline readings are per-layer metrics; the chain
    is not a workload of its own because one run of it cannot fit the
    benchmark's per-run time."""
    rows, files = 1000, 4

    def run(self, run: Run, spark) -> None:
        from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (  # noqa: E501
            file_stream, run_stateful_pipeline)
        with run.tracer.span("inputs.generate"):
            src = inputs.chain_backlog(run.work, run.seed, self.rows,
                                       self.files)
        out, ck = run.fresh("chain-out"), run.fresh("chain-ck")
        probe = NoiseProbe()
        t0 = time.perf_counter()
        with run.tracer.span("chain.query"):
            q = run_stateful_pipeline(
                lambda s: file_stream(s, src, max_files_per_trigger=1),
                out, ck)
            done = q.awaitTermination(max(run.left(), 1.0))
        wall = time.perf_counter() - t0
        if not done:
            q.stop()
            run.fails.fail("stateful chain probe did not drain in time")
            return
        prog = progress_of(q)
        rep = Repeat(wall, self.rows, _data_batch_ms(prog), probe.finish(),
                     True, out=out, ck=ck, progress=prog)
        run.fails.ok(1 + len(rep.op_ms))
        run.rss.sample()
        with run.tracer.span("checks.accounting"):
            problems = checks.stream_accounting(out, self.rows)
        with run.tracer.span("checks.reference"):
            n, bad = checks.reference_sample_chain(
                src, out, run.sample_seed(), CHECK_SAMPLE)
        if bad:
            problems.append(f"chain: {bad} of {n} sampled rows differ "
                            "from reference_kernels")
        _count_sample(run, n, bad)
        _stream_layers(run, rep, "chain.")
        _state_layers(run, rep)
        run.put("chain.drain_s", wall, "s")
        run.put("chain.seqs_per_s", self.rows / wall, "seq/s")
        run.put("chain.batch_p50_ms", stats.median(rep.op_ms), "ms")
        _settle(run, rep, problems, True)


# ---------------------------------------------------------------------------
# headline_sql
# ---------------------------------------------------------------------------
class HeadlineSql:
    """The 12 headline queries into the noop sink, one interleaved round
    per repeat, over seeded star-schema tables; checked against DuckDB."""
    name = "headline_sql"
    # a quarter of the sf0.1 row counts: at sf0.1 a run took 69-95 s on a
    # 4-core VM (7.5-8.8 s rounds, 35-55 s of set-up), more than a round of
    # 4 + 22 x 2 runs in 3420 s leaves; at this scale it takes about 60 s
    scale = 150000
    # each query's median over three rounds, so one round a busy
    # neighbour slowed stays out of the median
    min_repeats = 3

    def prepare(self, run: Run) -> None:
        self.dir = inputs.headline_tables(run.work, run.seed, self.scale)
        run.put("sources.rows_in", inputs.parquet_rows(self.dir), "count")
        run.put("sources.input_bytes", inputs.parquet_bytes(self.dir), "bytes")

    def warm(self, run: Run, spark) -> None:
        """Two uncounted rounds. The first fetches each query's rows, which
        the oracle check compares after the timed loop; the second writes
        them to the noop sink as the timed rounds do. With the fetching
        round alone, the first timed round ran 5-31% slower than the next
        in 8 of 12 runs, and where a run's rounds sat on that warm-up curve
        moved its median."""
        from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import (
            QUERIES)
        with run.tracer.span("queries.plan"):
            self.plans = {n: QUERIES[n](spark, self.dir) for n in HEADLINE}
        self.rows = {}
        for n in HEADLINE:
            with run.tracer.span(f"queries.{n}"):
                self.rows[n] = arrow_rows(self.plans[n])
        for n in HEADLINE:
            with run.tracer.span(f"queries.{n}"):
                noop(self.plans[n])

    def repeat(self, run: Run, spark, tracer: Tracer) -> Repeat:
        probe = NoiseProbe()
        walls = {}
        for n in HEADLINE:
            with tracer.span(f"queries.{n}"):
                t = time.perf_counter()
                noop(self.plans[n])
                walls[n] = time.perf_counter() - t
            run.rss.sample()
        noise = probe.finish()
        return Repeat(sum(walls.values()), len(HEADLINE),
                      [w * 1e3 for w in walls.values()], noise,
                      tracer.enabled, walls=walls)

    def ops(self, rep: Repeat) -> int:
        return len(rep.walls)

    def check(self, run: Run, rep: Repeat, count: bool = True) -> None:
        """Nothing to check per round: the oracle check runs once."""

    def final_check(self, run: Run) -> None:
        """Each query's rows, fetched in the warm round, against its DuckDB
        oracle; q40's token sums against reference_kernels."""
        from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import (
            ORACLES)
        con = checks.duckdb_views(self.dir, inputs.HEADLINE_TABLES)
        mismatches = 0
        q40 = []
        try:
            for n in HEADLINE:
                cols, rows = self.plans[n].columns, self.rows[n]
                if n in PER_DOC_ORACLES:
                    rows = checks.sample_docs(con, self.dir, rows, cols,
                                              run.seed, ORACLE_DOCS)
                with run.tracer.span("checks.oracle", query=n):
                    why = checks.oracle_mismatch(con, ORACLES[n], rows, cols)
                if n in PER_DOC_ORACLES:
                    checks.all_docs(con, self.dir)
                if why:
                    mismatches += 1
                    run.fails.fail(f"{n}: {why}")
                else:
                    run.fails.ok()
                if n == "q40_repair_char_tokens":
                    q40 = [dict(zip(cols, r)) for r in rows]
        finally:
            con.close()
        run.put("queries.oracle_mismatches", mismatches, "count")
        with run.tracer.span("checks.reference"):
            n, bad = checks.reference_sample_text(
                self.dir, q40, run.seed, CHECK_SAMPLE, passes=2, min_run=5)
        _count_sample(run, n, bad)
        if bad:
            run.fails.fail(f"q40: {bad} of {n} sampled docs differ from "
                           "reference_kernels")

    def layers(self, run: Run, spark, reps: list) -> None:
        frames = [spark.read.parquet(os.path.join(self.dir, f"{t}.parquet"))
                  for t in inputs.HEADLINE_TABLES]
        scans = []
        for _ in range(3):
            with run.tracer.span("sources.scan"):
                t = time.perf_counter()
                for df in frames:
                    noop(df)
                scans.append(time.perf_counter() - t)
        run.put("sources.scan_s", stats.median(scans), "s")

    def e2e(self, reps: list) -> tuple[float, list]:
        # the ROADMAP headline unit: sum over queries of each one's median
        per_query = {n: stats.median([r.walls[n] for r in reps])
                     for n in HEADLINE}
        return (sum(per_query.values()),
                [ms for r in reps for ms in r.op_ms], per_query)


WORKLOADS = {w.name: w for w in (ExactlyOnce, HeadlineSql)}


# ---------------------------------------------------------------------------
# per-layer readings shared by the stream workloads
# ---------------------------------------------------------------------------
def _total_ms(progress: list, key: str) -> float:
    """One `durationMs` entry summed over a query's progress records."""
    return float(sum(p["durationMs"].get(key, 0) for p in progress))


def _data_batch_ms(progress: list) -> list:
    return [float(p["durationMs"]["triggerExecution"]) for p in progress
            if p.get("numInputRows", 0) > 0]


def _count_sample(run: Run, n: int, bad: int) -> None:
    for key, v in (("reference_kernels.sample_rows", n),
                   ("reference_kernels.mismatches", bad)):
        prev = run.metrics.get(key, {}).get("value", 0)
        run.put(key, prev + v, "count")


def _stream_layers(run: Run, rep: Repeat, prefix: str) -> None:
    """Sink output and query progress of one drained stream, under metric
    names starting with `prefix`."""
    prog = rep.progress
    data = [p for p in prog if p.get("numInputRows", 0) > 0]
    idle = [p for p in prog if p.get("numInputRows", 0) == 0]

    keys = checks.read_committed(rep.out, ["seq_no"])
    put = {
        "sink.bytes_written": dir_bytes(os.path.join(rep.out, "data")),
        "sink.commits": len(checks.committed_dirs(rep.out)),
        "sink.rows_committed": 0 if keys is None else keys.num_rows,
        "pipeline.batches": len(prog),
        "pipeline.data_batches": len(data),
        "pipeline.first_batch_ms":
            float(prog[0]["durationMs"]["triggerExecution"]) if prog else 0.0,
        "pipeline.no_data_batch_ms": float(sum(
            p["durationMs"]["triggerExecution"] for p in idle)),
        "pipeline.add_batch_ms": _total_ms(prog, "addBatch"),
        "pipeline.query_planning_ms": _total_ms(prog, "queryPlanning"),
        "pipeline.wal_commit_ms": _total_ms(prog, "walCommit"),
        "pipeline.latest_offset_ms": _total_ms(prog, "latestOffset"),
        "pipeline.checkpoint_bytes": dir_bytes(rep.ck),
    }
    by_version: dict = {}
    for d, _, names in os.walk(rep.ck):
        for n in names:
            if n.endswith(".changelog"):
                v = n.split(".")[0]
                by_version[v] = (by_version.get(v, 0)
                                 + os.path.getsize(os.path.join(d, n)))
    if by_version:       # only a stream with a state store writes them
        put["pipeline.changelog_bytes_per_batch"] = stats.median(
            by_version.values())
    for key, value in put.items():
        unit = ("ms" if key.endswith("_ms") else
                "bytes" if "bytes" in key else "count")
        run.sample(prefix + key, value, unit)


def _state_layers(run: Run, rep: Repeat) -> None:
    """stateOperators of the chain's transformWithState and join."""
    ops = {"state_v2": "transformWithStateInPandasExec",
           "join": "symmetricHashJoin"}
    for layer, op_name in ops.items():
        per_batch = [o for p in rep.progress
                     for o in p.get("stateOperators", [])
                     if o.get("operatorName") == op_name]
        last = per_batch[-1] if per_batch else {}

        def total(key, custom=False):
            return float(sum((o.get("customMetrics", {}) if custom else o)
                             .get(key, 0) for o in per_batch))

        run.put(f"{layer}.rows_total", last.get("numRowsTotal", 0), "count")
        run.put(f"{layer}.memory_bytes", last.get("memoryUsedBytes", 0),
                "bytes")
        run.put(f"{layer}.commit_ms", total("commitTimeMs"), "ms")
        if layer == "state_v2":
            run.put("state_v2.updates_ms", total("allUpdatesTimeMs"), "ms")
            run.put("state_v2.rocksdb_bytes_written",
                    total("rocksdbTotalBytesWritten", custom=True), "bytes")
            run.put("state_v2.changelog_commit_ms",
                    total("rocksdbChangeLogWriterCommitLatencyMs",
                          custom=True), "ms")
        else:
            run.put("join.removals_ms", total("allRemovalsTimeMs"), "ms")
            run.put("join.store_instances",
                    last.get("numStateStoreInstances", 0), "count")
            run.put("join.rocksdb_bytes_read",
                    total("rocksdbTotalBytesRead", custom=True), "bytes")


def _settle(run: Run, rep: Repeat, problems: list, count: bool) -> None:
    """Count the repeat's operations, demote it on a failed check, and
    remove its output and checkpoint directories."""
    if count:
        for p in problems:
            run.fails.demote(p)
    elif problems:
        run.fails.fail("warm repeat: " + "; ".join(problems))
    with run.tracer.span("bench.cleanup"):
        for d in (rep.out, rep.ck):
            if d:
                shutil.rmtree(d, ignore_errors=True)


def _ledger(wall: float, parts: dict) -> dict:
    """Stacked breakdown of one repeat's wall time by layer; the residual
    is the wall time no part accounts for."""
    out = {k: {"s": v, "share": v / wall} for k, v in parts.items()}
    rest = wall - sum(parts.values())
    out["residual"] = {"s": rest, "share": rest / wall}
    out["wall_s"] = wall
    return out


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------
def warm_python_workers(spark, cpus: int) -> None:
    """One Arrow UDF task per slot, so every Python worker has started and
    imported pyarrow before anything is timed."""
    def ident(batches):
        yield from batches
    noop(spark.range(0, cpus * 64, 1, cpus).mapInArrow(ident, "id long"))


def bare_kernel(run: Run) -> None:
    """repair_batch on one seeded 1024-row batch, single thread, no Spark:
    the kernel's own rate and its computed work counts."""
    import numpy as np
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_batch)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    flat, offsets = inputs.bare_batch(run.seed)
    params = DEFAULT_PARAMS.with_(passes=2)
    secs = []
    with run.tracer.span("repair_vectorized.bare"):
        for _ in range(5):
            t = time.perf_counter()
            out, cov, _, _ = repair_batch(flat, offsets, params)
            secs.append(time.perf_counter() - t)
    lengths = np.diff(offsets)
    rows = lengths.size
    run.put("repair_vectorized.bare_seqs_per_s", rows / stats.median(secs),
            "seq/s")
    run.put("repair_vectorized.masked_tokens",
            int(np.rint(cov * lengths).sum()), "count")
    run.put("repair_vectorized.bytes_moved",
            int(flat.nbytes + out.nbytes + offsets.nbytes), "bytes")


def run_workload(name: str, seed: int, seconds: int, trace: bool, work: str,
                 cpus: int, spark_conf: dict) -> Run:
    """Set up, run the closed loop for `seconds`, check, and collect every
    metric into the returned Run. Stops the session before returning. A
    failing warm repeat or timed repeats count as failed operations, so a
    broken engine gives a run that is not correct rather than a crash."""
    from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark

    run = Run(name, seed, seconds, trace, work)
    wl = WORKLOADS[name]()
    tr = run.tracer
    spark = None
    reps: list[Repeat] = []
    try:
        with tr.span("workload", workload=name, seed=seed):
            with tr.span("inputs.generate"):
                wl.prepare(run)
            t_setup = time.perf_counter()
            with tr.span("session.get_spark"):
                t = time.perf_counter()
                spark = get_spark(f"perfbench-{name}", cpus=cpus,
                                  extra_conf=spark_conf)
                run.put("session.get_spark_s", time.perf_counter() - t, "s")
            with tr.span("session.warm"):
                t = time.perf_counter()
                warm_python_workers(spark, cpus)
                run.put("session.warm_s", time.perf_counter() - t, "s")
            try:
                with tr.span("bench.warm_repeat"):
                    wl.warm(run, spark)
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                run.fails.fail(f"warm repeat: {type(exc).__name__}: {exc}")
                return run
            run.setup_s = time.perf_counter() - t_setup
            run.rss = RssPeak()      # the peak of the timed repeats only
            _loop(run, wl, spark, reps)
            if hasattr(wl, "final_check"):
                wl.final_check(run)
            if trace and reps:
                with tr.span("bench.layers"):
                    wl.layers(run, spark, reps)
                bare_kernel(run)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run.scratch, ignore_errors=True)
        run.reps = reps
    # end-to-end numbers come only from untraced repeats
    plain = [r for r in reps if not r.traced]
    if plain:
        run.e2e = wl.e2e(plain)
    return run


def _loop(run: Run, wl, spark, reps: list) -> None:
    """Closed loop: repeats back to back until `seconds` have passed and
    the workload's `min_repeats` have run (three in a traced run). A traced
    run alternates untraced and traced repeats, untraced first and last,
    so the traced repeat sits between two untraced ones and the difference
    of their medians (the tracing overhead) is not a warm-up trend. The
    loop gives up after FAILS_IN_A_ROW failed repeats in a row."""
    tr = run.tracer
    min_reps = 3 if run.trace else wl.min_repeats
    t_start = time.perf_counter()
    i = failed = 0
    while True:
        traced = run.trace and i % 2 == 1
        t_rep = time.perf_counter()
        # an untraced repeat records only its own span, under a layer of
        # its own, so its time is neither unaccounted nor harness time
        with tr.span("bench.repeat" if traced else "untraced.repeat",
                     index=i):
            tr.enabled = traced
            try:
                rep = wl.repeat(run, spark, tr)
            except Exception as exc:  # count and report, then go on
                traceback.print_exc(file=sys.stderr)
                run.fails.fail(f"repeat {i}: {type(exc).__name__}: {exc}")
                rep = None
            tr.enabled = run.trace
        if rep is None:
            failed += 1
            if failed >= FAILS_IN_A_ROW:
                break
        else:
            failed = 0
            run.rss.sample()
            reps.append(rep)
            run.fails.ok(wl.ops(rep))
            wl.check(run, rep)
        i += 1
        elapsed = time.perf_counter() - t_start
        last = time.perf_counter() - t_rep
        if len(reps) >= min_reps and elapsed >= run.seconds:
            break
        if run.left() < 2 * last + 15:
            break
