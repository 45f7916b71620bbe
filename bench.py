#!/usr/bin/env python
"""The repository's full benchmark. Takes no arguments:

    python bench.py

It is a front end on `perfbench/` (the benchmark BENCHMARK.json declares)
and imports its modules unchanged: the seeded inputs cached under
`.perfbench_work/`, the Spark settings and `local[nproc/2]` slot rule of
`perfbench/run.py`, the workloads and their closed loop, the per-repeat
steal/load fingerprint, the statistics and the correctness checks. Legs:

- headline: the 12 queries of `workloads.HEADLINE` over $SPARK_GRAFT_SF_DIR
  (default: the sf0.1 test data, SF_DIR); each query's median over ROUNDS
  rounds, and its rows checked against its DuckDB oracle;
- pipeline: the fused detect+repair kernel into the noop sink over a seeded
  2048-token table, in the array<int> (`list`) and packed (`arrow_packed`)
  layouts;
- histogram: A1 (explode) against A1b (bincount) over the list table;
- exactly_once: perfbench's `exactly_once` workload, in its own session;
- stateful: perfbench's chain probe (`stateful_pipeline_*`), and the chain at
  one document per row, CHAIN_ROWS rows in one micro-batch, as the default,
  sized and join-free compositions (`chain_docrow_*`), each drain checked
  for exactly-once accounting and against `reference_kernels`;
- scale stress: the dedup family over a 50k-document corpus with planted
  duplicates (`sf1_*`), with three assertions on the LSH candidate volume,
  and the default chain over the whole pipeline table at one document per
  row (`sf1_chain_*`);
- scaling: the `arrow_packed` leg at 1 slot and at nproc/2 slots, one
  session after the other.

The last stdout line is a compact JSON summary. BENCH_FULL.json holds the
whole result and BENCH.md renders it. The exit code is 1 when a check
failed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from types import SimpleNamespace

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.join(REPO, "perfbench"), REPO]

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

import checks  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from host import NoiseProbe, RssPeak, stop_session  # noqa: E402
from run import fingerprint, isolate, session_conf  # noqa: E402

SEED = 1
ROUNDS = 5                  # headline rounds; a query's value is its median
TRIALS = 5                  # timed passes of a pipeline leg, after one warm
PIPELINE_ROWS, PIPELINE_FILES = 48000, 32
CHAIN_ROWS, CHAIN_TRIALS = 12000, 3
CHAIN_TIMEOUT_S = 600
EXACTLY_ONCE_SECONDS = 15
COMPACT_KEYS = (
    "pipeline_arrow_packed_seqs_per_sec", "pipeline_tokens_per_sec",
    "exactly_once_seqs_per_sec", "stateful_pipeline_seqs_per_sec",
    "chain_docrow_v2rocks_seqs_per_sec",
    "chain_docrow_v2rocks_sized_seqs_per_sec",
    "chain_docrow_joinfree_seqs_per_sec", "sf1_q26_lsh_pairs_rows",
    "sf1_chain_seqs_per_sec",
    "hist_explode_sec", "hist_bincount_sec", "scaling", "oracle_mismatches")


class Bench:
    """The result being built, the failures seen and each leg's wall time."""

    def __init__(self, work: str, cpus: int):
        self.work, self.cpus = work, cpus
        self.own = os.path.join(work, "bench")
        self.conf = session_conf(os.path.join(work, "tmp"))
        self.failures: list[str] = []
        self.rss = RssPeak()
        self.result: dict = {
            "metric": "headline wall time sf0.1 + pipeline seq/s",
            "unit": "sec", "sf": 0.1 if "sf0.1" in SF_DIR else SF_DIR,
            "slots": cpus, "host": fingerprint(SimpleNamespace(seed=SEED),
                                               cpus),
            "leg_wall_s": {}}

    def leg(self, name: str, fn, *args) -> None:
        """Run one leg, merge what it returns into the result and record its
        wall time. An exception fails the leg, not the benchmark."""
        t = time.perf_counter()
        try:
            self.result.update(fn(*args) or {})
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
        self.result["leg_wall_s"][name] = round(time.perf_counter() - t, 1)
        self.rss.sample()
        print(f"[bench] {name}: {self.result['leg_wall_s'][name]} s",
              file=sys.stderr, flush=True)

    def session(self, slots: int):
        from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark
        spark = get_spark(f"bench-{slots}", cpus=slots, extra_conf=self.conf)
        workloads.warm_python_workers(spark, slots)
        return spark

    def run_of(self, workload: str) -> workloads.Run:
        return workloads.Run(workload, SEED, 0, False, self.work)

    def settle(self, run: workloads.Run) -> dict:
        """Take a perfbench run's failures and metrics; drop its scratch."""
        shutil.rmtree(run.scratch, ignore_errors=True)
        self.failures += run.fails.reasons
        return {k: v["value"] for k, v in run.metrics.items()}


def timed(job, trials: int = TRIALS) -> dict:
    """One uncounted call of `job`, then `trials` timed calls: the median
    wall time, its quartiles and every call with its steal/load reading."""
    job()
    walls, noise = [], []
    for _ in range(trials):
        probe = NoiseProbe()
        t = time.perf_counter()
        job()
        walls.append(round(time.perf_counter() - t, 3))
        noise.append(probe.finish())
    return {**stats.summary(walls), "trials_s": walls, "noise": noise}


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------
def list_table(packed: str, dest: str, files: int | None = None,
               doc_per_row: bool = False) -> str:
    """The packed table's rows (its first `files` files) with `tokens` as
    array<int>, in the chain's stream schema; with `doc_per_row` each row
    is its own document (doc_id gets `-seq_no`). Rebuilt only when `dest`
    holds another input."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    marker = os.path.join(dest, ".complete")
    key = f"{packed} {files} {doc_per_row}"
    if os.path.exists(marker) and open(marker).read() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    names = sorted(n for n in os.listdir(packed) if n.endswith(".parquet"))
    for name in names[:files]:
        t = pq.read_table(os.path.join(packed, name))
        blob = t.column("tokens_bin").combine_chunks()
        off = np.frombuffer(blob.buffers()[1], dtype=np.int32)[
            blob.offset:blob.offset + len(blob) + 1] // 4
        vals = np.frombuffer(blob.buffers()[2], dtype="<i4")[off[0]:off[-1]]
        doc = t.column("doc_id")
        if doc_per_row:
            doc = pc.binary_join_element_wise(
                doc, pc.cast(t.column("seq_no"), pa.string()), "-")
        pq.write_table(pa.table({
            "doc_id": doc,
            "tokens": pa.ListArray.from_arrays(pa.array(off - off[0]),
                                               pa.array(vals)),
            "n_tok": t.column("n_tok"), "source": t.column("source"),
            "event_ts": t.column("event_ts"), "seq_no": t.column("seq_no"),
        }), os.path.join(dest, name))
        st = os.stat(os.path.join(packed, name))   # keep the file order
        os.utime(os.path.join(dest, name), (st.st_atime, st.st_mtime))
    with open(marker, "w") as f:
        f.write(key)
    return dest


# ---------------------------------------------------------------------------
# legs
# ---------------------------------------------------------------------------
def exactly_once(b: Bench) -> dict:
    """perfbench's exactly_once workload: its own session, closed loop,
    accounting and reference checks."""
    run = workloads.run_workload("exactly_once", SEED, EXACTLY_ONCE_SECONDS,
                                 False, b.work, b.cpus, b.conf)
    b.settle(run)
    if run.e2e is None:
        return {}
    rows = workloads.ExactlyOnce.rows
    return {"exactly_once_rows": rows,
            "exactly_once_sec": round(run.e2e[0], 3),
            "exactly_once_seqs_per_sec": round(rows / run.e2e[0], 1),
            "exactly_once_repeats": [{"wall_s": r.wall, **r.noise}
                                     for r in run.reps]}


def pipeline_job(spark, path: str, layout: str):
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences, repair_sequences_arrow_packed)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    build = (repair_sequences_arrow_packed if layout == "arrow_packed"
             else repair_sequences)
    out = build(spark.read.parquet(path), DEFAULT_PARAMS.with_(passes=2))
    return lambda: workloads.noop(out)


def one_slot(b: Bench, packed: str) -> dict:
    """The scaling ladder's lower rung, in a session of its own."""
    spark = b.session(1)
    try:
        return {"pipeline_arrow_packed_1slot_trials": timed(
            pipeline_job(spark, packed, "arrow_packed"))}
    finally:
        stop_session(spark)


def pipelines(spark, packed: str, lst: str) -> dict:
    out = {"pipeline_rows": PIPELINE_ROWS, "pipeline_n_tok": inputs.N_TOK}
    for layout, path in (("list", lst), ("arrow_packed", packed)):
        t = timed(pipeline_job(spark, path, layout))
        out[f"pipeline_{layout}_sec"] = round(t["median"], 3)
        out[f"pipeline_{layout}_seqs_per_sec"] = round(
            PIPELINE_ROWS / t["median"], 1)
        out[f"pipeline_{layout}_trials"] = t
    out["pipeline_tokens_per_sec"] = round(
        out["pipeline_arrow_packed_seqs_per_sec"] * inputs.N_TOK)
    return out


def histograms(spark, lst: str) -> dict:
    """A1 vs A1b: the same grouped histogram, explode + hash aggregate
    against per-batch np.bincount partials (dominant_token's default)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        token_histogram, token_histogram_bincount)
    df = spark.read.parquet(lst)
    out = {}
    for name, build in (("explode", token_histogram),
                        ("bincount", token_histogram_bincount)):
        plan = build(df, ["source"])
        out[f"hist_{name}_sec"] = round(
            timed(lambda: workloads.noop(plan), 3)["median"], 3)
    return out


def classes_compiled(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def headline(b: Bench, spark) -> dict:
    """perfbench's headline_sql workload over the tables at SF_DIR: two
    warm rounds (the first fetches the rows), ROUNDS timed rounds, then
    every query against its DuckDB oracle and q40 against
    reference_kernels. Records how many classes Spark compiled in each
    timed round (0 once the codegen cache holds the round)."""
    class SfHeadline(workloads.HeadlineSql):
        def prepare(self, run):
            self.dir = SF_DIR

    run = b.run_of("headline_sql")
    wl = SfHeadline()
    wl.prepare(run)
    wl.warm(run, spark)
    reps, compiles = [], []
    for _ in range(ROUNDS):
        before = classes_compiled(spark)
        reps.append(wl.repeat(run, spark, run.tracer))
        compiles.append(classes_compiled(spark) - before)
    wl.final_check(run)
    metrics = b.settle(run)
    _, _, per_query = wl.e2e(reps)
    return {
        "queries": {n: round(s, 3) for n, s in per_query.items()},
        "value": round(sum(per_query.values()), 3),
        "query_spreads": {n: round(stats.iqr_share(
            [r.walls[n] for r in reps]), 3) for n in workloads.HEADLINE},
        "query_trials": {n: [round(r.walls[n], 3) for r in reps]
                         for n in workloads.HEADLINE},
        "headline_noise": [r.noise for r in reps],
        "headline_compiles": compiles,
        "headline_protocol": (
            f"local[{b.cpus}], 2 warm rounds, {ROUNDS} interleaved rounds, "
            "median per query; spread = IQR / median; every query's rows "
            "checked against its DuckDB oracle (q40 on a seeded "
            f"{workloads.ORACLE_DOCS}-doc sample)"),
        "oracle_mismatches": metrics.get("queries.oracle_mismatches")}


def chain_probe(b: Bench, spark) -> dict:
    """perfbench's chain probe: one drain of the default
    run_stateful_pipeline over a mixed-scenario backlog, one file per
    micro-batch, with its state and join readings."""
    run = b.run_of("stateful_chain")
    workloads.ChainProbe().run(run, spark)
    m = b.settle(run)
    rows = workloads.ChainProbe.rows
    return {"stateful_pipeline_rows": rows,
            "stateful_pipeline_sec": round(m["chain.drain_s"], 3),
            "stateful_pipeline_seqs_per_sec": round(m["chain.seqs_per_s"], 1),
            "stateful_probe": m}


def drain_chain(b: Bench, run: workloads.Run, src: str, tag: str,
                **kw) -> float | None:
    """Wall time of one run_stateful_pipeline drain of `src` as one
    micro-batch, after its exactly-once accounting and a reference_kernels
    sample are checked; None if it did not drain in CHAIN_TIMEOUT_S."""
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        file_stream, run_stateful_pipeline)
    files = sum(n.endswith(".parquet") for n in os.listdir(src))
    out, ck = run.fresh("out"), run.fresh("ck")
    t0 = time.perf_counter()
    q = run_stateful_pipeline(
        lambda s: file_stream(s, src, max_files_per_trigger=files),
        out, ck, **kw)
    done = q.awaitTermination(CHAIN_TIMEOUT_S)
    wall = time.perf_counter() - t0
    if not done:
        q.stop()
        b.failures.append(f"{tag}: no drain in {CHAIN_TIMEOUT_S} s")
        return None
    problems = checks.stream_accounting(out, inputs.parquet_rows(src))
    n, bad = checks.reference_sample_chain(src, out, run.sample_seed(),
                                           workloads.CHECK_SAMPLE)
    if bad:
        problems.append(f"{bad} of {n} sampled rows differ from "
                        "reference_kernels")
    b.failures += [f"{tag}: {p}" for p in problems]
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    return round(wall, 3)


def chain_docrow(b: Bench, src: str) -> dict:
    """The full chain at one document per row, CHAIN_ROWS rows in one
    micro-batch: the default, the default with state partitions sized to
    the batch (~3k rows each) and the join-free composition, in
    interleaved trials; each leg's value is its median drain."""
    legs = (("v2rocks", {}),
            ("v2rocks_sized", {"session_conf": {
                "spark.sql.shuffle.partitions":
                    str(max(4, CHAIN_ROWS // 3000))}}),
            ("joinfree", {"join_free": True}))
    walls: dict = {tag: [] for tag, _ in legs}
    run = b.run_of("chain_docrow")
    for _ in range(CHAIN_TRIALS):
        for tag, kw in legs:
            wall = drain_chain(b, run, src, f"chain_docrow_{tag}", **kw)
            if wall is not None:
                walls[tag].append(wall)
    b.settle(run)
    res = {"chain_docrow_rows": CHAIN_ROWS, "chain_docrow_trials_s": walls}
    for tag, ws in walls.items():
        if ws:
            res[f"chain_docrow_{tag}_sec"] = round(stats.median(ws), 3)
            res[f"chain_docrow_{tag}_seqs_per_sec"] = round(
                CHAIN_ROWS / stats.median(ws), 1)
    return res


def scale_stress(b: Bench, spark, chain_src: str) -> dict:
    """sf1-equivalent dedup stress: q20/q26/q21/q53/q52 once over a
    deterministic 50,000-document corpus, 10x the sf0.1 documents table,
    as evidence that the candidate-volume dials hold off-scale.

    Words are md5 prefixes of hash-drawn indices into a 20k-word
    vocabulary, 30-60 per document, so unrelated documents almost never
    share a minhash component while planted near-duplicates collide on most
    bands. (Short numeric words would make q25's eight (a * hash + b) mod p
    permutations monotone in one another and every chance bucket match
    8/8.) Planted: each doc_id % 20 == 7 copies its predecessor with its
    last 3 words rewritten (~2.4k near-duplicates), each % 100 == 99
    copies it verbatim (~0.5k exact), and doc_ids 49000-49199 are one
    identical 200-document block, which an uncapped LSH self-join would
    turn into ~20k pairs per band. Asserted: the hot-bucket ceiling leaves
    no candidate pair inside the block, exact dedup still finds it, and
    the capped candidate volume tracks the planted duplicates (2,000 to
    50,000 pairs, not |docs|^2). Then the default chain drains
    `chain_src`, the whole pipeline table at one document per row, as one
    micro-batch."""
    from pyspark.sql import functions as F

    from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import QUERIES
    n_docs, blk_lo, blk_hi = 50_000, 49_000, 49_200

    def word(seed, k, salt):
        return F.substring(F.md5(F.format_string("v%d", F.pmod(
            F.xxhash64(seed, k, F.lit(salt)), F.lit(20_000)).cast("int"))),
            1, 10)

    doc = F.col("doc_id")
    is_block = (doc >= blk_lo) & (doc < blk_hi)
    is_near = (doc % 20 == 7) & (doc % 100 != 99) & ~is_block
    is_exact = (doc % 100 == 99) & ~is_block
    base = F.when(is_near | is_exact, doc - 1).otherwise(doc)
    n_words = F.when(is_block, F.lit(40)).otherwise(
        (F.pmod(F.xxhash64(base, F.lit(1)), F.lit(31)) + 30).cast("int"))
    text = F.array_join(F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda k: F.when(is_block, word(F.lit(-1), k, 0))
        .when(is_near & (k >= n_words - 3), word(doc, k, 7))
        .otherwise(word(base, k, 0))), " ")
    corpus = os.path.join(b.own, "sf1_docs")
    (spark.range(n_docs).withColumnRenamed("id", "doc_id")
     .repartition(b.cpus).select("doc_id", text.alias("text"))
     .withColumn("source", F.lit("sf1stress"))
     .write.mode("overwrite").parquet(f"{corpus}/documents.parquet"))
    out: dict = {"sf1_docs": n_docs}
    for key, qname in (("q20_exact", "q20_exact_dedup"),
                       ("q26_lsh_pairs", "q26_minhash_dup_pairs"),
                       ("q21_jaccard", "q21_jaccard_pairs"),
                       ("q53_bands", "q53_shingle_lsh_bands"),
                       ("q52_clusters", "q52_dedup_clusters")):
        t0 = time.perf_counter()
        df = QUERIES[qname](spark, corpus)
        if key == "q20_exact":
            n = df.where(F.col("copies") > 1).count()
        elif key == "q52_clusters":
            n = df.select("cluster_id").distinct().count()
        else:
            n = df.count()
        out[f"sf1_{key}_sec"] = round(time.perf_counter() - t0, 3)
        out[f"sf1_{key}_rows"] = n
    pairs = QUERIES["q26_minhash_dup_pairs"](spark, corpus)
    out["sf1_block_pairs_after_cap"] = pairs.where(
        (F.col("a_id") >= blk_lo) & (F.col("a_id") < blk_hi)
        & (F.col("b_id") < blk_hi)).count()
    shutil.rmtree(corpus, ignore_errors=True)
    # the default chain once at 4x the chain_docrow shape
    run = b.run_of("sf1_chain")
    wall = drain_chain(b, run, chain_src, "sf1_chain")
    b.settle(run)
    if wall is not None:
        out.update(sf1_chain_rows=PIPELINE_ROWS, sf1_chain_sec=wall,
                   sf1_chain_seqs_per_sec=round(PIPELINE_ROWS / wall, 1))
    for ok, what in (
            (out["sf1_block_pairs_after_cap"] == 0,
             "the hot-bucket ceiling leaked pairs from the identical block"),
            (out["sf1_q20_exact_rows"] >= 200,
             "exact dedup missed the identical block"),
            (2_000 <= out["sf1_q26_lsh_pairs_rows"] < 50_000,
             "LSH candidate volume outside 2,000..50,000")):
        if not ok:
            b.failures.append(f"scale_stress: {what}")
    return out


def scaling(b: Bench) -> dict:
    """The arrow_packed leg at 1 slot and at `cpus` slots."""
    one = b.result.get("pipeline_arrow_packed_1slot_trials")
    many = b.result.get("pipeline_arrow_packed_trials")
    if not (one and many):
        return {}
    secs = [round(one["median"], 3), round(many["median"], 3)]
    return {"scaling": {
        "slots": [1, b.cpus], "rows": PIPELINE_ROWS, "sec": secs,
        "seqs_per_sec": [round(PIPELINE_ROWS / s, 1) for s in secs],
        "efficiency": round(secs[0] / secs[1] / b.cpus, 3)}}


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------
def compact(result: dict) -> dict:
    """The last stdout line: the headline keys and the key throughputs."""
    out = {k: result[k] for k in ("metric", "unit", "sf", "value", "queries")
           if k in result}
    out.update({k: result[k] for k in COMPACT_KEYS if k in result})
    out["failed_checks"] = len(result.get("failures", ()))
    out["full_ledger"] = "BENCH_FULL.json"
    return out


def bench_md(r: dict) -> str:
    """BENCH.md: what ran, on how many slots, over how many rows, how it
    was timed, and the numbers."""
    g = r.get
    h = r["host"]
    lines = [
        "# BENCH: `python bench.py` on this host",
        "",
        f"Host: {h['nproc']} cores; Spark {h['spark']}, Python "
        f"{h['python']}, pyarrow {h['pyarrow']}, NumPy {h['numpy']}. "
        f"Every leg runs on `local[{r['slots']}]` (perfbench's nproc/2 slot "
        "rule) unless named otherwise. The 32-core history is in "
        "`BENCH_r0*.json` and `PERF_r06.json`.",
        "",
        "Protocol: one uncounted pass, then the median of "
        f"{TRIALS} timed passes (histogram: 3; headline: {ROUNDS} "
        f"interleaved rounds; chain: {CHAIN_TRIALS} interleaved trials). "
        "Each pass records the "
        "host's CPU steal and load (BENCH_FULL.json). Inputs are perfbench's "
        f"seeded tables (seed {SEED}) cached under `.perfbench_work/`.",
        "",
        f"## Headline: {g('value')} s (sum of 12 medians at sf {g('sf')}"
        + ("" if g("headline_compiles") is None else
           f"; classes compiled per timed round: {g('headline_compiles')}")
        + ")",
        "",
        f"{g('headline_protocol')}. Oracle mismatches: "
        f"{g('oracle_mismatches')}.",
        "",
        "| query | median s | IQR / median |",
        "| --- | --- | --- |",
    ] + [f"| {n} | {s} | {g('query_spreads', {}).get(n)} |"
         for n, s in g("queries", {}).items()] + [
        "",
        "## Throughput",
        "",
        "| leg | rows | median s | seqs/s |",
        "| --- | --- | --- | --- |",
    ]
    for leg, rows in (("pipeline_list", "pipeline_rows"),
                      ("pipeline_arrow_packed", "pipeline_rows"),
                      ("exactly_once", "exactly_once_rows"),
                      ("stateful_pipeline", "stateful_pipeline_rows"),
                      ("chain_docrow_v2rocks", "chain_docrow_rows"),
                      ("chain_docrow_v2rocks_sized", "chain_docrow_rows"),
                      ("chain_docrow_joinfree", "chain_docrow_rows")):
        lines.append(f"| {leg} | {g(rows)} | {g(leg + '_sec')} | "
                     f"{g(leg + '_seqs_per_sec')} |")
    sc = g("scaling") or {}
    lines += [
        "",
        "- pipeline: 2048-token rows, fused detect+repair (2 passes) into "
        "the noop sink; `list` reads array<int>, `arrow_packed` the packed "
        "int32 blobs.",
        "- exactly_once: perfbench's workload (2 micro-batches of 4 files), "
        "median drain of its closed loop, in its own session.",
        "- stateful_pipeline: perfbench's chain probe, one drain of the "
        "default chain over a mixed-scenario backlog, one file per "
        "micro-batch.",
        "- chain_docrow: the whole chain with one document per row, all "
        "rows in one micro-batch: the default, the default with state "
        "partitions sized to ~3k rows each, and the join-free composition. "
        f"Trials (s): {json.dumps(g('chain_docrow_trials_s'))}.",
        "",
        "Grouped histogram over the list table: A1 explode "
        f"{g('hist_explode_sec')} s, A1b bincount {g('hist_bincount_sec')} s.",
        "",
        f"## Scaling: arrow_packed at {sc.get('slots')} slots",
        "",
        f"{sc.get('rows')} rows: {sc.get('sec')} s, {sc.get('seqs_per_sec')} "
        f"seqs/s, efficiency {sc.get('efficiency')} (1.0 is linear). The two "
        "sessions run one after the other in one process.",
        "",
        "## sf1 scale stress",
        "",
        f"{g('sf1_docs')} documents with planted duplicates. Exact-dedup "
        f"groups {g('sf1_q20_exact_rows')} ({g('sf1_q20_exact_sec')} s), "
        f"capped LSH pairs {g('sf1_q26_lsh_pairs_rows')} "
        f"({g('sf1_q26_lsh_pairs_sec')} s), of them "
        f"{g('sf1_block_pairs_after_cap')} inside the identical block, "
        f"Jaccard pairs {g('sf1_q21_jaccard_rows')} "
        f"({g('sf1_q21_jaccard_sec')} s), shingle-band pairs "
        f"{g('sf1_q53_bands_rows')} ({g('sf1_q53_bands_sec')} s), clusters "
        f"{g('sf1_q52_clusters_rows')} ({g('sf1_q52_clusters_sec')} s). "
        "The default chain over the whole pipeline table at one document "
        f"per row, {g('sf1_chain_rows')} rows in one micro-batch: "
        f"{g('sf1_chain_seqs_per_sec')} seqs/s ({g('sf1_chain_sec')} s).",
        "",
        f"Leg wall times (s): {json.dumps(g('leg_wall_s'))}. Peak RSS of the "
        f"process tree: {g('peak_rss_mb')} MB. Failures: "
        f"{json.dumps(g('failures'))}.",
    ]
    return "\n".join(lines) + "\n"


def main() -> int:
    work = os.path.join(REPO, ".perfbench_work")
    isolate(work)
    b = Bench(work, max(1, len(os.sched_getaffinity(0)) // 2))
    t0 = time.perf_counter()
    b.leg("exactly_once", exactly_once, b)
    packed = inputs.packed_table(work, SEED, PIPELINE_ROWS, PIPELINE_FILES)
    lst = list_table(packed, os.path.join(b.own, "list"))
    docrow = list_table(packed, os.path.join(b.own, "docrow"),
                        doc_per_row=True)
    docrow_part = list_table(
        packed, os.path.join(b.own, "docrow_part"),
        files=CHAIN_ROWS * PIPELINE_FILES // PIPELINE_ROWS, doc_per_row=True)
    b.leg("one_slot", one_slot, b, packed)
    spark = b.session(b.cpus)
    try:
        b.leg("pipeline", pipelines, spark, packed, lst)
        b.leg("headline", headline, b, spark)
        b.leg("histogram", histograms, spark, lst)
        b.leg("stateful", chain_probe, b, spark)
        b.leg("chain_docrow", chain_docrow, b, docrow_part)
        b.leg("scale_stress", scale_stress, b, spark, docrow)
    finally:
        stop_session(spark)
    r = b.result
    r.update(scaling(b))
    r["total_wall_s"] = round(time.perf_counter() - t0, 1)
    r["peak_rss_mb"] = round(b.rss.peak)
    r["failures"] = b.failures
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
        json.dump(r, f, indent=1)
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write(bench_md(r))
    print(json.dumps(compact(r)), flush=True)
    return 1 if b.failures else 0


if __name__ == "__main__":
    sys.exit(main())
