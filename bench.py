#!/usr/bin/env python
"""Per-round benchmark. Prints ONE **compact** JSON line as the very last
stdout line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
 "scaling_efficiency_north": ..., ...key throughputs...}

The driver captures a bounded tail of stdout — round 3's full-ledger final
line outgrew that window and arrived truncated (BENCH_r03.json parsed:null),
so the final line is now a size-bounded summary and the FULL ledger (trial
arrays, host-ceiling probe, scaling detail) is written to BENCH_FULL.json
and rendered into BENCH.md instead of stdout.

Sections:
1. Headline relational/token queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
   on local[$SPARK_GRAFT_CPUS].
2. North-metric throughput: fused detect+repair pipeline (sequences/sec)
   over a materialized synthetic token table, in both physical layouts
   (array<int32> per input_hint, and the packed-binary scale layout).
3. Scaling evidence (BASELINE.json north_rule): the identical packed job at
   two parallelism levels — each run in its own process, CPU-pinned with
   taskset so the "N executors" run cannot leak onto the other cores.
   Two ladders:
   - 8 -> 32 cores on the 60k-row input (round-over-round comparability);
   - 2 -> 8 cores on an 8x larger input (the north-rule N -> 4N evidence:
     long enough to amortize fixed job cost, and below the host's DRAM
     saturation knee — see the host-ceiling probe).
4. Host-ceiling probe (Spark-free): aggregate memcpy GB/s and bare
   repair_batch seqs/s at 2/8/32 pinned processes — the reproducible proof
   that 8->32 strong scaling on this VM is DRAM-bound, not plan-bound.

Set SPARK_GRAFT_BENCH_FAST=1 to skip sections 3-4 (quick smoke runs).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FAST = os.environ.get("SPARK_GRAFT_BENCH_FAST", "") == "1"
PIPELINE_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "60000"))
N_TOK = 2048
BENCH_INPUT = os.environ.get("SPARK_GRAFT_BENCH_INPUT", "/tmp/spark_graft_bench_input")

TOKEN_CONF = {"spark.sql.files.maxPartitionBytes": "8m"}

HEADLINE = [
    "q01_pricing_summary",      # 600k-row scan + 8-agg
    "q03_revenue_by_nation",    # fact-dim joins
    "q07_order_share_per_customer",  # window functions
    "q08_events_hourly",        # time-bucket agg
    "q10_sessionize_events",    # gaps-and-islands
    "q11_token_histogram",      # explode + hash agg
    "q13_dominant_token",       # A3 window pipeline
    "q24_cosine_topk",          # similarity search
    "q25_minhash_signatures",   # dedup signatures
    "q29_dominant_char_token",  # flagship
    "q30_otsu_per_source",      # SQL-window Otsu
    "q40_repair_char_tokens",   # fused kernel over real text
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize_input(spark, n_rows: int) -> None:
    """Write the synthetic token table once, in both layouts."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        pack_tokens)
    from pdf_watermark_removal_otsu_inpaint_spark.sources.synth import (
        synth_sequences)
    marker = f"{BENCH_INPUT}/.complete_{n_rows}_{N_TOK}"
    if os.path.exists(marker):
        return
    shutil.rmtree(BENCH_INPUT, ignore_errors=True)
    os.makedirs(BENCH_INPUT, exist_ok=True)
    df = synth_sequences(spark, n_rows, N_TOK, partitions=64)
    df.write.mode("overwrite").parquet(f"{BENCH_INPUT}/list")
    lst = spark.read.parquet(f"{BENCH_INPUT}/list")
    pack_tokens(lst).write.mode("overwrite").parquet(f"{BENCH_INPUT}/packed")
    open(marker, "w").write("ok")


def pipeline_secs(spark, layout: str, trials: int = 3) -> float:
    """Best-of-N wall time: this VM has noisy-neighbor variance (identical
    runs have been observed 2.5x apart), so single-shot numbers mislead."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (
        repair_sequences, repair_sequences_arrow_packed)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    df = spark.read.parquet(
        f"{BENCH_INPUT}/{'packed' if 'packed' in layout else 'list'}")
    params = DEFAULT_PARAMS.with_(passes=2)
    out = {"list": lambda: repair_sequences(df, params),
           "arrow_packed": lambda: repair_sequences_arrow_packed(df, params),
           }[layout]()
    _noop(out.limit(4000))  # warm python workers + JIT
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        _noop(out)
        best = min(best, time.perf_counter() - t0)
    return best


def histogram_compare_secs(spark, trials: int = 3) -> dict:
    """A1 vs A1b on the pipeline input (same grouped-histogram result two
    physical ways): explode -> partial hash agg, vs mapInArrow
    per-batch np.bincount partials -> tree-merge (SURVEY §4.3)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.histogram import (
        token_histogram, token_histogram_bincount)
    df = spark.read.parquet(f"{BENCH_INPUT}/list")
    out = {}
    for name, build in (("explode", token_histogram),
                        ("bincount", token_histogram_bincount)):
        plan = build(df, ["source"])
        _noop(plan)  # warm
        best = float("inf")
        for _ in range(trials):
            t0 = time.perf_counter()
            _noop(plan)
            best = min(best, time.perf_counter() - t0)
        out[f"hist_{name}_sec"] = round(best, 3)
    return out


def exactly_once_secs(spark, trials: int = 3) -> float:
    """North-metric flavor: the same packed pipeline driven as a stream into
    the exactly-once sink (data + lineage + commit markers on disk).

    Best-of-N complete runs (fresh checkpoint + output dirs each): the first
    run absorbs the streaming engine's cold-start (observed 2x the steady
    cost — round 2 reported a single-shot 2,939 seqs/s 'regression' that was
    exactly this), later runs measure the steady pipeline like every other
    warmed leg."""
    import shutil as _sh
    import tempfile

    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (
        repair_sequences_arrow_packed)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
        ExactlyOnceParquetSink)
    params = DEFAULT_PARAMS.with_(passes=2)
    best = float("inf")
    for _ in range(trials):
        out_dir = tempfile.mkdtemp(prefix="bench_e1x_")
        ck = tempfile.mkdtemp(prefix="bench_ck_")
        sink = ExactlyOnceParquetSink(f"{out_dir}/out")
        stream = (spark.readStream
                  .schema("doc_id string, n_tok int, source string, "
                          "event_ts timestamp, seq_no long, tokens_bin binary")
                  .option("maxFilesPerTrigger", "16")
                  .parquet(f"{BENCH_INPUT}/packed"))
        t0 = time.perf_counter()
        q = (stream.writeStream
             .foreachBatch(
                 lambda b, i: sink(repair_sequences_arrow_packed(b, params), i))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        secs = time.perf_counter() - t0
        n = sink.committed_rows()
        assert n == PIPELINE_ROWS, \
            f"exactly-once sink rows {n} != {PIPELINE_ROWS}"
        _sh.rmtree(out_dir, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)
        best = min(best, secs)
    return best


def stateful_secs(spark, n_rows: int = 12000) -> tuple[float, int]:
    """X5+X6 chain on run_stateful_pipeline's DEFAULT path (shard-keyed
    transformWithStateInPandas detect + RocksDB store -> stream-stream
    join -> repair -> exactly-once sink) on a slice of the pipeline
    input. Documents the cost of per-doc state vs the fused foreachBatch
    path (SURVEY §4.3: the fused pipeline is primary for this reason)."""
    import shutil as _sh
    import tempfile

    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        file_stream, run_stateful_pipeline)
    src = tempfile.mkdtemp(prefix="bench_stateful_src_")
    out = tempfile.mkdtemp(prefix="bench_stateful_out_")
    ck = tempfile.mkdtemp(prefix="bench_stateful_ck_")
    (spark.read.parquet(f"{BENCH_INPUT}/list").limit(n_rows)
     .coalesce(8).write.mode("overwrite").parquet(src))
    t0 = time.perf_counter()
    q = run_stateful_pipeline(
        lambda s: file_stream(s, src, max_files_per_trigger=8),
        f"{out}/o", ck)
    finished = q.awaitTermination(600)
    secs = time.perf_counter() - t0
    if not finished:
        # same discipline as the sibling sections: never publish a
        # truncated leg, and stop the query BEFORE rmtree'ing its dirs out
        # from under it (a still-running query would bleed into later
        # sections). Returning None lets main() skip this metric instead
        # of aborting the whole run.
        q.stop()
        print(f"[bench] stateful_secs: chain timed out after {secs:.0f}s "
              "— leg skipped", flush=True)
        secs = None
    n = (spark.read.parquet(f"{out}/o/data").count()
         if finished else 0)
    for p in (src, out, ck):
        _sh.rmtree(p, ignore_errors=True)
    return secs, n


def stateful_chain_compare_secs(spark, n_rows: int = 12000,
                                trials: int = 2) -> dict:
    """FULL X5+X6 chain (stateful detect -> stream-stream join -> repair ->
    exactly-once sink) at ONE DOC PER ROW (doc_id rewritten unique) — the
    10^12-docs-per-day cardinality. All rows land in one micro-batch.
    Legs: the default chain, the same chain with state partitions sized to
    the batch, and the join-free chain. Interleaved best-of-N; a hung
    trial is excluded, never published."""
    import shutil as _sh
    import tempfile

    from pyspark.sql import functions as F

    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        file_stream, run_stateful_pipeline)
    src = tempfile.mkdtemp(prefix="bench_chaincmp_src_")
    (spark.read.parquet(f"{BENCH_INPUT}/list").limit(n_rows)
     .withColumn("doc_id", F.concat_ws("-", "doc_id",
                                       F.col("seq_no").cast("string")))
     .coalesce(8).write.mode("overwrite").parquet(src))
    legs = (
        ("v2rocks", dict()),
        # the default chain SIZED: state partitions matched to per-batch
        # volume via session_conf (~3k rows/partition; every state
        # partition pays a fixed RocksDB open/commit per micro-batch — the
        # X6 join alone keeps 4 stores per partition, so 32 near-empty
        # partitions spend the batch in the commit path; measured 2-2.5x
        # at this shape). The same arithmetic RAISES the count at 10^12
        # rows: the knob tracks volume, it is not a local cheat.
        ("v2rocks_sized",
         dict(session_conf={"spark.sql.shuffle.partitions":
                            str(max(4, n_rows // 3000))})),
        # join-free alternative: tokens pass through the state op, no X6
        ("joinfree", dict(join_free=True)),
    )
    best = {tag: float("inf") for tag, _ in legs}
    rows_out = {}
    for _ in range(trials):
        for tag, kw in legs:
            out = tempfile.mkdtemp(prefix="bench_chaincmp_out_")
            ck = tempfile.mkdtemp(prefix="bench_chaincmp_ck_")
            t0 = time.perf_counter()
            q = run_stateful_pipeline(
                lambda s: file_stream(s, src, max_files_per_trigger=8),
                f"{out}/o", ck, **kw)
            finished = q.awaitTermination(600)
            secs = time.perf_counter() - t0
            if not finished:
                q.stop()
            else:
                if secs < best[tag]:
                    best[tag] = secs
                    rows_out[tag] = spark.read.parquet(
                        f"{out}/o/data").count()
            _sh.rmtree(out, ignore_errors=True)
            _sh.rmtree(ck, ignore_errors=True)
    _sh.rmtree(src, ignore_errors=True)
    if any(v == float("inf") for v in best.values()):
        raise RuntimeError("stateful_chain_compare_secs: every trial of a "
                           f"flavor timed out ({best})")
    assert all(v == n_rows for v in rows_out.values()), rows_out
    out = {"chain_docrow_rows": n_rows}
    for tag in best:
        out[f"chain_docrow_{tag}_sec"] = round(best[tag], 3)
        out[f"chain_docrow_{tag}_seqs_per_sec"] = round(n_rows / best[tag], 1)
    return out


def scale_stress(spark) -> dict:
    """sf1-equivalent stress: the dedup family + the stateful chain run
    ONCE at ~10x the scale everything was tuned at, as evidence the
    candidate-volume dials hold off-scale.

    Corpus: 50,000 documents (10x the sf0.1 documents table), fully
    deterministic (hash-driven words from a 1,000-word vocabulary, 30-60
    words/doc), with PLANTED structure the counts can be checked against:
    ~4.7% near-duplicates (each %20==7 doc copies its predecessor with its
    last 3 words rewritten), ~1% exact duplicates (%100==99 copies its
    predecessor verbatim), and a 200-doc IDENTICAL block (doc_id
    49000-49199) — the degenerate corpus that makes an uncapped LSH
    self-join quadratic (one bucket set alone would emit 200^2/2 = ~20k
    pairs x 8 bands). The hot-bucket ceiling must yield ZERO candidate
    pairs inside the block (its buckets are dropped before the join) while
    exact dedup still catches the block, and dedup clustering must
    converge over the capped graph."""
    import tempfile

    import shutil as _sh

    from pyspark.sql import functions as F

    from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import (
        QUERIES)

    n_docs = 50_000
    blk_lo, blk_hi = 49_000, 49_200

    # 20k-word hash-derived vocabulary: wide enough that UNRELATED docs
    # almost never share a minhash component (so LSH bucket widths track
    # duplicate-group sizes, as at production scale where the vocabulary
    # is token n-grams), yet the planted near-dups collide on >= 4/8
    # components with near-certainty. The word STRING is an md5 prefix of
    # the vocab index, not the index itself: q25's minhash family is
    # (a * polyhash(word) + b) mod p with small a, so short numeric words
    # whose polyhash never wraps the modulus make all 8 "permutations"
    # monotone transforms of one ordering (they all select the same word
    # -> every chance bucket matches on 8/8 bands; measured: 454k junk
    # pairs). md5-spread polyhashes wrap and decorrelate the bands — the
    # regime real token vocabularies are in.
    def _word(seed, k, salt):
        return F.substring(
            F.md5(F.format_string(
                "v%d",
                F.pmod(F.xxhash64(seed, k, F.lit(salt)),
                       F.lit(20_000)).cast("int"))), 1, 10)

    is_block = (F.col("doc_id") >= blk_lo) & (F.col("doc_id") < blk_hi)
    is_near = (F.col("doc_id") % 20 == 7) & (F.col("doc_id") % 100 != 99) \
        & ~is_block
    is_exact = (F.col("doc_id") % 100 == 99) & ~is_block
    base_id = F.when(is_near | is_exact, F.col("doc_id") - 1) \
        .otherwise(F.col("doc_id"))
    n_words = F.when(is_block, F.lit(40)).otherwise(
        (F.pmod(F.xxhash64(base_id, F.lit(1)), F.lit(31)) + 30).cast("int"))
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_words - 1),
            lambda k: F.when(is_block, _word(F.lit(-1), k, 0))
            .when(is_near & (k >= n_words - 3),
                  _word(F.col("doc_id"), k, 7))
            .otherwise(_word(base_id, k, 0))), " ")
    stress_dir = tempfile.mkdtemp(prefix="bench_sf1_docs_")
    (spark.range(n_docs).withColumnRenamed("id", "doc_id")
     .repartition(CPUS)
     .select("doc_id", text.alias("text"))
     .withColumn("source", F.lit("sf1stress"))
     .write.mode("overwrite").parquet(f"{stress_dir}/documents.parquet"))

    out: dict = {"sf1_docs": n_docs}
    counts = {}
    for key, qname in (("q20_exact", "q20_exact_dedup"),
                       ("q26_lsh_pairs", "q26_minhash_dup_pairs"),
                       ("q21_jaccard", "q21_jaccard_pairs"),
                       ("q53_bands", "q53_shingle_lsh_bands"),
                       ("q52_clusters", "q52_dedup_clusters")):
        t0 = time.perf_counter()
        df = QUERIES[qname](spark, stress_dir)
        if key == "q20_exact":
            n = df.where(F.col("copies") > 1).count()
        elif key == "q52_clusters":
            n = df.select("cluster_id").distinct().count()
        else:
            n = df.count()
        out[f"sf1_{key}_sec"] = round(time.perf_counter() - t0, 3)
        out[f"sf1_{key}_rows"] = n
        counts[key] = n
    # the identical block contributes ZERO capped LSH candidates...
    pairs = QUERIES["q26_minhash_dup_pairs"](spark, stress_dir)
    blk_pairs = pairs.where((F.col("a_id") >= blk_lo)
                            & (F.col("a_id") < blk_hi)
                            & (F.col("b_id") < blk_hi)).count()
    assert blk_pairs == 0, \
        f"hot-bucket ceiling leaked {blk_pairs} block pairs"
    out["sf1_block_pairs_after_cap"] = blk_pairs
    # ...while exact dedup still catches it (>= the 200-doc block + the
    # ~495 planted exact pairs collapse into duplicate groups)
    assert counts["q20_exact"] >= 200, counts
    # candidate volume tracks planted dups, not |docs|^2: ~2.4k near-dup
    # + ~0.5k exact-dup plantings must be FOUND (lower bound) without the
    # join going quadratic (upper bound: order-of-magnitude slack, vs the
    # ~20M pairs an uncapped identical block + popular-minhash buckets
    # would emit)
    assert 2_000 <= counts["q26_lsh_pairs"] < 50_000, counts
    _sh.rmtree(stress_dir, ignore_errors=True)

    # stateful chain, default path (v2 coarse + RocksDB), ONE shot at 4x
    # the tuned one-doc-per-row shape
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        file_stream, run_stateful_pipeline)
    # cap at what materialize_input actually wrote: a shrunk
    # SPARK_GRAFT_BENCH_ROWS run must scale this leg down, not trip the
    # row-count assert and lose the whole ledger
    n_rows = min(48_000, PIPELINE_ROWS)
    src = tempfile.mkdtemp(prefix="bench_sf1chain_src_")
    (spark.read.parquet(f"{BENCH_INPUT}/list").limit(n_rows)
     .withColumn("doc_id", F.concat_ws("-", "doc_id",
                                       F.col("seq_no").cast("string")))
     .coalesce(16).write.mode("overwrite").parquet(src))
    chain_out = tempfile.mkdtemp(prefix="bench_sf1chain_out_")
    ck = tempfile.mkdtemp(prefix="bench_sf1chain_ck_")
    t0 = time.perf_counter()
    q = run_stateful_pipeline(
        lambda s: file_stream(s, src, max_files_per_trigger=16),
        f"{chain_out}/o", ck)
    finished = q.awaitTermination(1200)
    secs = time.perf_counter() - t0
    if finished:
        rows = spark.read.parquet(f"{chain_out}/o/data").count()
        assert rows == n_rows, (rows, n_rows)
        out["sf1_chain_rows"] = n_rows
        out["sf1_chain_sec"] = round(secs, 3)
        out["sf1_chain_seqs_per_sec"] = round(n_rows / secs, 1)
    else:
        q.stop()
        out["sf1_chain_timeout"] = True
    for d in (src, chain_out, ck):
        _sh.rmtree(d, ignore_errors=True)
    return out


HEADLINE_ROUNDS = int(os.environ.get("SPARK_GRAFT_HEADLINE_ROUNDS", "3"))
# sub-SHORT_QUERY_SECS queries get SHORT_ROUNDS trials (median-of-5): three
# rounds of a ~300 ms query cannot average out host interference windows
SHORT_QUERY_SECS = float(os.environ.get("SPARK_GRAFT_SHORT_QUERY_SECS",
                                        "0.4"))
SHORT_ROUNDS = int(os.environ.get("SPARK_GRAFT_SHORT_ROUNDS", "5"))
# queries whose trimmed spread still exceeds SPREAD_TARGET after the
# scheduled rounds get up to HEADLINE_EXTRA_ROUNDS more interleaved trials
SPREAD_TARGET = float(os.environ.get("SPARK_GRAFT_SPREAD_TARGET", "0.25"))
HEADLINE_EXTRA_ROUNDS = int(os.environ.get("SPARK_GRAFT_HEADLINE_EXTRA",
                                           "8"))


def run_headline(spark) -> tuple[dict[str, float], dict[str, float]]:
    """Interleaved median-of-N headline legs (same protocol as the north
    ladder, brought to the per-query numbers): one uncounted warmup pass per
    query (JVM codegen + Python worker pool + shuffle machinery), then
    HEADLINE_ROUNDS counted rounds visiting every query per round
    (A/B/.../L interleave), median + relative spread per query. A host
    interference window (this VM shows multi-second windows where identical
    trials run 2x slower) lands on one ROUND — i.e. on every query a
    little — instead of on whole single-shot legs, so round-over-round
    drift like r03's q03 0.82->1.36 s cannot masquerade as a plan
    regression. Returns (medians, spreads)."""
    from pdf_watermark_removal_otsu_inpaint_spark.plans.queries import QUERIES
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    _noop(spark.range(10000).repartition(CPUS).select(_warm("id")))
    plans = {name: QUERIES[name](spark, SF_DIR) for name in HEADLINE}
    warm_secs: dict[str, float] = {}
    for name in HEADLINE:        # uncounted warmup pass, every query
        t0 = time.perf_counter()
        _noop(plans[name])
        warm_secs[name] = time.perf_counter() - t0
    # rounds scale inversely with query cost: a sub-400 ms query cannot
    # average host-interference windows out of 3 trials (r04 spreads hit
    # 0.31 on q08), so short queries get SHORT_ROUNDS trials; their spread
    # is then reported over the central trials (min and max trimmed — the
    # trials that cannot have decided the median), which is the honest
    # dispersion of the estimator actually published
    rounds_for = {n: (SHORT_ROUNDS if warm_secs[n] < SHORT_QUERY_SECS
                      else HEADLINE_ROUNDS) for n in HEADLINE}
    _wait_for_quiet("headline")
    trials: dict[str, list] = {name: [] for name in HEADLINE}

    def one_trial(name):
        j0 = _steal_jiffies()
        t0 = time.perf_counter()
        _noop(plans[name])
        wall = time.perf_counter() - t0
        trials[name].append(
            (wall, _steal_cores(j0, wall), _canary_secs()))

    for r in range(max(rounds_for.values())):
        for name in HEADLINE:    # keep the A/B/.../L interleave per round
            if r >= rounds_for[name]:
                continue
            one_trial(name)

    def _spread(ts) -> float:
        return round(_trimmed_spread(_clean_secs(ts)), 3)

    # adaptive re-measurement: a host interference window can blow a
    # query's spread past any fixed round count (r5 first run: 0.42 on a
    # 3-round query). Queries whose trimmed spread (over steal-clean
    # trials — see STEAL_CORES) exceeds SPREAD_TARGET, or that have fewer
    # than 3 clean trials, get extra interleaved rounds (bounded) — more
    # trials tighten both the median and the trimmed spread without
    # re-running quiet queries.
    for _ in range(HEADLINE_EXTRA_ROUNDS):
        bad = [n for n in HEADLINE
               if _spread(trials[n]) > SPREAD_TARGET
               or len([1 for t in trials[n]
                       if not _is_dirty(t[1], t[2])]) < 3]
        if not bad:
            break
        for name in bad:
            one_trial(name)
    medians = {n: round(_median(_clean_secs(ts)), 3)
               for n, ts in trials.items()}
    spreads = {n: _spread(ts) for n, ts in trials.items()}
    # raw per-trial arrays for the full ledger — the steal/canary gate's
    # exclusions must be auditable ("raw lists always stay in the
    # ledger"), exactly as the ladders publish theirs
    best = _CANARY_BEST[0]
    raw = {n: {"sec": [round(t[0], 3) for t in ts],
               "steal_cores": [round(t[1], 2) for t in ts],
               "canary": [round(t[2] / best, 2) for t in ts]}
           for n, ts in trials.items()}
    return medians, spreads, raw


LADDER_ROWS = int(os.environ.get("SPARK_GRAFT_LADDER_ROWS", "480000"))
LADDER_INPUT = os.environ.get("SPARK_GRAFT_LADDER_INPUT",
                              "/tmp/spark_graft_ladder_input")


def materialize_ladder_input(spark) -> None:
    """8x pipeline input, packed layout only (the north-ladder workload)."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair import (
        pack_tokens)
    from pdf_watermark_removal_otsu_inpaint_spark.sources.synth import (
        synth_sequences)
    marker = f"{LADDER_INPUT}/.complete_{LADDER_ROWS}_{N_TOK}"
    if os.path.exists(marker):
        return
    shutil.rmtree(LADDER_INPUT, ignore_errors=True)
    os.makedirs(LADDER_INPUT, exist_ok=True)
    df = synth_sequences(spark, LADDER_ROWS, N_TOK, partitions=128)
    pack_tokens(df).write.mode("overwrite").parquet(f"{LADDER_INPUT}/packed")
    open(marker, "w").write("ok")


LADDER_TRIALS = int(os.environ.get("SPARK_GRAFT_LADDER_TRIALS", "7"))


def ladder_child(cpus: int) -> None:
    """Subprocess entry for ONE ladder leg: build the job, warm the workers,
    then run one timed pass per 'GO' line on stdin, printing one JSON line
    per trial. The parent interleaves GO commands across the two legs so a
    host interference window (this VM shows multi-second windows where
    identical trials run 2x slower) hits BOTH legs or NEITHER — round 2's
    0.556-vs-0.916 flip came from back-to-back best-of-3 legs where one leg
    absorbed a whole window."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences_arrow_packed)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark
    spark = get_spark(f"bench-ladder-{cpus}", cpus=cpus,
                      shuffle_partitions=cpus, extra_conf=TOKEN_CONF)
    df = spark.read.parquet(f"{LADDER_INPUT}/packed")
    out = repair_sequences_arrow_packed(df, DEFAULT_PARAMS.with_(passes=2))
    _noop(out.limit(4000))  # warm workers + JIT
    print(json.dumps({"ready": True, "cpus": cpus}), flush=True)
    for line in sys.stdin:
        if line.strip() != "GO":
            break
        t0 = time.perf_counter()
        _noop(out)
        print(json.dumps({"cpus": cpus,
                          "sec": time.perf_counter() - t0}), flush=True)
    spark.stop()


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


LADDER_SPREAD_TARGET = float(os.environ.get(
    "SPARK_GRAFT_LADDER_SPREAD_TARGET", "0.3"))
LADDER_EXTRA_TRIALS = int(os.environ.get("SPARK_GRAFT_LADDER_EXTRA", "4"))


def _trimmed_spread(ts) -> float:
    """(max-min)/median over the central trials: len//4 dropped from each
    end once there are >= 5 (n=5..7 -> 1/side, n=8..11 -> 2/side, ...) —
    the outer trials cannot have decided the median, and under hypervisor
    steal a ~100 ms query collects multi-x outliers that say nothing about
    the published estimator. Raw trial lists stay in the ledger."""
    k = max(1, len(ts) // 4) if len(ts) >= 5 else 0
    core = sorted(ts)[k:-k] if k else sorted(ts)
    return (max(core) - min(core)) / _median(ts)


# Hypervisor-steal gating: /proc/stat's aggregate steal counter (field 8,
# USER_HZ jiffies summed over all vCPUs) measures interference DIRECTLY —
# time our runnable vCPUs spent preempted by the hypervisor. Spread-based
# re-measurement (above) recovers from a window that hits SOME trials, but
# a storm spanning a whole ladder contaminates every trial equally and no
# per-trial statistic can detect it (observed: an entire e1x ladder 9-16%
# slow across all 14 trials, efficiency 0.85 -> 0.72). Quiet-window
# baseline on this VM: ~0.04 cores of steal under an 8-core spin; storms
# run >= 1-3 cores. A trial whose mean steal exceeds STEAL_CORES is marked
# contaminated and excluded from the published median whenever >= 3 clean
# trials remain (raw lists always stay in the ledger).
STEAL_CORES = float(os.environ.get("SPARK_GRAFT_STEAL_CORES", "0.25"))
QUIET_WAIT_S = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_S", "240"))


def _steal_jiffies() -> int:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return 0


def _steal_cores(j0: int, wall: float) -> float:
    """Mean stolen cores over a window starting at steal counter j0."""
    return (_steal_jiffies() - j0) / 100.0 / max(wall, 1e-9)


# Second interference signal: steal only shows hypervisor CPU preemption,
# but co-tenant DRAM-bandwidth contention slows trials with ZERO steal
# (observed: 167 s vs 72 s identical e1x trials, steal 0.01-0.08 cores).
# A fixed-work memcpy canary timed right after each trial exposes it: the
# copy's wall time is pure memory bandwidth. Trials record the RAW canary
# seconds; dirtiness is judged lazily against the best canary the process
# has seen by evaluation time (a storm at startup cannot poison the
# baseline, and a trial taken during an early storm is re-judged against
# the later, quieter best). Ratio reads ~1.0 quiet, 1.5-3x mid-contention.
# Measurement discipline (learned from a poisoned run): BOTH buffers are
# preallocated and the timed region is a bare np.copyto — the first cut
# timed buf.copy(), whose fresh 64 MB allocation page-faults (and
# THP-compacts) inside the timing; in a long-lived process that read
# 10-40x while a fresh child read 1.0-1.7x at the same instant, poisoning
# the process best and stalling the quiet-wait on a phantom storm. And the
# work must be BIG: a 64 MB copy (~5-10 ms) shows 1.5-2.2x drift from
# frequency ramp and transients alone; 256 MB with min-of-2 copies reads
# 1.08x steady / 1.15x under heavy allocator churn — comfortably inside
# the 1.6x dirty threshold.
CANARY_MB = int(os.environ.get("SPARK_GRAFT_CANARY_MB", "256"))
CANARY_FACTOR = float(os.environ.get("SPARK_GRAFT_CANARY_FACTOR", "1.6"))
_CANARY_SRC = None
_CANARY_DST = None
_CANARY_BEST = [float("inf")]


def _canary_secs() -> float:
    """Min-of-2 fixed-work memcpys; returns raw seconds, refines the best."""
    global _CANARY_SRC, _CANARY_DST
    import numpy as np
    if _CANARY_SRC is None:
        _CANARY_SRC = np.ones(CANARY_MB << 20, dtype=np.uint8)
        _CANARY_DST = np.empty_like(_CANARY_SRC)
        np.copyto(_CANARY_DST, _CANARY_SRC)  # fault pages outside timing
    dt = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        np.copyto(_CANARY_DST, _CANARY_SRC)
        dt = min(dt, time.perf_counter() - t0)
    _CANARY_BEST[0] = min(_CANARY_BEST[0], dt)
    return dt


def _canary_ratio() -> float:
    return _canary_secs() / _CANARY_BEST[0]


def _is_dirty(steal: float, canary_dt: float) -> bool:
    return (steal > STEAL_CORES
            or canary_dt / _CANARY_BEST[0] > CANARY_FACTOR)


def _clean_secs(trials) -> list:
    """Trial secs to publish: contaminated trials (steal > STEAL_CORES or
    canary ratio > CANARY_FACTOR) drop out when >= 3 clean ones remain;
    else all trials count (a storm that never lifts must not leave an
    empty estimator)."""
    clean = [t[0] for t in trials if not _is_dirty(t[1], t[2])]
    return clean if len(clean) >= 3 else [t[0] for t in trials]


def _steal_probe(cores: int = 4, sec: float = 2.0) -> float:
    """Steal accrues only on RUNNABLE vCPUs, so an idle probe reads ~0
    even mid-storm — spin a few pinned cores briefly and measure."""
    j0 = _steal_jiffies()
    t0 = time.perf_counter()
    procs = [subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.time()\n"
         f"while time.time() - t < {sec}:\n    pass"])
        for _ in range(cores)]
    for p in procs:
        p.wait()
    return _steal_cores(j0, time.perf_counter() - t0)


def _wait_for_quiet(tag: str) -> float:
    """Defer a scaling-critical section while a steal storm is running
    (bounded by QUIET_WAIT_S — a storm that never lifts still benches,
    flagged by the per-trial steal columns). Returns last probed rate."""
    deadline = time.time() + QUIET_WAIT_S
    while True:
        rate = _steal_probe()
        canary = _canary_ratio()
        if rate <= STEAL_CORES and canary <= CANARY_FACTOR:
            return rate
        if time.time() >= deadline:
            print(f"[bench] {tag}: starting despite steal "
                  f"{rate:.2f} cores / canary {canary:.2f}x "
                  f"(quiet-wait exhausted)", flush=True)
            return rate
        print(f"[bench] {tag}: steal {rate:.2f} cores, canary "
              f"{canary:.2f}x — waiting for a quiet window", flush=True)
        time.sleep(20)


E1X_LADDER_TRIALS = int(os.environ.get("SPARK_GRAFT_E1X_TRIALS", "3"))
# sink output + shuffle dirs for the SCALING ladder live on tmpfs: on a
# real cluster sink/shuffle I/O lands on per-node disks that scale with
# the cluster, but this box has ONE shared disk (~400 MB/s) — measured on
# it, both legs bottleneck on the same device and the ratio measures the
# disk, not the job (observed: the 2-core and 32-core e1x runs converge).
# tmpfs makes I/O a per-leg (DRAM) resource, the same isolation reasoning
# as the DRAM-ceiling probe; ABSOLUTE disk-backed throughput is what the
# headline exactly_once leg reports.
E1X_SCRATCH = os.environ.get("SPARK_GRAFT_E1X_SCRATCH",
                             "/dev/shm/spark_graft_e1x")


def e1x_child(cpus: int) -> None:
    """Subprocess entry for ONE exactly-once ladder leg: the FULL streamed
    job (file stream -> fused detect+repair -> exactly-once sink with
    dedup, lineage and commit markers) on the 8x ladder input (the same
    workload as the kernel ladder, so fixed micro-batch cost is
    amortized). One complete run per 'GO' line; fresh checkpoint + output
    dirs each trial; cold-start absorbed by an uncounted warmup run."""
    import shutil as _sh
    import tempfile

    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        repair_sequences_arrow_packed)
    from pdf_watermark_removal_otsu_inpaint_spark.params import DEFAULT_PARAMS
    from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.sink import (
        ExactlyOnceParquetSink)
    scratch = f"{E1X_SCRATCH}_{cpus}"
    os.makedirs(scratch, exist_ok=True)
    conf = dict(TOKEN_CONF)
    conf["spark.local.dir"] = f"{scratch}/local"
    spark = get_spark(f"bench-e1x-ladder-{cpus}", cpus=cpus,
                      shuffle_partitions=cpus, extra_conf=conf)
    params = DEFAULT_PARAMS.with_(passes=2)

    def one_run() -> float:
        out_dir = tempfile.mkdtemp(prefix="e1x_out_", dir=scratch)
        ck = tempfile.mkdtemp(prefix="e1x_ck_", dir=scratch)
        sink = ExactlyOnceParquetSink(f"{out_dir}/out")
        stream = (spark.readStream
                  .schema("doc_id string, n_tok int, source string, "
                          "event_ts timestamp, seq_no long, "
                          "tokens_bin binary")
                  .option("maxFilesPerTrigger",
                          os.environ.get("SPARK_GRAFT_E1X_MAXFILES", "128"))
                  .parquet(f"{LADDER_INPUT}/packed"))
        t0 = time.perf_counter()
        q = (stream.writeStream
             .foreachBatch(
                 lambda b, i: sink(repair_sequences_arrow_packed(b, params),
                                   i))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        secs = time.perf_counter() - t0
        n = sink.committed_rows()
        assert n == LADDER_ROWS, f"e1x ladder rows {n} != {LADDER_ROWS}"
        _sh.rmtree(out_dir, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)
        return secs

    try:
        one_run()   # warm: streaming engine + python workers, uncounted
        print(json.dumps({"ready": True, "cpus": cpus}), flush=True)
        for line in sys.stdin:
            if line.strip() != "GO":
                break
            print(json.dumps({"cpus": cpus, "sec": one_run()}), flush=True)
        spark.stop()
    finally:
        _sh.rmtree(scratch, ignore_errors=True)


def _run_interleaved_ladder(child_flag: str, n_trials: int,
                            timeout_s: int, protocol: str,
                            cleanup=None) -> dict:
    """Shared N -> 4N ladder driver: two persistent CPU-pinned children
    (one per leg), trials interleaved A/B/A/B..., MEDIAN per leg + relative
    spread, efficiency = ratio of medians. A lucky or unlucky single trial
    cannot move a median; a host interference window spans both legs. A
    watchdog kills a hung child (failing the ladder rather than stalling
    the run), and `cleanup` runs in a finally either way — SIGKILLed
    children never get to run their own atexit/finally cleanup.

    Steal gating (see STEAL_CORES): the ladder defers its start while a
    hypervisor-steal storm is running, measures steal across every trial,
    and computes the published medians over CLEAN trials when >= 3 remain
    per leg — a storm that spans the whole ladder slows both legs but
    NOT proportionally (the wider leg loses more effective cores), so
    contaminated trials bias the efficiency ratio itself."""
    _wait_for_quiet(child_flag.lstrip("-"))
    have_taskset = shutil.which("taskset") is not None
    legs = ((2, "0-1"), (8, "0-7"))
    procs = {}
    for cpus, cpuset in legs:
        cmd = [sys.executable, os.path.abspath(__file__), child_flag,
               str(cpus)]
        if have_taskset:
            cmd = ["taskset", "-c", cpuset] + cmd
        procs[cpus] = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL, text=True, bufsize=1)

    def next_json(p):
        import threading
        timer = threading.Timer(timeout_s, p.kill)
        timer.start()
        try:
            while True:
                line = p.stdout.readline()
                if not line:
                    raise RuntimeError(
                        f"{child_flag} child died or timed out")
                if line.startswith("{"):
                    return json.loads(line)
        finally:
            timer.cancel()

    try:
        for cpus, _ in legs:        # wait for both warmups before trial 1
            next_json(procs[cpus])
        trials = {cpus: [] for cpus, _ in legs}

        def one_trial(cpus):
            p = procs[cpus]
            j0 = _steal_jiffies()
            t0 = time.perf_counter()
            p.stdin.write("GO\n")
            p.stdin.flush()
            sec = next_json(p)["sec"]
            trials[cpus].append(
                (sec, _steal_cores(j0, time.perf_counter() - t0),
                 _canary_secs()))

        for _ in range(n_trials):   # interleave: one trial/leg/round
            for cpus, _ in legs:
                one_trial(cpus)
        # adaptive re-measurement (same rule as the headline): hypervisor
        # steal can blow one leg's spread past any fixed trial count —
        # while either leg's TRIMMED spread (over clean trials) exceeds
        # the target, or a leg has fewer than 3 steal-clean trials, both
        # legs get another interleaved trial (both, so a window still
        # spans them), bounded. More trials tighten the median the
        # efficiency ratio is computed from.
        for _ in range(LADDER_EXTRA_TRIALS):
            if all(_trimmed_spread(_clean_secs(trials[c]))
                   <= LADDER_SPREAD_TARGET
                   and len([1 for t in trials[c]
                            if not _is_dirty(t[1], t[2])]) >= 3
                   for c, _ in legs):
                break
            for cpus, _ in legs:
                one_trial(cpus)
        for cpus, _ in legs:
            p = procs[cpus]
            p.stdin.close()
            try:
                p.wait(timeout=120)
            except subprocess.TimeoutExpired:
                p.kill()       # a JVM hung in spark.stop() must not
                p.wait()       # discard the collected trials
    except BaseException:
        for p in procs.values():
            p.kill()
        raise
    finally:
        if cleanup is not None:
            cleanup()
    out = {}
    for cpus, _ in legs:
        secs = _clean_secs(trials[cpus])
        med = _median(secs)
        n_dirty = len(trials[cpus]) - len(secs)
        out[cpus] = {"sec": round(med, 3),
                     "seqs_per_sec": round(LADDER_ROWS / med, 1),
                     "trials_sec": [round(t[0], 2) for t in trials[cpus]],
                     "trials_steal_cores": [round(t[1], 2)
                                            for t in trials[cpus]],
                     "trials_canary": [round(t[2] / _CANARY_BEST[0], 2)
                                       for t in trials[cpus]],
                     "steal_discarded": n_dirty,
                     # trimmed (min/max dropped at n>=5): the dispersion
                     # of the trials that can decide the median; the raw
                     # trial list above stays published either way
                     "spread": round(_trimmed_spread(secs), 3),
                     "pinned": have_taskset}
    out["rows"] = LADDER_ROWS
    # the ACTUAL per-leg trial count — adaptive re-measurement may have
    # appended extra interleaved trials beyond the scheduled n_trials
    out["trials"] = max(len(trials[c]) for c, _ in legs)
    out["protocol"] = protocol
    out["efficiency_2_to_8"] = round(
        (out[2]["sec"] / out[8]["sec"]) / (8 / 2), 3)
    # WINDOW-MATCHED (paired) estimator, published alongside: round i's
    # 2-core and 8-core trials run back-to-back in the SAME host window,
    # so their ratio is a complete N-vs-4N experiment under one level of
    # co-tenant contention; the median of per-round ratios is robust to a
    # minority of contended rounds. The ratio-of-medians above is NOT
    # robust to sustained LOW-GRADE bandwidth contention that every trial
    # passes the canary gate under: the wider leg loses more of the
    # shared DRAM bandwidth, so its median inflates more and the ratio
    # collapses (measured: three windows with clean-trial canaries at
    # 1.10-1.20x read e1x 0.762-0.772 while the paired estimator read
    # ~0.80-0.81 in the same runs, and a pristine 1.00-1.02x window read
    # 0.897 / 0.827). Primary stays ratio-of-medians for round-over-round
    # comparability; read the paired figure when the per-section
    # fingerprints show a contended window.
    eff, used = _paired_efficiency(trials[2], trials[8])
    out["efficiency_2_to_8_paired"] = eff
    out["paired_rounds_used"] = used
    return out


def _paired_efficiency(trials_n, trials_4n, factor: float = 4.0):
    """Median of per-round N/4N ratios over clean pairs (both trials of a
    round steal/canary-clean); all pairs when fewer than 3 clean remain,
    same fallback rule as _clean_secs. Trials are (sec, steal, canary_dt)
    tuples in round order. Returns (efficiency, rounds_used)."""
    pairs = list(zip(trials_n, trials_4n))
    clean = [(a, b) for a, b in pairs
             if not (_is_dirty(a[1], a[2]) or _is_dirty(b[1], b[2]))]
    use = clean if len(clean) >= 3 else pairs
    return (round(_median([a[0] / b[0] for a, b in use]) / factor, 3),
            len(use))


def run_e1x_ladder() -> dict:
    """North-rule evidence on the EXACTLY-ONCE job itself: the metric is
    'sustained sequences/sec (exactly-once ...) with scaling efficiency
    >= 0.8 from N to 4N executors', so this ladder runs the complete
    streamed sink job (not just the kernel) at 2 vs 8 pinned cores on the
    same input — the identical interleaved-median noise protocol as the
    kernel ladder. Scratch (tmpfs) dirs are purged by the PARENT even when
    a watchdog SIGKILL prevents the child's own cleanup (RAM-backed leaks
    would otherwise distort the host-ceiling probe that runs next)."""
    import shutil as _sh

    def purge_scratch():
        for cpus in (2, 8):
            _sh.rmtree(f"{E1X_SCRATCH}_{cpus}", ignore_errors=True)

    purge_scratch()      # stale dirs from a previous killed run
    return _run_interleaved_ladder(
        "--e1x-child", E1X_LADDER_TRIALS, 900,
        "interleaved A/B rounds, median per leg, warm engine",
        cleanup=purge_scratch)


def run_north_ladder() -> dict:
    """N -> 4N executors (2 -> 8 pinned cores) on the 8x input: the primary
    north-rule scaling evidence. Sized below the host's DRAM saturation knee
    so it measures the JOB's scalability, not the VM's memory wall."""
    return _run_interleaved_ladder(
        "--ladder-child", LADDER_TRIALS, 600,
        "interleaved A/B rounds, median per leg")


def _host_worker(kind, nrows, q, cpu, barrier):
    import numpy as np
    os.sched_setaffinity(0, {cpu})
    if kind == "kern":
        from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
            repair_batch)
        from pdf_watermark_removal_otsu_inpaint_spark.params import (
            DEFAULT_PARAMS)
        rng = np.random.default_rng(42)
        rows = np.full((1024, N_TOK), 255, dtype=np.int32)
        rows[:, 100:500] = 200
        rows[:, 600:640] = 80
        rows[:, :64] = rng.integers(0, 255, size=(1024, 64))
        flat = rows.ravel()
        offs = np.arange(0, rows.size + 1, N_TOK, dtype=np.int64)
        params = DEFAULT_PARAMS.with_(passes=2)
        repair_batch(flat, offs, params)
        barrier.wait()
        t0 = time.perf_counter()
        done = 0
        while done < nrows:
            b = min(1024, nrows - done)
            repair_batch(flat[:b * N_TOK], offs[:b + 1], params)
            done += b
        q.put(time.perf_counter() - t0)
    else:  # memcpy
        a = np.ones(64 * 1024 * 1024 // 8)
        b = np.empty_like(a)
        np.copyto(b, a)
        barrier.wait()
        t0 = time.perf_counter()
        for _ in range(10):
            np.copyto(b, a)
        q.put(time.perf_counter() - t0)


def host_ceiling_probe(total_rows: int = 60000) -> dict:
    """Spark-free strong-scaling of (a) raw memcpy and (b) the bare kernel
    at 2/8/32 pinned processes: the reproducible host-DRAM-ceiling proof."""
    from multiprocessing import Barrier, Process, Queue
    out = {"memcpy_gbps": {}, "kernel_seqs_per_sec": {}}
    for nproc in (2, 8, 32):
        for kind in ("mem", "kern"):
            best = float("inf")
            for _ in range(2):
                q = Queue()
                barrier = Barrier(nproc)
                ps = [Process(target=_host_worker,
                              args=(kind, total_rows // nproc, q, i, barrier))
                      for i in range(nproc)]
                [p.start() for p in ps]
                ts = [q.get() for _ in ps]
                [p.join() for p in ps]
                best = min(best, max(ts))
            if kind == "mem":
                out["memcpy_gbps"][nproc] = round(
                    2 * 64 * 10 * nproc / best / 1024, 1)
            else:
                out["kernel_seqs_per_sec"][nproc] = round(total_rows / best)
    k = out["kernel_seqs_per_sec"]
    m = out["memcpy_gbps"]
    out["kernel_eff_2_to_8"] = round(k[8] / k[2] / 4, 3)
    out["kernel_eff_8_to_32"] = round(k[32] / k[8] / 4, 3)
    out["memcpy_eff_8_to_32"] = round(m[32] / m[8] / 4, 3)
    # weak scaling: FIXED work per core (the verdict's bandwidth-isolating
    # methodology) — 8 and 32 procs each process `per_core` rows; ideal
    # wall time is flat, efficiency = T8/T32... (T32 >= T8 under a shared
    # ceiling). Reported as T8/T32 (1.0 = perfect weak scaling).
    per_core = total_rows // 32
    weak = {}
    for nproc in (8, 32):
        from multiprocessing import Barrier, Process, Queue
        best = float("inf")
        for _ in range(2):
            q = Queue()
            barrier = Barrier(nproc)
            ps = [Process(target=_host_worker,
                          args=("kern", per_core, q, i, barrier))
                  for i in range(nproc)]
            [p.start() for p in ps]
            ts = [q.get() for _ in ps]
            [p.join() for p in ps]
            best = min(best, max(ts))
        weak[nproc] = round(best, 3)
    out["kernel_weak_8_vs_32_sec"] = weak
    out["kernel_weak_eff_8_to_32"] = round(weak[8] / weak[32], 3)
    return out


def scale_child(cpus: int) -> None:
    """Subprocess entry: run the packed pipeline at `cpus`, print seconds."""
    from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark
    spark = get_spark(f"bench-scale-{cpus}", cpus=cpus,
                      shuffle_partitions=cpus, extra_conf=TOKEN_CONF)
    # Host interference comes in multi-second windows (observed 11k-23k
    # seqs/s across consecutive identical trials in one process), so take
    # best-of-8 — enough span to catch a quiet window on both legs.
    secs_arrow = pipeline_secs(spark, "arrow_packed", trials=8)
    spark.stop()
    print(json.dumps({"cpus": cpus, "sec_arrow": secs_arrow}))


def run_scaling() -> dict:
    """Two pinned subprocess runs on the same input; see module docstring."""
    _wait_for_quiet("scaling")
    have_taskset = shutil.which("taskset") is not None
    out = {}
    for cpus, cpuset in ((8, "0-7"), (32, "0-31")):
        cmd = [sys.executable, os.path.abspath(__file__), "--scale-child",
               str(cpus)]
        if have_taskset:
            cmd = ["taskset", "-c", cpuset] + cmd
        env = dict(os.environ)
        r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                           timeout=1200)
        line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
        rec = json.loads(line)
        out[cpus] = {"sec_arrow": round(rec["sec_arrow"], 3),
                     "seqs_per_sec_arrow":
                         round(PIPELINE_ROWS / rec["sec_arrow"], 1),
                     "pinned": have_taskset}
    out["efficiency_8_to_32_arrow"] = round(
        (out[8]["sec_arrow"] / out[32]["sec_arrow"]) / (32 / 8), 3)
    return out


def main():
    if len(sys.argv) > 2 and sys.argv[1] == "--scale-child":
        scale_child(int(sys.argv[2]))
        return
    if len(sys.argv) > 2 and sys.argv[1] == "--ladder-child":
        ladder_child(int(sys.argv[2]))
        return
    if len(sys.argv) > 2 and sys.argv[1] == "--e1x-child":
        e1x_child(int(sys.argv[2]))
        return

    from pdf_watermark_removal_otsu_inpaint_spark.session import get_spark

    result = {"metric": "headline wall time sf0.1 + pipeline seq/s",
              "unit": "sec", "sf": 0.1 if "sf0.1" in SF_DIR else SF_DIR}

    spark = get_spark("bench", cpus=CPUS, extra_conf=TOKEN_CONF)
    queries, query_spreads, query_trials = run_headline(spark)
    result["queries"] = queries
    result["query_spreads"] = query_spreads
    result["query_trials"] = query_trials   # full ledger only (not compact)
    result["headline_protocol"] = (
        f"interleaved rounds, median of {HEADLINE_ROUNDS} per query "
        f"(median of {SHORT_ROUNDS} + min/max-trimmed spread for queries "
        f"under {SHORT_QUERY_SECS} s at warmup), 1 warmup pass, up to "
        f"{HEADLINE_EXTRA_ROUNDS} adaptive extra rounds per query while "
        f"its spread exceeds {SPREAD_TARGET}; per-trial hypervisor-steal "
        f"gate at {STEAL_CORES} cores (contaminated trials excluded when "
        f">= 3 clean remain)")
    result["value"] = round(sum(queries.values()), 3)

    # per-SECTION interference fingerprint for the fixed-cost local[32]
    # legs: these publish best-of-N with no per-trial gate, so a storm
    # spanning a whole section poisons them SILENTLY (observed: a run
    # with every chain leg 25-30% slow and 8->32 efficiency at 0.19).
    # Record the mean steal and end-of-section canary ratio per section
    # in the full ledger — not a gate, but the reader (and the next
    # round's comparison) can see which numbers were taken under load.
    section_env = result["section_interference"] = {}

    def section(name, fn):
        j0, t0 = _steal_jiffies(), time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        section_env[name] = {
            "steal_cores": round(_steal_cores(j0, wall), 3),
            "canary": round(_canary_ratio(), 2),
            "wall_sec": round(wall, 1)}
        return out

    materialize_input(spark, PIPELINE_ROWS)
    if not FAST:
        materialize_ladder_input(spark)
    result["pipeline_rows"] = PIPELINE_ROWS
    result["pipeline_n_tok"] = N_TOK

    def run_pipelines():
        for layout in ("list", "arrow_packed"):
            secs = pipeline_secs(spark, layout)
            result[f"pipeline_{layout}_sec"] = round(secs, 3)
            result[f"pipeline_{layout}_seqs_per_sec"] = round(
                PIPELINE_ROWS / secs, 1)
    section("pipeline", run_pipelines)
    result["pipeline_tokens_per_sec"] = round(
        PIPELINE_ROWS * N_TOK / result["pipeline_arrow_packed_sec"])
    result.update(section("histogram",
                          lambda: histogram_compare_secs(spark)))
    e1x = section("exactly_once", lambda: exactly_once_secs(spark))
    result["exactly_once_sec"] = round(e1x, 3)
    result["exactly_once_seqs_per_sec"] = round(PIPELINE_ROWS / e1x, 1)
    if not FAST:
        st_sec, st_rows = section("stateful",
                                  lambda: stateful_secs(spark))
        if st_sec is not None:
            result["stateful_pipeline_sec"] = round(st_sec, 3)
            result["stateful_pipeline_rows"] = st_rows
            result["stateful_pipeline_seqs_per_sec"] = round(
                st_rows / st_sec, 1)
        else:
            result["stateful_pipeline_timeout"] = True
        result.update(section("chain_compare",
                              lambda: stateful_chain_compare_secs(spark)))
        result.update(section("scale_stress", lambda: scale_stress(spark)))
    spark.stop()

    if not FAST:
        _emit_compact(result)       # checkpoint: local[32] sections done
        scaling = run_scaling()
        result["scaling"] = scaling
        _emit_compact(result)
        north = run_north_ladder()
        result["scaling_n_to_4n"] = north
        # the north-rule criterion (N -> 4N executors, same job+input):
        result["scaling_efficiency_north"] = north["efficiency_2_to_8"]
        result["scaling_efficiency_north_paired"] = \
            north["efficiency_2_to_8_paired"]
        _emit_compact(result)
        e1x_ladder = run_e1x_ladder()
        result["scaling_n_to_4n_exactly_once"] = e1x_ladder
        result["scaling_efficiency_north_e1x"] = \
            e1x_ladder["efficiency_2_to_8"]
        result["scaling_efficiency_north_e1x_paired"] = \
            e1x_ladder["efficiency_2_to_8_paired"]
        _emit_compact(result)
        ceiling = host_ceiling_probe()
        result["host_ceiling"] = ceiling
        _write_bench_md(result, scaling, north, ceiling)

    _emit_compact(result)           # the authoritative final line
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
        json.dump(result, f, indent=1)


def _emit_compact(result) -> None:
    """Print one complete compact-summary JSON line for the sections done
    SO FAR. Called after every expensive section AND at the very end: the
    driver parses the LAST JSON line of its bounded stdout tail, so if an
    external timeout kills the run mid-ladder, the latest checkpoint line
    still parses (round 3 lost its whole ledger to exactly this failure
    shape). NB: no sort_keys — the scaling dicts key by int core counts
    alongside str metric names, and sorted() across those raises."""
    compact = {k: result[k] for k in ("metric", "unit", "sf", "value",
                                      "queries")}
    for k in ("scaling_efficiency_north",
              "scaling_efficiency_north_paired",
              "scaling_efficiency_north_e1x",
              "scaling_efficiency_north_e1x_paired",
              "pipeline_arrow_packed_seqs_per_sec",
              "pipeline_tokens_per_sec",
              "exactly_once_seqs_per_sec",
              "stateful_pipeline_seqs_per_sec",
              "chain_docrow_v2rocks_seqs_per_sec",
              "chain_docrow_v2rocks_sized_seqs_per_sec",
              "chain_docrow_joinfree_seqs_per_sec",
              "sf1_q26_lsh_pairs_rows", "sf1_chain_seqs_per_sec",
              "hist_explode_sec", "hist_bincount_sec"):
        if k in result:
            compact[k] = result[k]
    if "scaling_n_to_4n" in result:
        n = result["scaling_n_to_4n"]
        compact["north_spreads"] = [n[2]["spread"], n[8]["spread"]]
        compact["north_seqs_per_sec"] = [n[2]["seqs_per_sec"],
                                         n[8]["seqs_per_sec"]]
    if "scaling" in result:
        compact["efficiency_8_to_32_arrow"] = result["scaling"][
            "efficiency_8_to_32_arrow"]
    compact["full_ledger"] = "BENCH_FULL.json"
    # size-bound the line by TRIMMING optional keys, never by aborting: an
    # oversize assert after a completed run would cost the driver line AND
    # the ledger — strictly worse than the truncation this guards against
    line = json.dumps(compact)
    for drop in ("north_seqs_per_sec", "hist_explode_sec",
                 "hist_bincount_sec"):
        if len(line) < 1800:
            break
        compact.pop(drop, None)
        line = json.dumps(compact)
    if len(line) >= 1800:
        print(f"WARNING: compact bench line {len(line)}B after trimming",
              file=sys.stderr)
    print(line, flush=True)


def _write_bench_md(result, scale, north, ceiling):
    pin = "CPU-pinned (taskset)" if scale[8].get("pinned") else "unpinned"
    k = ceiling["kernel_seqs_per_sec"]
    m = ceiling["memcpy_gbps"]
    lines = [
        "# BENCH — engine throughput + scaling evidence",
        "",
        f"Pipeline job: parquet scan of synthetic `wm_protect`-pattern "
        f"sequences ({result['pipeline_rows']} rows x "
        f"{result['pipeline_n_tok']} tokens, packed int32-binary layout) "
        "-> fused detect+repair (2 passes) -> noop sink.",
        "",
        "## North-rule ladder: N -> 4N executors (2 -> 8 pinned cores, "
        f"{north['rows']} rows)",
        "",
        "Same job, same input, two cluster sizes emulated as persistent "
        f"{pin} processes. The input is 8x the throughput workload so each "
        "leg runs long enough to amortize fixed job cost, and the pair sits "
        "below the host's DRAM saturation knee (probe below), so it "
        "measures the JOB's scalability — the quantity that transfers to a "
        "real cluster where each node brings its own memory bandwidth.",
        "",
        f"Noise protocol: {north['trials']} trial rounds, INTERLEAVED "
        "A/B/A/B across the two legs (both legs stay alive for the whole "
        "measurement), MEDIAN per leg, spread = (max-min)/median. This "
        "host's multi-second interference windows hit both legs or neither; "
        "a single outlier trial cannot move a median (round 2's sequential "
        "best-of-3 legs flipped 0.556 vs 0.916 on identical code when one "
        "leg absorbed a whole window). Hypervisor steal (/proc/stat) is "
        "measured across every trial: the ladder defers its start during a "
        f"steal storm (bounded), and trials with mean steal > {STEAL_CORES} "
        "cores are excluded from the median when >= 3 clean trials remain "
        "— a storm slows the wider leg MORE (it loses more effective "
        "cores), biasing the ratio itself, so contaminated trials are "
        "evidence about the host, not the job.",
        "",
        "| cluster size | median sec | sequences/sec | trial spread | "
        "steal-discarded | trials (sec) |",
        "| --- | --- | --- | --- | --- | --- |",
        f"| N  (local[2], pinned 2 cores)  | {north[2]['sec']} | "
        f"{north[2]['seqs_per_sec']} | {north[2]['spread']} | "
        f"{north[2]['steal_discarded']} | "
        f"{north[2]['trials_sec']} |",
        f"| 4N (local[8], pinned 8 cores)  | {north[8]['sec']} | "
        f"{north[8]['seqs_per_sec']} | {north[8]['spread']} | "
        f"{north[8]['steal_discarded']} | "
        f"{north[8]['trials_sec']} |",
        "",
        f"**Scaling efficiency N -> 4N: {north['efficiency_2_to_8']}** "
        "(north_rule target >= 0.8; ratio of medians). Window-matched "
        f"paired estimator: **{north['efficiency_2_to_8_paired']}** "
        f"(median of per-round N/4N ratios over "
        f"{north['paired_rounds_used']} clean interleaved rounds — each "
        "round's two legs run back-to-back in the same host window, so "
        "the per-round ratio is immune to the low-grade co-tenant "
        "bandwidth contention that inflates the wider leg's median more "
        "than the narrow leg's and collapses the ratio-of-medians; read "
        "the paired figure when section_interference shows a contended "
        "window).",
        "",
        "## North-rule ladder, EXACTLY-ONCE flavor (the metric's own job)",
        "",
        "The north metric reads 'sustained sequences/sec (exactly-once ...)"
        " with scaling efficiency >= 0.8 from N to 4N executors' — so the "
        "same two pinned cluster sizes also run the COMPLETE streamed job "
        "(file stream -> fused detect+repair -> exactly-once sink with "
        "in-batch dedup, per-partition lineage and commit markers), "
        f"{result.get('scaling_n_to_4n_exactly_once', {}).get('rows', '?')} "
        "rows, sink+shuffle on tmpfs (per-node-resource emulation; see "
        "methodology note), interleaved median-of-"
        f"{result.get('scaling_n_to_4n_exactly_once', {}).get('trials', '?')}"
        ", warm engine:",
        "",
        "| cluster size | median sec | sequences/sec | spread | "
        "steal-discarded | trials |",
        "| --- | --- | --- | --- | --- | --- |",
    ] + ([
        f"| N  (local[2])  | {result['scaling_n_to_4n_exactly_once'][2]['sec']} | "
        f"{result['scaling_n_to_4n_exactly_once'][2]['seqs_per_sec']} | "
        f"{result['scaling_n_to_4n_exactly_once'][2]['spread']} | "
        f"{result['scaling_n_to_4n_exactly_once'][2]['steal_discarded']} | "
        f"{result['scaling_n_to_4n_exactly_once'][2]['trials_sec']} |",
        f"| 4N (local[8])  | {result['scaling_n_to_4n_exactly_once'][8]['sec']} | "
        f"{result['scaling_n_to_4n_exactly_once'][8]['seqs_per_sec']} | "
        f"{result['scaling_n_to_4n_exactly_once'][8]['spread']} | "
        f"{result['scaling_n_to_4n_exactly_once'][8]['steal_discarded']} | "
        f"{result['scaling_n_to_4n_exactly_once'][8]['trials_sec']} |",
        "",
        "**Exactly-once scaling efficiency N -> 4N: "
        f"{result['scaling_efficiency_north_e1x']}** (ratio of medians); "
        "window-matched paired estimator: "
        f"**{result.get('scaling_efficiency_north_e1x_paired', 'n/a')}** "
        "(same construction as the kernel ladder's).",
    ] if "scaling_n_to_4n_exactly_once" in result else []) + [
        "",
        "## Saturation ladder: 8 -> 32 cores "
        f"({result['pipeline_rows']} rows; round-over-round comparable)",
        "",
        "| parallelism | wall sec | sequences/sec | tokens/sec |",
        "| --- | --- | --- | --- |",
    ]
    for cpus in (8, 32):
        s = scale[cpus]
        lines.append(f"| local[{cpus}] pinned to {cpus} cores (mapInArrow) | "
                     f"{s['sec_arrow']} | {s['seqs_per_sec_arrow']} | "
                     f"{round(s['seqs_per_sec_arrow'] * result['pipeline_n_tok'])} |")
    lines += [
        "",
        f"8 -> 32 efficiency: {scale['efficiency_8_to_32_arrow']} "
        "(mapInArrow). This pair is "
        "DRAM-limited on this single box — see the ceiling probe.",
        "",
        "## Host-ceiling probe (Spark-free, reproducible)",
        "",
        "Aggregate throughput of pinned multiprocess workers, no Spark "
        "anywhere in the process tree:",
        "",
        "| procs | raw memcpy GB/s | bare repair_batch seqs/s |",
        "| --- | --- | --- |",
        f"| 2  | {m[2]} | {k[2]} |",
        f"| 8  | {m[8]} | {k[8]} |",
        f"| 32 | {m[32]} | {k[32]} |",
        "",
        f"memcpy itself scales 8->32 at {ceiling['memcpy_eff_8_to_32']} "
        "efficiency (the VM's DRAM wall, ~130-140 GB/s aggregate); the bare "
        f"kernel scales 2->8 at {ceiling['kernel_eff_2_to_8']} and 8->32 at "
        f"{ceiling['kernel_eff_8_to_32']}. Weak scaling (FIXED work per "
        f"core, 8 vs 32 procs): {ceiling['kernel_weak_8_vs_32_sec'][8]}s vs "
        f"{ceiling['kernel_weak_8_vs_32_sec'][32]}s = "
        f"{ceiling['kernel_weak_eff_8_to_32']} "
        "(1.0 = perfect). Any memory-touching job on this "
        "box inherits the same knee, which is why the north-rule pair is "
        "measured on the unsaturated side. The Spark plan itself is "
        "shuffle-free and barrier-free (one mapInArrow over "
        "a parquet scan; plan shape pinned in tests/test_plan_hygiene.py), "
        "so cluster scale-out (per-node DRAM) tracks the 2->8 number, not "
        "the 8->32 one.",
        "",
        "## Throughput (local[32], all 32 cores)",
        "",
        "Layout comparison on local[32] (same rows): "
        f"array<int32> mapInArrow {result['pipeline_list_seqs_per_sec']} vs "
        f"packed mapInArrow {result['pipeline_arrow_packed_seqs_per_sec']} "
        "seqs/s — the packed layout decodes one value per row at the "
        "parquet scan and ships one Arrow buffer per row (np.frombuffer "
        "zero-copy in the worker), the 10^12-scale physical design.",
        "",
        "Grouped histogram, A1 (explode -> partial hash agg) vs A1b "
        "(mapInArrow per-batch np.bincount partials -> tree-merge), same "
        f"result both ways (tests/test_histogram_paths.py): "
        f"{result.get('hist_explode_sec', 'n/a')} s vs "
        f"{result.get('hist_bincount_sec', 'n/a')} s on the pipeline input. "
        "The A1b map side never materializes the n_tok exploded rows, so "
        "its advantage grows with tokens-per-row; both shuffle O(groups x "
        "256 x partitions).",
        "",
        f"Headline sf0.1 queries total: {result['value']} s — "
        f"{result.get('headline_protocol', 'single-shot')}. Medians: "
        f"{json.dumps(result['queries'])}; per-query relative spreads: "
        f"{json.dumps(result.get('query_spreads', {}))}",
        "",
        f"Exactly-once streaming flavor (foreachBatch -> idempotent sink "
        f"with lineage + commit markers, checkpointed): "
        f"{result.get('exactly_once_seqs_per_sec', 'n/a')} seqs/s end-to-end "
        "including the sink's parquet writes.",
        "",
        "Stateful X5+X6 chain on run_stateful_pipeline's DEFAULT path "
        "(shard-keyed transformWithStateInPandas detect + RocksDB store -> "
        "stream-stream join -> repair -> exactly-once sink): "
        f"{result.get('stateful_pipeline_seqs_per_sec', 'n/a')} seqs/s on "
        f"{result.get('stateful_pipeline_rows', 'n/a')} rows. The gap vs "
        "the fused path is per-key stateful dispatch plus both streams "
        "buffering through join state — which is why "
        "SURVEY §4.3 makes the fused foreachBatch pipeline the primary "
        "design and reserves per-key state for genuinely stateful "
        "cross-batch carry-over.",
        "",
        "Full chain at ONE DOC PER ROW "
        f"({result.get('chain_docrow_rows', 'n/a')} doc-groups in a single "
        "micro-batch — the 10^12-docs cardinality), interleaved best-of-N: "
        "the default chain (watermark chained via eventTimeColumnName) "
        f"{result.get('chain_docrow_v2rocks_seqs_per_sec', 'n/a')} seqs/s. "
        "The SAME default chain with state partitions SIZED to per-batch "
        "volume (session_conf shuffle.partitions at ~3k rows/partition "
        "instead of the session's 32): "
        f"{result.get('chain_docrow_v2rocks_sized_seqs_per_sec', 'n/a')} "
        "seqs/s — every state partition pays a fixed RocksDB open/commit "
        "per micro-batch (the X6 join alone keeps 4 stores per "
        "partition), so the count must track volume in BOTH directions: "
        "down here, UP at 10^12 rows until a partition's per-batch slice "
        "fits executor memory. "
        "JOIN-FREE flavor (tokens pass "
        "through the state op, repair directly on its output — no X6 join, "
        "so neither stream buffers in join state; committed rows "
        "equality-tested vs the joined default): "
        f"{result.get('chain_docrow_joinfree_seqs_per_sec', 'n/a')} seqs/s.",
        "",
        "## sf1 scale stress (one-off, nothing tuned at this scale)",
        "",
        f"Deterministic 50k-doc corpus ({result.get('sf1_docs', 'n/a')} "
        "docs, 10x the sf0.1 documents table; 20k-word hash vocabulary, "
        "30-60 words/doc) with planted structure: ~2.4k near-duplicate "
        "pairs, ~0.5k exact-duplicate pairs, and a 200-doc IDENTICAL "
        "block — the degenerate corpus that makes an uncapped LSH "
        "self-join quadratic. Results: exact-dedup groups "
        f"{result.get('sf1_q20_exact_rows', 'n/a')} "
        f"({result.get('sf1_q20_exact_sec', 'n/a')} s), capped LSH "
        f"candidate pairs {result.get('sf1_q26_lsh_pairs_rows', 'n/a')} "
        f"({result.get('sf1_q26_lsh_pairs_sec', 'n/a')} s) with "
        f"{result.get('sf1_block_pairs_after_cap', 'n/a')} pairs from the "
        "identical block (the hot-bucket ceiling drops its buckets before "
        "the join; bench ASSERTS zero), verified Jaccard pairs "
        f"{result.get('sf1_q21_jaccard_rows', 'n/a')} "
        f"({result.get('sf1_q21_jaccard_sec', 'n/a')} s), shingle-band "
        f"pairs {result.get('sf1_q53_bands_rows', 'n/a')} "
        f"({result.get('sf1_q53_bands_sec', 'n/a')} s), dedup clusters "
        f"{result.get('sf1_q52_clusters_rows', 'n/a')} "
        f"({result.get('sf1_q52_clusters_sec', 'n/a')} s, convergence "
        "asserted). Candidate volume tracks the planted duplicate count, "
        "not |docs|^2 (asserted bounds in scale_stress). Stateful chain "
        "(default v2+RocksDB path) one-shot at "
        f"{result.get('sf1_chain_rows', 'n/a')} one-doc-per-row rows (4x "
        f"the tuned shape): {result.get('sf1_chain_seqs_per_sec', 'n/a')} "
        f"seqs/s ({result.get('sf1_chain_sec', 'n/a')} s).",
        "",
        "Reference single-thread baseline (BASELINE.md): ~0.7-2.2 M "
        "pixel-ops/s, i.e. ~350-1000 sequences/s at 2048 tokens. Engine "
        f"sustained: {result['pipeline_arrow_packed_seqs_per_sec']} seqs/s "
        "on local[32] (mapInArrow packed path).",
        "",
        "Methodology note: the host shows multi-second interference windows "
        "(consecutive identical trials observed 2x apart). Throughput legs "
        "report best-of-N from dedicated CPU-pinned processes; the "
        "north-rule ladder uses interleaved median-of-N (see above), which "
        "is the noise-robust estimator for a RATIO of two legs. On top of "
        "that, interference is measured directly — /proc/stat hypervisor "
        "steal per trial: scaling-critical sections defer their start "
        "during a steal storm (bounded wait), and trials with mean steal "
        f"> {STEAL_CORES} cores (quiet baseline ~0.04) are excluded from "
        "published medians whenever >= 3 clean trials remain; raw trial + "
        "steal arrays stay in BENCH_FULL.json. "
        "The exactly-once ladder places sink output and shuffle dirs on tmpfs: a real cluster's sink/shuffle I/O lands on per-node disks that scale with the cluster, while this box has ONE shared ~400 MB/s disk that both legs would bottleneck on — measured on it, the ratio reflects the disk, not the job (absolute disk-backed throughput is what the headline exactly-once leg reports).",
    ]
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
