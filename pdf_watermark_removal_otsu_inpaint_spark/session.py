"""SparkSession factory with scale-oriented defaults.

Single place for the knobs that matter at 100 TB (AQE, skew-join split,
Arrow batching, shuffle parallelism, the size of the generated-code cache)
so tests, bench, and the driver all run the same configuration. Local mode
here; on a real cluster the same builder is driven by spark-submit
--py-files (north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_protobuf_shim() -> None:
    """transformWithStateInPandas (state API v2) spawns a driver-side Python
    worker that imports google.protobuf, with a strict runtime >= gencode
    version check against Spark's StateMessage_pb2. This image has no
    protobuf on sys.path, but the host's Google Cloud SDK ships a vendored
    modern copy (6.32) — one minor behind Spark 4.1's gencode (6.33), so the
    shim lifts the declared runtime minor to EXACTLY 33, the version Spark's
    gencode requires (StateMessage.proto uses no 6.33-only feature). Pinning
    to 33 — not an unconditional bypass — keeps the gencode/runtime
    compatibility check meaningful for every other consumer: gencode newer
    than 6.33 still fails loudly. No-op wherever protobuf is properly
    installed (any real deployment); the copy is built once under the system
    temp dir with an atomic rename so concurrent sessions can't half-read
    it. The shim directory is appended to PYTHONPATH because Spark's Python
    workers inherit the driver env; it is only ever a fallback (real
    installs shadow it) and must not be exported to unrelated processes."""
    try:
        import google.protobuf  # noqa: F401
        return
    except ImportError:
        pass
    vendored = ("/usr/lib/google-cloud-sdk/platform/google_appengine/"
                "google/protobuf")
    if not os.path.isdir(vendored):
        return
    import shutil
    import sys
    import tempfile
    shim = os.path.join(tempfile.gettempdir(), "pdf_wm_proto_shim")
    if not os.path.isdir(os.path.join(shim, "google", "protobuf")):
        build = tempfile.mkdtemp(prefix="pdf_wm_proto_shim_")
        os.makedirs(os.path.join(build, "google"), exist_ok=True)
        open(os.path.join(build, "google", "__init__.py"), "w").close()
        shutil.copytree(vendored, os.path.join(build, "google", "protobuf"))
        rv = os.path.join(build, "google", "protobuf", "runtime_version.py")
        with open(rv) as f:
            src = f.read()
        src = src.replace("OSS_MINOR = 32", "OSS_MINOR = 33")
        src = src.replace("OSS_SUFFIX = '-dev'", "OSS_SUFFIX = ''")
        with open(rv, "w") as f:
            f.write(src)
        try:
            os.rename(build, shim)
        except OSError:  # another process won the race
            shutil.rmtree(build, ignore_errors=True)
    cur = os.environ.get("PYTHONPATH", "")
    if shim not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = cur + (os.pathsep if cur else "") + shim
    if shim not in sys.path:
        sys.path.append(shim)


def get_spark(app_name: str = "pdf-wm-token-engine", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    # Python workers must import this package: export the repo root before
    # the JVM/worker processes launch (spark-submit --py-files on a cluster).
    import pathlib
    repo_root = str(pathlib.Path(__file__).resolve().parents[1])
    cur = os.environ.get("PYTHONPATH", "")
    if repo_root not in cur.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + cur if cur else "")
    _ensure_protobuf_shim()

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS",
                                      len(os.sched_getaffinity(0))))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # determinism vs the DuckDB oracle (duckdb timestamps are UTC-naive)
        .config("spark.sql.session.timeZone", "UTC")
        # shuffle sized to cores locally; AQE coalesces the rest
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs; batches sized so per-batch buffers stay
        # cache-resident — measured on this box, 2048-row batches of wide
        # token rows anti-scale at 32 workers (large-alloc churn against the
        # VM's memory-bandwidth ceiling), 1024 is the knee (BENCH_r06.json)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # bucketed-table warehouse (co-located joins) outside the repo
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/spark_graft_warehouse"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # CPU-dense token rows need fine input splits: 128m splits cap
        # concurrent kernel tasks well below the core count (BENCH_r06.json)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # Compiled whole-stage and projection classes live in an LRU cache
        # of 100 entries by default. One round of the 12 headline queries
        # generates 156 distinct classes, and the 50 registered queries
        # about 440 at sf0.001 and sf0.01, so at 100 every round evicted
        # what the next one needed and recompiled about 150 classes. 1024
        # is about twice the 50-query set. A static conf: it is read once,
        # when the JVM first builds its CodeGenerator cache, so it must be
        # set here, before the first session of the process exists.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
