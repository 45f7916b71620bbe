"""Benchmark entry point: runs one named workload (or all of them), checks
its outputs and prints every metric by name with its unit.

Run from the repository root:

    python3 perfbench/run.py --workload exactly_once --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 4 --trace 1

Every line before the last is the run's full report (one JSON object under
the key "report"): all end-to-end and per-layer metrics, the per-repeat
timings with the host-noise fingerprint, the failure ledger and, with
`--trace 1`, each layer's self time from the spans. The last line is the
compact result: `correct`, `attempted`, `failed` and the metrics that
BENCHMARK.json declares, the end-to-end ones with `--trace 0` and the
per-layer ones with `--trace 1`.

All files the run writes (inputs cached by seed and size, Spark scratch,
stream outputs and checkpoints, reports and span files) live under
`.perfbench_work/` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ENGINE = "pdf_watermark_removal_otsu_inpaint_spark"
WORKLOAD_NAMES = ("exactly_once", "headline_sql")
ZERO_UNITS = ("count", "bytes")   # per-layer work a workload may not do


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> str:
    """Point every temporary file of this process, Spark and its workers
    into the work root. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # every JVM, the spark-submit launcher included, keeps its files here
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    tempfile.tempdir = tmp
    return tmp


def session_conf(tmp: str) -> dict:
    # The heap is committed and touched at its full size when the JVM
    # starts, so peak_rss_mb moves with the memory the engine holds outside
    # it (Arrow buffers, Python workers), not with when G1 chose to grow the
    # heap: with a growing 3g heap the peak spread 0.10-0.22 of its median
    # between runs of exactly_once, with a pre-touched one 0.01.
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.local.dir": tmp,
    }


def fingerprint(args, cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"nproc": os.cpu_count(), "cpus": cpus, "seed": args.seed,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": platform.python_version()}


def trace_summary(run) -> dict:
    """Self time per layer from the spans, the share of the workload's
    wall time no span accounts for, and the tracing overhead."""
    import stats
    spans = run.tracer.spans
    if not spans:
        return {}
    selfs = stats.self_times(spans)
    root = next(s for s in spans if s.name == "workload")
    wall = root.end - root.start
    layers: dict = {}
    for s in spans:
        layer = "unaccounted" if s is root else s.name.split(".")[0]
        layers[layer] = layers.get(layer, 0.0) + selfs[s.id]
    traced = [r.wall for r in run.reps if r.traced]
    plain = [r.wall for r in run.reps if not r.traced]
    overhead = (stats.median(traced) - stats.median(plain)
                if traced and plain else 0.0)
    return {"wall_s": wall, "spans": len(spans),
            "self_s": dict(sorted(layers.items(), key=lambda kv: -kv[1])),
            "unaccounted_pct": 100.0 * layers["unaccounted"] / wall,
            "overhead_ms": overhead * 1e3,
            "traced_repeats": len(traced), "untraced_repeats": len(plain)}


def build_report(run, args, cpus: int) -> dict:
    import stats
    rep = {"workload": run.workload, "run_id": run.run_id,
           "fingerprint": fingerprint(args, cpus)}
    metrics = dict(run.metrics)
    for key, (unit, xs) in run.samples.items():
        metrics[key] = {"value": stats.median(xs), "unit": unit}
    if run.e2e is not None:
        repeat_s, op_ms, per_query = run.e2e
        for name, secs in per_query.items():
            metrics[f"queries.{name}_s"] = {"value": secs, "unit": "s"}
        items = run.reps[0].items
        metrics["repeat_s"] = {"value": repeat_s, "unit": "s"}
        metrics["batch_p50_ms"] = {"value": stats.median(op_ms), "unit": "ms"}
        metrics["items_per_s"] = {"value": items / repeat_s,
                                  "unit": ("query/s" if args.workload ==
                                           "headline_sql" else "seq/s")}
        rep["repeat_s_summary"] = stats.summary(
            [r.wall for r in run.reps if not r.traced])
        rep["op_ms_summary"] = stats.summary(op_ms)
    if run.setup_s:
        metrics["setup_s"] = {"value": run.setup_s, "unit": "s"}
    if run.rss.peak:
        metrics["peak_rss_mb"] = {"value": run.rss.peak, "unit": "MB"}
    metrics["fail_ratio"] = {"value": run.fails.ratio, "unit": "ratio"}
    tr = trace_summary(run) if args.trace else {}
    if tr:
        metrics["trace.unaccounted_pct"] = {"value": tr["unaccounted_pct"],
                                            "unit": "%"}
        metrics["trace.overhead_ms"] = {"value": tr["overhead_ms"],
                                        "unit": "ms"}
        metrics["trace.spans"] = {"value": tr["spans"], "unit": "count"}
        rep["trace"] = tr
    rep["metrics"] = dict(sorted(metrics.items()))
    if run.ledger:
        rep["ledger"] = run.ledger
    rep["repeats"] = [{"wall_s": r.wall, "traced": r.traced, **r.noise}
                      for r in run.reps]
    rep["fails"] = {"attempted": run.fails.attempted,
                    "failed": run.fails.failed, "reasons": run.fails.reasons}
    return rep


def contract_line(report: dict, declared: dict, trace: bool, fails) -> dict:
    """The last line: exactly the metrics BENCHMARK.json declares for this
    mode. A per-layer count a workload never produces (sink commits on the
    headline queries) is 0. A run with failures leaves out what it could
    not measure; in a correct run any other missing metric is an error."""
    kind = "per_layer" if trace else "end_to_end"
    correct = fails.failed == 0
    out = {}
    for m in declared[kind]:
        got = report["metrics"].get(m["name"])
        if got is None:
            if m["unit"] in ZERO_UNITS:
                got = {"value": 0}
            elif not correct:
                continue
            else:
                raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": correct, "attempted": max(fails.attempted, 1),
            "failed": fails.failed, "metrics": out}


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    lines = {}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        sys.stdout.write(proc.stdout)
        if proc.returncode != 0:
            print(f"perfbench: {name} exited with {proc.returncode}",
                  file=sys.stderr)
            return proc.returncode
        lines[name] = json.loads(proc.stdout.strip().splitlines()[-1])
    print(json.dumps({"all": lines}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    declared_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(root, ENGINE, "session.py")):
        print(f"perfbench: no {ENGINE}/ package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    with open(declared_path) as f:
        declared = json.load(f)
    work = os.path.join(root, ".perfbench_work")
    tmp = isolate(work)
    sys.path.insert(0, root)
    sys.path.insert(0, BENCH_DIR)
    import workloads
    # Half the cores: an Arrow UDF task keeps a JVM task thread and a Python
    # worker busy at once, so local[nproc] runs about twice as many busy
    # threads as cores. On a 4-core VM an exactly_once drain took 4.5-5.4 s
    # on local[2] against 5.5-8.5 s on local[4], and the headline round
    # was no faster on local[4].
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    run = workloads.run_workload(args.workload, args.seed, args.seconds,
                                 bool(args.trace), work, cpus,
                                 session_conf(tmp))
    report = build_report(run, args, cpus)
    os.makedirs(os.path.join(work, "reports"), exist_ok=True)
    with open(os.path.join(work, "reports", f"{run.run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(work, "traces", f"{run.run_id}.jsonl"))
    print(json.dumps({"report": report}))
    print(json.dumps(contract_line(report, declared, bool(args.trace),
                                   run.fails)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
