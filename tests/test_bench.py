"""bench.py's output contract, checked on a fake result without Spark."""
import json

import bench
import workloads


def _fake_result():
    return {
        "metric": "headline wall time sf0.1 + pipeline seq/s", "unit": "sec",
        "sf": 0.1, "value": 3.6, "slots": 2,
        "queries": {n: 0.3 for n in workloads.HEADLINE},
        "query_trials": {n: [0.3] * bench.ROUNDS for n in workloads.HEADLINE},
        "pipeline_arrow_packed_seqs_per_sec": 9000.0,
        "scaling": {"slots": [1, 2], "rows": 24000, "sec": [4.0, 2.5],
                    "seqs_per_sec": [6000.0, 9600.0], "efficiency": 0.8},
        "host": {"nproc": 4, "spark": "4.1.2", "python": "3.11.7",
                 "pyarrow": "x", "numpy": "y"},
        "failures": ["scale_stress: exact dedup missed the identical block"],
    }


def test_compact_line_keeps_headline_keys_and_query_names():
    line = json.loads(json.dumps(bench.compact(_fake_result())))
    assert {"metric", "unit", "sf", "value", "queries"} <= set(line)
    assert list(line["queries"]) == workloads.HEADLINE
    assert line["scaling"]["slots"] == [1, 2]
    assert line["failed_checks"] == 1
    assert "query_trials" not in line           # per-round detail: full only
    assert len(json.dumps(line)) < 1800


def test_bench_md_renders_a_partial_result():
    md = bench.bench_md(_fake_result())
    assert md.startswith("# BENCH") and "[1, 2] slots" in md
    assert all(n in md for n in workloads.HEADLINE)
    assert "(sum of 12 medians at sf 0.1)" in md    # no headline_compiles
    md = bench.bench_md({**_fake_result(),
                         "headline_compiles": [0] * bench.ROUNDS})
    assert ("(sum of 12 medians at sf 0.1; classes compiled per timed "
            "round: [0, 0, 0, 0, 0])") in md
