"""The package's zipimport guard: a Spark Python worker re-reads a zip
archive's directory only when the archive changed, not on every task's
importlib.invalidate_caches()."""

import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GUARD_SCRIPT = textwrap.dedent("""
    import importlib, os, sys, types, zipfile, zipimport

    def write_zip(path, modules):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in modules.items():
                z.writestr(name + ".py", src)

    reads = [0]
    original = zipimport._read_directory

    def counting(archive):
        reads[0] += 1
        return original(archive)

    zipimport._read_directory = counting
    archive = os.path.join(sys.argv[1], "mods.zip")
    write_zip(archive, {"m": "X = 1\\n"})
    sys.path.insert(0, archive)
    import m
    assert m.X == 1
    if sys.argv[2] == "worker":
        sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
    if sys.argv[3] == "3.13":
        sys.version_info = (3, 13, 0)
    import pdf_watermark_removal_otsu_inpaint_spark as pkg
    guarded = getattr(zipimport.zipimporter.invalidate_caches,
                      "stat_guarded", False)
    before = zipimport.zipimporter.invalidate_caches
    pkg._stat_guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before
    reads[0] = 0
    importlib.invalidate_caches()
    unchanged = reads[0]
    write_zip(archive, {"m": "X = 22\\n", "m2": "Y = 2\\n"})
    reads[0] = 0
    importlib.invalidate_caches()
    rewritten = reads[0]
    import m2
    assert m2.Y == 2
    print(guarded, unchanged, rewritten)
""")


def _run_guard_script(tmp_path, role, version="native"):
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, str(tmp_path), role, version],
        capture_output=True, text=True, env=env, timeout=60)
    assert r.returncode == 0, r.stderr
    guarded, unchanged, rewritten = r.stdout.split()
    return guarded == "True", int(unchanged), int(rewritten)


# CPython 3.13 reads a zip directory lazily, so the counts below hold < 3.13
eager_reread = pytest.mark.skipif(sys.version_info >= (3, 13),
                                  reason="invalidate_caches is lazy")


@eager_reread
def test_worker_guard_skips_unchanged_and_rereads_rewritten_zip(tmp_path):
    """In a worker (pyspark.worker loaded) invalidation no longer re-reads
    an unchanged archive; a rewritten one (new size) is re-read and its
    new module imports. Installing a second time changes nothing."""
    assert _run_guard_script(tmp_path, "worker") == (True, 0, 1)


@eager_reread
def test_guard_not_installed_on_driver_or_cpython_3_13(tmp_path):
    """Without pyspark.worker (the driver), or on CPython >= 3.13 (whose
    invalidate_caches only drops the cache), nothing is installed and
    every invalidation re-reads the archive as before."""
    assert _run_guard_script(tmp_path, "driver") == (False, 1, 1)
    guarded, _, _ = _run_guard_script(tmp_path, "worker", "3.13")
    assert not guarded


@eager_reread
def test_reused_worker_task_rereads_no_zip_directory(spark):
    """Engine mapInArrow jobs back to back until a Python worker runs its
    second probe task: that task re-read no zip directory during its setup
    (about 16 re-reads of pyspark.zip without the guard), and the guard is
    installed."""
    from pdf_watermark_removal_otsu_inpaint_spark.operators.repair_vectorized import (  # noqa: E501
        _arrow_operator)

    def probe(b):
        import zipimport
        if not hasattr(zipimport, "_probe_reads"):
            zipimport._probe_reads = [0, -1]
            original = zipimport._read_directory

            def counting(archive):
                zipimport._probe_reads[0] += 1
                return original(archive)

            zipimport._read_directory = counting
        reads = zipimport._probe_reads[0]
        zipimport._probe_reads[0] = 0
        zipimport._probe_reads[1] += 1
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "stat_guarded", False)
        return [pa.array([zipimport._probe_reads[1]] * b.num_rows),
                pa.array([reads] * b.num_rows),
                pa.array([guarded] * b.num_rows)]

    n = spark.sparkContext.defaultParallelism
    job = _arrow_operator(spark.range(0, n, 1, n), ["id"], [],
                          ["task long", "reads long", "guarded boolean"],
                          probe)
    later = []
    for _ in range(16):   # idle workers are reused first in, first out
        later = [r for r in job.collect() if r.task > 0]
        if later:
            break
    assert later, "no Python worker ran two probe tasks"
    assert all(r.guarded for r in later)
    assert [r.reads for r in later] == [0] * len(later)
