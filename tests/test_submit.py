"""north_rule launch contract: the engine runs via spark-submit --py-files
from OUTSIDE the repo, with the package shipped only as a zip (driver and
Python workers both import from the archive)."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pdf_watermark_removal_otsu_inpaint_spark"


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_batch(tmp_path, spark):
    # input from the shared session
    from pdf_watermark_removal_otsu_inpaint_spark.sources.synth import (
        synth_sequences)
    inp = str(tmp_path / "in")
    synth_sequences(spark, 50, 128, partitions=2).write.parquet(inp)

    zpath = str(tmp_path / "engine.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    entry = str(tmp_path / "entry.py")
    shutil.copy(os.path.join(REPO, PKG, "run_pipeline.py"), entry)

    out = str(tmp_path / "out")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_DRIVER_MEM"] = "2g"
    r = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", zpath,
         entry, "--mode", "batch", "--input", inp, "--output", out],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=480)
    assert "repaired 50 sequences" in r.stdout, r.stderr[-2000:]


def test_run_pipeline_has_no_engine_switch(capsys):
    """One repair path: the CLI rejects --engine before any Spark work, and
    run_repair_pipeline takes no engine parameter."""
    import inspect

    from pdf_watermark_removal_otsu_inpaint_spark.run_pipeline import main
    from pdf_watermark_removal_otsu_inpaint_spark.streaming.pipeline import (
        run_repair_pipeline)
    with pytest.raises(SystemExit):
        main(["--input", "in", "--output", "out", "--engine", "arrow"])
    assert "unrecognized arguments: --engine" in capsys.readouterr().err
    assert "engine" not in inspect.signature(run_repair_pipeline).parameters
