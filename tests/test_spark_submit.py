"""Packaging smoke test: the north rule says "run via spark-submit
--py-files", so prove it — zip the ``dq`` package, run
``scripts/run_job.py`` through real ``spark-submit`` from a cwd where
``dq`` is importable ONLY from the zip, then re-run the same command and
assert the checkpoint resume makes the rerun a no-op (idempotent audit
store). Audit contents are verified with duckdb so the subprocess JVM is
the only Spark involved on the job side.

Replaces the reference's Airflow DAG entrypoint
(``dags/data_quality_dag.py`` in /root/reference) as the deployment
surface.
"""

import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
RUN_JOB = REPO / "scripts" / "run_job.py"

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH")


def _zip_dq(dest: Path) -> Path:
    zip_path = dest / "dq.zip"
    pkg = REPO / "dq"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    return zip_path


def _submit(zip_path: Path, cwd: Path, *job_args: str):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.driver.memory=4g",
         "--py-files", str(zip_path), str(RUN_JOB), *job_args],
        cwd=str(cwd), env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def _docs_count(audit: Path) -> int:
    return duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        f"'{audit}/docs/**/*.parquet', hive_partitioning=1)").fetchone()[0]


def test_spark_submit_pyfiles_run_and_resume(spark, tmp_path):
    from dq.synth import webpages

    input_dir = tmp_path / "pages"
    audit_dir = tmp_path / "audit"
    work = tmp_path / "work"  # cwd with no dq/ — import must hit the zip
    work.mkdir()
    webpages(spark, 400, num_partitions=4).write.parquet(str(input_dir))
    zip_path = _zip_dq(tmp_path)

    job_args = ("--input", str(input_dir), "--audit", str(audit_dir),
                "--execution-id", "smoke-1", "--run-date", "2025-10-03")

    out1 = _submit(zip_path, work, *job_args)
    # submit-supplied settings must win over the session factory's
    # sandbox defaults (master AND --conf values)
    assert "session: master=local[4] shuffle.partitions=4" in out1
    assert "execution smoke-1: kept " in out1
    kept1 = int(out1.split("kept ")[1].split(" ")[0])
    assert kept1 > 0
    assert _docs_count(audit_dir) == kept1
    # all five audit surfaces materialized
    for table in ("docs", "lineage", "rule_metrics", "row_count_history",
                  "checkpoint"):
        files = list((audit_dir / table).rglob("*.parquet"))
        assert files, f"audit table {table} empty"

    cp_before = duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        f"'{audit_dir}/checkpoint/**/*.parquet', hive_partitioning=1)"
    ).fetchone()[0]

    # rerun: every partition is checkpointed, so the job must process 0
    # docs and leave the audit store byte-count-identical (idempotence)
    out2 = _submit(zip_path, work, *job_args)
    assert "kept 0 docs" in out2
    assert _docs_count(audit_dir) == kept1
    cp_after = duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        f"'{audit_dir}/checkpoint/**/*.parquet', hive_partitioning=1)"
    ).fetchone()[0]
    assert cp_after == cp_before


def test_run_job_ppl_threshold_flag():
    """``--ppl-threshold`` defaults to the model's threshold, and an
    explicit 0 stays 0 (not silently replaced by the default)."""
    import importlib.util

    from dq.models import DEFAULT_PPL_THRESHOLD

    spec = importlib.util.spec_from_file_location("run_job", RUN_JOB)
    run_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_job)
    base = ["--input", "i", "--audit", "a", "--execution-id", "e",
            "--run-date", "2025-10-03"]
    assert run_job.parse_args(base).ppl_threshold == DEFAULT_PPL_THRESHOLD
    args = run_job.parse_args(base + ["--ppl-threshold", "0"])
    assert args.ppl_threshold == 0.0
