"""spark-submit launch contract (north_rule: the job runs via
``spark-submit --py-files`` with the package shipped as a zip, not via
an interactive session). One real subprocess launch at tiny scale."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str | None:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark
    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    return str(cand) if cand.exists() else None


@pytest.mark.slow
def test_spark_submit_py_files_roundtrip(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on PATH")

    pkg_zip = tmp_path / "lsh_apg_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for py in (REPO / "lsh_apg_spark").rglob("*.py"):
            zf.write(py, py.relative_to(REPO))

    out_dir = tmp_path / "clusters"
    proc = subprocess.run(
        [submit, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(pkg_zip),
         str(REPO / "scripts" / "submit_dedup.py"),
         "--synthesize", "80", "--output", str(out_dir),
         "--no-substring"],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo root: the zip must suffice
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["docs"] == 80
    assert 0 < report["clusters"] <= 80
    stages = [m for m in report["stages"] if m["stage"] != "bucket_stats"]
    assert stages and all(
        isinstance(m["rows"], int) and "wall_sec" in m for m in stages)

    # the output parquet is readable and complete
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*), count(DISTINCT url) FROM '{out_dir}/*.parquet'"
    ).fetchone()
    assert n == (80, 80)


def test_submit_arg_validation():
    sys.path.insert(0, str(REPO / "scripts"))
    import submit_dedup
    with pytest.raises(SystemExit):
        submit_dedup.main(["--output", "/tmp/x"])  # neither input nor synth
    with pytest.raises(SystemExit):
        submit_dedup.main(["--input", "a", "--synthesize", "5",
                           "--output", "/tmp/x"])  # both


def test_get_spark_accepts_local_with_retries(spark):
    """``local[N,F]`` (N threads, F task attempts) is a valid master:
    the shuffle-partition default reads N, not the whole bracket."""
    from lsh_apg_spark.session import get_spark

    s = get_spark(master="local[2,3]")
    assert s.conf.get("spark.sql.shuffle.partitions") == "8"
