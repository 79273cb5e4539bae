"""North-rule launch evidence: the packaged job really runs under
``spark-submit --py-files dist/pdfminer_spark.zip`` in a separate JVM
(no repo on sys.path — everything imports from the zip), and re-running
the same command resumes from the lineage checkpoint instead of
re-extracting.
"""
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from pdfminer_spark.spark.session import session_conf
from tests.conftest import REPO

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not installed")
def test_spark_submit_pyfiles_job_runs_and_resumes(tmp_path):
    subprocess.run([sys.executable,
                    os.path.join(REPO, "tools", "make_pyfiles.py")],
                   check=True, capture_output=True)
    zip_path = os.path.join(REPO, "dist", "pdfminer_spark.zip")
    assert os.path.exists(zip_path)

    inp = tmp_path / "transcripts.parquet"
    pd.DataFrame({
        "conv_id": ["conv-%04d" % (i % 5) for i in range(40)],
        "turn_idx": [i // 5 for i in range(40)],
        "role": ["user"] * 40,
        "text": ["plain text turn %d body words" % i for i in range(40)],
        "tool": [""] * 40,
        "ts": pd.Series(pd.date_range("2026-01-01", periods=40, freq="min")
                        ).astype("datetime64[us]"),
    }).to_parquet(inp)
    out = tmp_path / "out"

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only code source
    events = tmp_path / "events"
    events.mkdir()
    cmd = [SPARK_SUBMIT, "--master", "local[2]",
           "--conf", "spark.sql.shuffle.partitions=4",
           "--conf", "spark.eventLog.enabled=true",
           "--conf", "spark.eventLog.compress=false",
           "--conf", "spark.eventLog.rolling.enabled=false",
           "--conf", "spark.eventLog.dir=" + events.as_uri(),
           "--py-files", zip_path,
           os.path.join(REPO, "jobs", "extract_job.py"),
           "--input", str(inp), "--output", str(out),
           "--run-id", "submit-test", "--buckets", "8", "--salt", "2"]
    r1 = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=420)
    assert r1.returncode == 0, r1.stderr[-3000:]
    assert "run complete:" in r1.stdout

    # the job's session runs the library's recipe, and the submitter's
    # --conf still sets what the recipe leaves to the deployment
    (log,) = events.iterdir()
    env_update = next(e for e in map(json.loads, log.read_text().splitlines())
                      if e["Event"] == "SparkListenerEnvironmentUpdate")
    props = env_update["Spark Properties"]
    want = {**session_conf(), "spark.sql.shuffle.partitions": "4"}
    assert {k: props.get(k) for k in want} == want

    extracted = pd.read_parquet(out / "extracted")
    assert len(extracted) == 40
    assert set(extracted["status"]) == {"ok"}

    # second submit of the identical command = pure resume: every bucket
    # is anti-joined away as already committed (processed_buckets is the
    # run-id's cumulative lineage count, so it stays at the bucket total)
    r2 = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=420)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert "'skipped_buckets': 8" in r2.stdout, r2.stdout[-2000:]
    assert "'processed_buckets': 8" in r2.stdout, r2.stdout[-2000:]
    assert len(pd.read_parquet(out / "extracted")) == 40  # no dups
    lineage = pd.read_parquet(out / "lineage")
    assert lineage["pk"].nunique() == 8
    assert (lineage.groupby("pk").size() == 1).all()  # no re-commits
