"""End-to-end job entry (spark-submit surface): full run commits a
snapshot with lineage; an interrupted run + --resume appends exactly the
missing keys; --size-bucketing stripes once and commits the same table;
the packaged zip contains the whole engine."""

import os
import re
import subprocess
import sys
import zipfile

import pytest

from gbdc_spark.operators import checkpoint as cp
from gbdc_spark.sources import tables

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def dirs(spark, tmp_path):
    seq_dir = str(tmp_path / "seq")
    snap_dir = str(tmp_path / "snap")
    tables.synth_sequences_df(spark, 400, seed=21).repartition(4).write.parquet(seq_dir)
    tables.synth_snapshots_df(spark, 400, seed=21).write.parquet(snap_dir)
    return seq_dir, snap_dir, str(tmp_path / "out")


def test_job_commit_and_resume(spark, dirs):
    seq_dir, snap_dir, out = dirs
    from gbdc_spark import job

    # simulate an interrupted first run: commit features for a subset
    from gbdc_spark.plans.flagship import feature_pipeline

    part = spark.read.parquet(seq_dir).filter("doc_id < 'doc00000250'")
    snaps = spark.read.parquet(snap_dir)
    feats = feature_pipeline(part, snaps)
    cp.commit(feats, out, keys=["doc_id", "ingest_ts"],
              hash_cols=[c for c in feats.columns if c != "runtime_s"])
    assert cp.read_table(spark, out).count() == 250

    # resume run through the job entry appends only the remaining 150
    rc = job.main([
        "--input", seq_dir, "--snapshots", snap_dir, "--output", out, "--resume",
    ])
    assert rc == 0
    entries = cp.manifest(spark, out)
    assert [e["snapshot_id"] for e in entries] == [1, 2]
    assert entries[1]["n_rows"] == 150
    cur = cp.read_table(spark, out)
    assert cur.count() == 400
    assert cur.select("doc_id").distinct().count() == 400

    # a further resume is a no-op commit of 0 rows? -> resume_filter empty,
    # commit would write an empty snapshot; job still runs and records it
    rc = job.main([
        "--input", seq_dir, "--snapshots", snap_dir, "--output", out, "--resume",
    ])
    assert rc == 0
    assert cp.read_table(spark, out).count() == 400


def test_size_bucketing_stripes_once_and_commits_same_table(
    spark, dirs, tmp_path, monkeypatch
):
    seq_dir, snap_dir, out = dirs
    from gbdc_spark import job

    plans = []
    commit = cp.commit

    def spy(df, *a, **kw):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return commit(df, *a, **kw)

    monkeypatch.setattr(cp, "commit", spy)
    striped_out = str(tmp_path / "striped")
    for base, extra in ((out, []), (striped_out, ["--size-bucketing"])):
        argv = ["--input", seq_dir, "--snapshots", snap_dir, "--output", base]
        assert job.main(argv + extra) == 0
    plain, striped = cp.manifest(spark, out)[0], cp.manifest(spark, striped_out)[0]
    assert striped["n_rows"] == plain["n_rows"] == 400
    assert striped["content_hash"] == plain["content_hash"]
    # the bundle reads the joined frame twice, so one stripe can show up
    # twice in the plan — but always under the same attribute id
    stripes = [len(set(re.findall(r"hashpartitioning\(_sb_target#(\d+)", p))) for p in plans]
    assert stripes == [0, 1]


def test_package_zip_complete(tmp_path):
    zpath = str(tmp_path / "gbdc_spark.zip")
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "package.py"), zpath],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert r.returncode == 0
    assert r.stdout.strip() == zpath
    names = zipfile.ZipFile(zpath).namelist()
    for mod in [
        "gbdc_spark/job.py", "gbdc_spark/api.py", "gbdc_spark/cli.py",
        "gbdc_spark/operators/temporal.py", "gbdc_spark/kernels/gates.py",
        "gbdc_spark/streaming/pipeline.py",
    ]:
        assert mod in names
    assert not any("__pycache__" in n for n in names)


def test_sat_backend_env_reaches_executor_conf(spark, monkeypatch):
    # GBDC_SAT_BACKEND is read in the executor's Python worker; on a
    # real cluster a driver-side export only reaches it through
    # spark.executorEnv — both session factories must set it.  Uses the
    # shared session (getOrCreate folds builder configs into it) and
    # unsets between factories so each path is asserted independently;
    # never stops the session-scoped fixture.
    key = "spark.executorEnv.GBDC_SAT_BACKEND"
    monkeypatch.setenv("GBDC_SAT_BACKEND", "dpll")
    from gbdc_spark import job, session

    for factory in (
        lambda: session.get_spark(cores=2, shuffle_partitions=2),
        lambda: job.build_session("t", local_cores=2),
    ):
        spark.conf.unset(key)
        got = factory()
        assert got.conf.get(key) == "dpll"
    spark.conf.unset(key)
