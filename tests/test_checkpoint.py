"""Checkpoint/resume + lineage metrics (north_rule):

* resume after a partial run appends exactly the missing rows
* content hash is partitioning/order independent (cluster-size invariant)
* per-partition metrics reconcile with the manifest totals
* commit folds its totals from the metrics it wrote, never re-hashing
* a torn commit (data dir without manifest row) is invisible to readers
"""

import os
import shutil

import pytest
from jobaudit import jobs_during
from pyspark.sql import functions as F

from gbdc_spark.operators import checkpoint as cp


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "tbl")


def _mkdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("doc"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("doc_id"),
        (F.col("id") * 2).cast("double").alias("score"),
    )


def test_commit_resume_appends_only_missing(spark, base):
    full = _mkdf(spark, 0, 100)
    first = _mkdf(spark, 0, 60)

    e1 = cp.commit(first, base, keys=["doc_id"])
    assert e1["snapshot_id"] == 1 and e1["n_rows"] == 60

    remaining = cp.resume_filter(full, base, keys=["doc_id"])
    assert remaining.count() == 40
    e2 = cp.commit(remaining, base, keys=["doc_id"])
    assert e2["snapshot_id"] == 2 and e2["n_rows"] == 40

    cur = cp.read_table(spark, base)
    assert cur.count() == 100
    assert cur.select("doc_id").distinct().count() == 100

    # a second resume is a no-op (idempotent)
    assert cp.resume_filter(full, base, keys=["doc_id"]).count() == 0


def test_content_hash_partitioning_invariant(spark, base):
    df = _mkdf(spark, 0, 500)
    h2 = cp.content_hash(df.repartition(2))
    h16 = cp.content_hash(df.repartition(16))
    h_sorted = cp.content_hash(df.orderBy(F.desc("doc_id")))
    assert h2 == h16 == h_sorted


def test_partition_metrics_reconcile(spark, base):
    df = _mkdf(spark, 0, 200).repartition(7)
    entry = cp.commit(df, base, keys=["doc_id"])
    # metrics dir is uuid-suffixed like the data dir (race-safe) and
    # recorded in the manifest row
    assert entry["metrics_dir"].startswith(os.path.join(base, "_metrics", "snapshot=1-"))
    pm = spark.read.parquet(entry["metrics_dir"])
    rows = pm.collect()
    assert sum(r["n_rows"] for r in rows) == 200 == entry["n_rows"]
    fold = sum(int(r["hash_fold"]) for r in rows) % (1 << 64)
    # sum of per-partition folds == manifest content hash == direct hash
    assert fold == entry["content_hash"] == cp.content_hash(_mkdf(spark, 0, 200))


def test_commit_folds_totals_from_written_metrics(spark, base, tmp_path):
    df = _mkdf(spark, 0, 300).repartition(5)
    hash_cols = ["doc_id"]
    n_commit, entry = jobs_during(
        spark, lambda: cp.commit(df, base, keys=["doc_id"], hash_cols=hash_cols),
        retry=False,
    )
    table = cp.read_table(spark, base)
    assert entry["n_rows"] == 300
    assert entry["content_hash"] == cp.content_hash(table, hash_cols)
    assert entry["n_partitions"] == spark.read.parquet(entry["metrics_dir"]).count()
    # commit costs its two writes plus one small read of the metrics:
    # no schema-inference read of the data, no second hash pass over it
    data, metrics = str(tmp_path / "data"), str(tmp_path / "metrics")
    n_data, _ = jobs_during(spark, lambda: df.write.parquet(data), retry=False)
    written = spark.read.schema(df.schema).parquet(data)
    n_metrics, _ = jobs_during(
        spark, lambda: cp.partition_metrics(written, hash_cols).write.parquet(metrics),
        retry=False,
    )
    assert n_commit <= n_data + n_metrics + 1


def test_torn_commit_is_invisible_and_never_blocks(spark, base):
    cp.commit(_mkdf(spark, 0, 50), base, keys=["doc_id"])
    # crash after the data write but before the manifest append, for the
    # EXACT snapshot id the next commit will claim (the round-1 layout
    # deadlocked here: errorifexists hit the orphan directory)
    for orphan_name in ("snapshot=2", "snapshot=2-deadbeefcafe"):
        _mkdf(spark, 50, 80).write.parquet(os.path.join(base, "data", orphan_name))

    assert cp.read_table(spark, base).count() == 50
    # resume re-selects the orphaned rows (they were never committed)
    assert cp.resume_filter(_mkdf(spark, 0, 80), base, keys=["doc_id"]).count() == 30
    # next commit id continues from the last *manifested* snapshot and
    # must succeed despite both orphans sitting in data/
    e = cp.commit(_mkdf(spark, 80, 90), base, keys=["doc_id"])
    assert e["snapshot_id"] == 2
    assert cp.read_table(spark, base).count() == 60

    # orphan cleanup removes exactly the unreferenced directories
    removed = cp.clean_orphans(spark, base)
    assert {os.path.basename(r) for r in removed} == {
        "snapshot=2", "snapshot=2-deadbeefcafe"
    }
    assert cp.read_table(spark, base).count() == 60


def test_sum_fold_catches_even_duplication(spark, base):
    """The XOR fold this replaced was blind to every-row-doubled drift."""
    df = _mkdf(spark, 0, 100)
    doubled = df.union(df)
    assert cp.content_hash(df) != cp.content_hash(doubled)


def test_hash_detects_value_drift(spark, base):
    a = _mkdf(spark, 0, 100)
    b = _mkdf(spark, 0, 100).withColumn(
        "score", F.when(F.col("doc_id") == "doc000042", 1e9).otherwise(F.col("score"))
    )
    assert cp.content_hash(a) != cp.content_hash(b)


def test_compact_preserves_table_and_hash(spark, base):
    dfs = [
        spark.createDataFrame([(i * 10 + j, f"v{i}{j}") for j in range(4)], "k long, v string")
        for i in range(3)
    ]
    old_hash = 0
    for df in dfs:
        e = cp.commit(df, base, keys=["k"])
        old_hash = (old_hash + e["content_hash"]) % (1 << 64)
    before = {(r["k"], r["v"]) for r in cp.read_table(spark, base).collect()}

    entry = cp.compact(spark, base, target_partitions=1)
    assert entry is not None
    assert entry["replaces"] == [1, 2, 3]
    assert entry["content_hash"] == old_hash
    assert entry["n_rows"] == 12

    live = cp.manifest(spark, base)
    assert [e["snapshot_id"] for e in live] == [entry["snapshot_id"]]
    after = {(r["k"], r["v"]) for r in cp.read_table(spark, base).collect()}
    assert after == before
    # superseded data dirs are gone; exactly one snapshot dir remains
    assert len(os.listdir(os.path.join(base, "data"))) == 1
    # resume still sees every committed key
    nxt = spark.createDataFrame([(0, "dup"), (999, "new")], "k long, v string")
    remaining = cp.resume_filter(nxt, base, keys=["k"]).collect()
    assert [(r["k"], r["v"]) for r in remaining] == [(999, "new")]


def test_compact_noop_on_single_snapshot(spark, base):
    cp.commit(spark.createDataFrame([(1, "a")], "k long, v string"), base, keys=["k"])
    assert cp.compact(spark, base) is None


def test_compact_then_commit_then_compact_again(spark, base):
    for i in range(2):
        cp.commit(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"), base, keys=["k"]
        )
    first = cp.compact(spark, base, target_partitions=1)
    cp.commit(spark.createDataFrame([(7, "v7")], "k long, v string"), base, keys=["k"])
    second = cp.compact(spark, base, target_partitions=1)
    # replaces is transitive: the live ids PLUS everything the replaced
    # compaction row was itself hiding (crash-safety of partial cleanup)
    assert set(second["replaces"]) >= {
        first["snapshot_id"], first["snapshot_id"] + 1,
    }
    assert set(first["replaces"]) <= set(second["replaces"])
    rows = {(r["k"], r["v"]) for r in cp.read_table(spark, base).collect()}
    assert rows == {(0, "v0"), (1, "v1"), (7, "v7")}


def test_interrupted_cleanup_is_invisible(spark, base):
    """If the post-compaction cleanup never ran (crash right after the
    manifest row landed), readers still see exactly one copy of every
    row: superseded entries are hidden by the replaces resolution."""
    import json

    for i in range(2):
        cp.commit(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"), base, keys=["k"]
        )
    olds = cp.manifest(spark, base)
    entry = cp.compact(spark, base, target_partitions=1)
    # resurrect the superseded manifest rows as a crash-before-cleanup would
    for e in olds:
        os.makedirs(e["data_dir"], exist_ok=True)  # dir exists again (stale)
        with open(os.path.join(base, "_manifest", f"{e['snapshot_id']:012d}.json"), "w") as f:
            json.dump(e, f)
    live = cp.manifest(spark, base)
    assert [e["snapshot_id"] for e in live] == [entry["snapshot_id"]]
    rows = sorted(r["k"] for r in cp.read_table(spark, base).collect())
    assert rows == [0, 1]  # no double counting
    # clean_orphans reclaims the stale dirs (they are no longer live)
    removed = cp.clean_orphans(spark, base)
    assert len(removed) == 2


def test_compact_replaces_are_transitive_across_partial_cleanup(spark, tmp_path):
    # a compaction row whose OWN cleanup crashed midway must not let a
    # later compaction resurrect the leftover superseded json
    import json
    import os

    base = str(tmp_path / "tbl")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 20).withColumnRenamed("id", "k")
    cp.commit(df1, base, keys=["k"])
    e2 = cp.commit(df2, base, keys=["k"])
    saved = json.dumps(e2)
    c1 = cp.compact(spark, base)
    # simulate compaction-1's cleanup crashing before removing json 2
    mdir = os.path.join(base, "_manifest")
    with open(os.path.join(mdir, f"{e2['snapshot_id']:012d}.json"), "w") as f:
        f.write(saved)
    assert [e["snapshot_id"] for e in cp.manifest(spark, base)] == [
        c1["snapshot_id"]
    ]  # still hidden by c1's replaces
    cp.commit(spark.range(20, 25).withColumnRenamed("id", "k"), base, keys=["k"])
    c2 = cp.compact(spark, base)
    live = [e["snapshot_id"] for e in cp.manifest(spark, base)]
    assert live == [c2["snapshot_id"]]  # snapshot 2 NOT resurrected
    assert e2["snapshot_id"] in c2["replaces"]  # lineage inherited
    assert cp.read_table(spark, base).count() == 25


def test_manifest_publish_is_exclusive_never_clobbers(spark, base):
    # single-writer contract: a racing writer that minted the same
    # snapshot id must get SnapshotConflictError, not silently replace
    # the winner's manifest row (which would orphan committed data)
    e1 = cp.commit(_mkdf(spark, 0, 10), base, keys=["doc_id"])
    with pytest.raises(cp.SnapshotConflictError):
        cp._publish_manifest_row(base, e1["snapshot_id"], dict(e1, n_rows=999))
    # winner's row untouched, no tmp debris left behind
    live = cp.manifest(spark, base)
    assert [e["n_rows"] for e in live] == [10]
    mdir = os.path.join(base, "_manifest")
    assert not [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    # losing commit() surfaces the conflict and leaves only an orphan
    # that clean_orphans reclaims — committed rows never disappear
    import json as _json

    row2 = cp.commit(_mkdf(spark, 10, 20), base, keys=["doc_id"])
    with open(os.path.join(mdir, f"{row2['snapshot_id']:012d}.json")) as f:
        before = _json.load(f)
    with pytest.raises(cp.SnapshotConflictError):
        cp._publish_manifest_row(base, row2["snapshot_id"], dict(before, n_rows=1))
    with open(os.path.join(mdir, f"{row2['snapshot_id']:012d}.json")) as f:
        assert _json.load(f) == before
    assert cp.read_table(spark, base).count() == 20


def test_manifest_publish_falls_back_without_hardlinks(spark, base, monkeypatch):
    # NFS/overlayfs/object-store mounts raise EPERM/ENOTSUP from
    # os.link — publish must fall back to O_CREAT|O_EXCL (same EEXIST
    # exclusivity), not crash every commit with an unrelated OSError
    import errno
    import json as _json

    def no_links(src, dst, **kw):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(os, "link", no_links)
    e1 = cp.commit(_mkdf(spark, 0, 10), base, keys=["doc_id"])
    mdir = os.path.join(base, "_manifest")
    with open(os.path.join(mdir, f"{e1['snapshot_id']:012d}.json")) as f:
        assert _json.load(f)["n_rows"] == 10
    assert not [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    # exclusivity still holds on the fallback path
    with pytest.raises(cp.SnapshotConflictError):
        cp._publish_manifest_row(base, e1["snapshot_id"], dict(e1, n_rows=999))
    assert [e["n_rows"] for e in cp.manifest(spark, base)] == [10]
    assert cp.read_table(spark, base).count() == 10


def test_clean_orphans_sweeps_metrics_debris(spark, base):
    # a commit that crashed between the metrics write and the manifest
    # publish (or a lost race) leaves a metrics orphan too — cleanup
    # must reclaim it while keeping every live metrics dir
    import shutil as _sh

    e1 = cp.commit(_mkdf(spark, 0, 20), base, keys=["doc_id"])
    orphan_m = os.path.join(base, "_metrics", "snapshot=2-feedfacecafe")
    _sh.copytree(e1["metrics_dir"], orphan_m)
    orphan_d = os.path.join(base, "data", "snapshot=2-feedfacecafe")
    _sh.copytree(e1["data_dir"], orphan_d)
    removed = {os.path.basename(r) for r in cp.clean_orphans(spark, base)}
    assert removed == {"snapshot=2-feedfacecafe"} or len(removed) == 2
    assert os.path.isdir(e1["metrics_dir"]) and os.path.isdir(e1["data_dir"])
    assert not os.path.isdir(orphan_m) and not os.path.isdir(orphan_d)


def test_time_travel_reads_prefix_of_history(spark, base):
    dfs = [
        spark.createDataFrame([(i * 10 + j, f"v{i}{j}") for j in range(4)],
                              "k long, v string")
        for i in range(3)
    ]
    for df in dfs:
        cp.commit(df, base, keys=["k"])
    # as-of snapshot 2: first two commits only
    view = cp.read_table(spark, base, as_of=2)
    got = {(r["k"], r["v"]) for r in view.collect()}
    exp = {(i * 10 + j, f"v{i}{j}") for i in range(2) for j in range(4)}
    assert got == exp
    assert [e["snapshot_id"] for e in cp.manifest(spark, base, as_of=2)] == [1, 2]
    # before the first snapshot: table did not exist -> None, no error
    assert cp.read_table(spark, base, as_of=0) is None


def test_time_travel_past_compaction_raises_expired(spark, base):
    for i in range(3):
        cp.commit(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
            base, keys=["k"],
        )
    entry = cp.compact(spark, base, target_partitions=1)
    # current read and as-of-the-compaction read both fine
    assert cp.read_table(spark, base).count() == 3
    assert cp.read_table(spark, base, as_of=entry["snapshot_id"]).count() == 3
    # history before the compaction horizon is expired, and says so
    with pytest.raises(cp.SnapshotExpiredError):
        cp.read_table(spark, base, as_of=2)


def test_time_travel_sees_precompaction_view_when_cleanup_crashed(
    spark, tmp_path
):
    # if the compaction's cleanup never ran (crash), the superseded
    # json+data survive and the as-of reader must serve the ORIGINAL
    # snapshots (the compaction row does not exist for its past)
    import shutil

    base = str(tmp_path / "tbl")
    for i in range(3):
        cp.commit(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
            base, keys=["k"],
        )
    # snapshot the manifest+data, compact, then restore the superseded
    # files to simulate a crash between manifest publish and cleanup
    backup = str(tmp_path / "bak")
    shutil.copytree(base, backup)
    entry = cp.compact(spark, base, target_partitions=1)
    for sub in ("data", "_manifest"):
        src, dst = os.path.join(backup, sub), os.path.join(base, sub)
        for fn in os.listdir(src):
            if not os.path.exists(os.path.join(dst, fn)):
                sp = os.path.join(src, fn)
                if os.path.isdir(sp):
                    shutil.copytree(sp, os.path.join(dst, fn))
                else:
                    shutil.copy(sp, os.path.join(dst, fn))
    # current state: compaction row hides the restored originals
    assert [e["snapshot_id"] for e in cp.manifest(spark, base)] == [
        entry["snapshot_id"]
    ]
    assert cp.read_table(spark, base).count() == 3
    # as-of 2: the compaction row is filtered out, originals serve
    view = cp.read_table(spark, base, as_of=2)
    assert {r["k"] for r in view.collect()} == {0, 1}


def test_incremental_read_window_semantics(spark, base):
    e1 = cp.commit(_mkdf(spark, 0, 10), base, keys=["doc_id"])
    e2 = cp.commit(_mkdf(spark, 10, 25), base, keys=["doc_id"])
    e3 = cp.commit(_mkdf(spark, 25, 30), base, keys=["doc_id"])

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    all_23 = ids(cp.read_incremental(spark, base, after=e1["snapshot_id"]))
    assert all_23 == ids(_mkdf(spark, 10, 30))
    only_2 = ids(cp.read_incremental(
        spark, base, after=e1["snapshot_id"], to=e2["snapshot_id"]))
    assert only_2 == ids(_mkdf(spark, 10, 25))
    assert cp.read_incremental(
        spark, base, after=e3["snapshot_id"]) is None
    # after=0 is the full history as appends
    assert ids(cp.read_incremental(spark, base, after=0)) == \
        ids(_mkdf(spark, 0, 30))


def test_incremental_read_across_compaction_expires(spark, base):
    e1 = cp.commit(_mkdf(spark, 0, 10), base, keys=["doc_id"])
    cp.commit(_mkdf(spark, 10, 25), base, keys=["doc_id"])
    comp = cp.compact(spark, base)
    assert comp is not None
    # the window's appends were merged into the rewrite: unservable
    with pytest.raises(cp.SnapshotExpiredError):
        cp.read_incremental(spark, base, after=e1["snapshot_id"])
    # nothing appended since the compaction
    assert cp.read_incremental(
        spark, base, after=comp["snapshot_id"]) is None
    # a fresh append after compaction is incrementally readable again
    e4 = cp.commit(_mkdf(spark, 25, 33), base, keys=["doc_id"])
    got = sorted(
        r["doc_id"]
        for r in cp.read_incremental(
            spark, base, after=comp["snapshot_id"]).collect()
    )
    assert got == sorted(r["doc_id"] for r in _mkdf(spark, 25, 33).collect())
    assert e4["snapshot_id"] == comp["snapshot_id"] + 1


def test_compact_target_file_bytes_sizes_output(spark, base):
    import glob

    # three snapshots of moderate rows; compact with a tiny byte
    # target -> many output files; with a huge target -> exactly one
    for i in range(3):
        df = spark.createDataFrame(
            [(i * 1000 + j, "x" * 200) for j in range(500)],
            "k long, v string",
        )
        cp.commit(df, base, keys=["k"])

    total = 0
    for e in cp.manifest(spark, base):
        for root, _, files in os.walk(e["data_dir"]):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if f.endswith(".parquet")
            )
    assert total > 0

    entry = cp.compact(spark, base, target_file_bytes=max(total // 4, 1))
    assert entry is not None and entry["n_rows"] == 1500
    files = glob.glob(os.path.join(entry["data_dir"], "*.parquet"))
    assert len(files) >= 2  # quarter-of-total target -> multiple files

    # recommit two more and compact again with an effectively
    # unbounded target -> single file
    cp.commit(
        spark.createDataFrame([(9001, "y")], "k long, v string"),
        base, keys=["k"],
    )
    entry2 = cp.compact(spark, base, target_file_bytes=1 << 40)
    files2 = glob.glob(os.path.join(entry2["data_dir"], "*.parquet"))
    assert len(files2) == 1
    assert entry2["n_rows"] == 1501

    with pytest.raises(ValueError):
        cp.compact(spark, base, target_file_bytes=0)
