"""Checkpoint / resume with per-partition lineage and row-count/hash
metrics (BASELINE.json north_rule).

Iceberg-snapshot semantics on plain Parquet: each ``commit`` appends an
immutable snapshot directory ``data/snapshot=<k>`` plus one manifest row
(snapshot id, row count, order-independent content hash) and a
per-partition metrics table.  The runtime here has no Iceberg catalog
jars; on a real cluster ``commit`` maps 1:1 onto
``df.writeTo(tbl).append()`` with the manifest carried by Iceberg's own
snapshot log — the contract (monotonic snapshot ids, resumability,
drift-detectable metrics) is identical.

Resume = left-anti join of the input against already-committed keys, so a
re-run after a crash appends exactly the missing rows.  The anti join
shuffles only the key columns of the committed side; with Iceberg this
becomes a metadata-only ``doc_id`` bloom/partition prune.

Concurrency contract: ONE writer per table at a time (the same
assumption Hadoop-catalog Iceberg makes without a lock manager).  The
manifest row is nevertheless created EXCLUSIVELY (hard-link publish,
never an overwriting rename), so two racing writers that mint the same
snapshot id cannot silently clobber each other's manifest row — the
loser gets ``SnapshotConflictError`` and retries against the refreshed
manifest instead of orphaning the winner's committed data.

All hashes are ``xxhash64`` folded with an exact SUM (decimal
accumulator, reduced mod 2^64) — commutative and associative, so the
content hash is independent of partitioning and row order: the same
logical table hashes identically at local[8] and local[32] (the
determinism evidence the bench protocol requires).  Unlike an XOR fold,
the sum also catches every-row-duplicated drift (XOR cancels rows that
appear an even number of times).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "SnapshotConflictError",
    "row_hash",
    "content_hash",
    "partition_metrics",
    "commit",
    "committed_keys",
    "resume_filter",
    "read_table",
    "manifest",
    "clean_orphans",
    "compact",
]


def row_hash(df: DataFrame, cols: list[str] | None = None,
             stable_strings: bool = False) -> F.Column:
    """Order-insensitive 64-bit row fingerprint over ``cols`` (default:
    every column, name-sorted so schema reordering doesn't change it).

    Native-type hashing by default (one codegen'd xxhash64 over all
    columns — ~65 string casts per row would dominate the hash job).
    ``stable_strings=True`` casts through strings first, which keeps the
    hash identical across physical float encodings (float32-written vs
    float64-read tables) at that extra cost.
    """
    cols = sorted(cols or df.columns)
    if stable_strings:
        return F.xxhash64(*[F.col(c).cast("string") for c in cols])
    return F.xxhash64(*[F.col(c) for c in cols])


_FOLD_MOD = 1 << 64


def content_hash(df: DataFrame, cols: list[str] | None = None) -> int:
    """Sum-fold of row hashes mod 2^64 — partitioning/order independent,
    duplicate-sensitive (an XOR fold is blind to even multiplicities)."""
    out = df.select(row_hash(df, cols).cast("decimal(38,0)").alias("h")).agg(
        F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")).alias("fold")
    )
    return int(out.first()["fold"]) % _FOLD_MOD


def partition_metrics(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-partition lineage metrics: (partition_id, n_rows, hash_fold).

    The per-partition rows are parallelism-dependent (that is the point —
    they localize drift to a partition); the SUM of ``hash_fold`` across
    partitions, mod 2^64, equals ``content_hash`` and is
    parallelism-invariant (decimal sums are exact, so the two-level
    reduction loses nothing).
    """
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_h", row_hash(df, cols).cast("decimal(38,0)"))
        .groupBy("_pid")
        .agg(F.count("*").alias("n_rows"), F.sum("_h").alias("hash_fold"))
        .withColumnRenamed("_pid", "partition_id")
    )


# partition_metrics' output schema: its metrics tables are read back
# with it, so the read runs no schema-inference job
_METRICS_SCHEMA = "partition_id int, n_rows bigint, hash_fold decimal(38,0)"


def _write_metrics(
    written: DataFrame, metrics_dir: str, hash_cols: list[str] | None
) -> tuple[int, int, int]:
    """Write ``partition_metrics(written)`` to ``metrics_dir`` and fold
    ``(n_rows, content_hash, n_partitions)`` from the small table just
    written — one row per partition — instead of re-hashing the data."""
    partition_metrics(written, hash_cols).write.mode("errorifexists").parquet(metrics_dir)
    rows = (
        written.sparkSession.read.schema(_METRICS_SCHEMA)
        .parquet(metrics_dir)
        .select("n_rows", "hash_fold")
        .collect()
    )
    n_rows = sum(r["n_rows"] for r in rows)
    fold = sum(int(r["hash_fold"]) for r in rows) % _FOLD_MOD
    return n_rows, fold, len(rows)


class SnapshotConflictError(RuntimeError):
    """Another writer published this snapshot id first (single-writer
    assumption violated).  The loser's data dir is an orphan —
    ``clean_orphans`` reclaims it; retry the commit to mint a fresh id
    from the refreshed manifest."""


# ------------------------------------------------------------------ store
def _manifest_dir(base: str) -> str:
    return os.path.join(base, "_manifest")


def _publish_manifest_row(base: str, sid: int, entry: dict) -> None:
    """Create ``<sid>.json`` EXCLUSIVELY (EEXIST instead of replacing —
    the rename-based publish this replaces silently clobbered a racing
    writer's row, turning its committed data dir into a deletable
    orphan).  Preferred path: write a tmp file and ``os.link`` it into
    place — exclusive AND atomic (the name appears only with its full
    fsynced content, so concurrent readers never see a torn row).
    Hard links are unsupported on some NFS/overlayfs/object-store
    mounts (EPERM/ENOTSUP, not EEXIST — which used to crash every
    commit there); that OSError falls back to ``O_CREAT|O_EXCL`` +
    write + fsync: same EEXIST exclusivity, portable, at the cost of a
    microscopic torn-read window no worse than the single-writer
    contract already assumes."""
    mdir = _manifest_dir(base)
    os.makedirs(mdir, exist_ok=True)
    final = os.path.join(mdir, f"{sid:012d}.json")
    payload = json.dumps(entry).encode()
    conflict = SnapshotConflictError(
        f"snapshot {sid} already committed by another writer "
        f"(single-writer contract, see module docstring); this "
        f"attempt's data dir is an orphan — clean_orphans() reclaims "
        f"it, retry to mint a fresh id"
    )
    tmp = os.path.join(mdir, f".{sid:012d}.json.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
        return
    except FileExistsError:
        raise conflict from None
    except OSError:
        pass  # linkless filesystem — portable O_EXCL fallback below
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
    try:
        fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise conflict from None
    try:
        os.write(fd, payload)
        os.fsync(fd)
    finally:
        os.close(fd)


class SnapshotExpiredError(RuntimeError):
    """Time-travel read past the compaction horizon: the requested
    snapshot's data files were reclaimed by :func:`compact` (the same
    failure mode as reading an expired Iceberg snapshot)."""


def manifest(
    spark: SparkSession, base: str, as_of: int | None = None
) -> list[dict]:
    """LIVE committed snapshots, ascending by id.

    A compaction entry carries ``replaces: [ids]``; any entry whose id
    appears in some live entry's ``replaces`` list is superseded and
    hidden here — readers/resume always see exactly one copy of every
    row, even if the superseded json/data files still exist (the
    post-compaction cleanup is allowed to crash at any point).

    ``as_of`` time-travels: only entries with ``snapshot_id <= as_of``
    are considered, and the superseded-hiding is computed WITHIN that
    subset — a later compaction does not hide the snapshots it replaced
    from a reader positioned before it (it didn't exist yet).  Whether
    the time-travel read is still SERVABLE is the reader's problem
    (:func:`read_table` raises :class:`SnapshotExpiredError` when
    compaction already reclaimed the data files), exactly Iceberg's
    snapshot-expiry contract.
    """
    mdir = _manifest_dir(base)
    if not os.path.isdir(mdir):
        return []
    entries = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                entries.append(json.load(f))
    if as_of is not None:
        entries = [e for e in entries if e["snapshot_id"] <= as_of]
    replaced: set[int] = set()
    for e in entries:
        replaced.update(e.get("replaces", []))
    live = [e for e in entries if e["snapshot_id"] not in replaced]
    return sorted(live, key=lambda e: e["snapshot_id"])


def commit(
    df: DataFrame,
    base: str,
    keys: list[str],
    hash_cols: list[str] | None = None,
) -> dict:
    """Append ``df`` as the next snapshot; returns the manifest entry.

    Writes, in order: data files → per-partition metrics → manifest row.
    The manifest row is last, so a crash mid-commit leaves an orphan
    directory that the next resume simply ignores (never a torn snapshot
    visible to readers) — the same commit-protocol shape as Iceberg.
    The data directory name carries a unique suffix, so a re-commit
    after a crash that orphaned ``snapshot=<sid>-...`` can never collide
    with the orphan (readers only follow manifest ``data_dir`` entries;
    ``clean_orphans`` reclaims the space).
    """
    spark = df.sparkSession
    prior = manifest(spark, base)
    sid = (prior[-1]["snapshot_id"] + 1) if prior else 1
    data_dir = os.path.join(base, "data", f"snapshot={sid}-{uuid.uuid4().hex[:12]}")

    df.write.mode("errorifexists").parquet(data_dir)

    # read back with the schema just written: no schema-inference job
    written = spark.read.schema(df.schema).parquet(data_dir)
    # metrics dir carries the data dir's unique suffix and is written
    # errorifexists: like the data dir, a racing writer that minted the
    # same sid can never clobber the winner's lineage metrics (the
    # manifest row records which metrics dir belongs to the snapshot)
    metrics_dir = os.path.join(base, "_metrics", os.path.basename(data_dir))
    n_rows, fold, parts = _write_metrics(written, metrics_dir, hash_cols)

    entry = {
        "snapshot_id": sid,
        "committed_at": time.time(),
        "n_rows": n_rows,
        "n_partitions": parts,
        "content_hash": fold,
        "keys": keys,
        "data_dir": data_dir,
        "metrics_dir": metrics_dir,
    }
    _publish_manifest_row(base, sid, entry)
    return entry


def committed_keys(spark: SparkSession, base: str, keys: list[str]) -> DataFrame | None:
    """Distinct key tuples across all committed snapshots (None if no
    snapshot exists)."""
    entries = manifest(spark, base)
    if not entries:
        return None
    dirs = [e["data_dir"] for e in entries]
    return spark.read.parquet(*dirs).select(*keys).distinct()


def resume_filter(df: DataFrame, base: str, keys: list[str]) -> DataFrame:
    """Drop rows whose key tuple is already committed (idempotent resume)."""
    done = committed_keys(df.sparkSession, base, keys)
    if done is None:
        return df
    return df.join(done, on=keys, how="left_anti")


def clean_orphans(spark: SparkSession, base: str) -> list[str]:
    """Delete data directories no manifest row references (debris of
    commits that crashed between the data write and the manifest write).
    Safe at any time: readers and resume only follow manifest entries."""
    import shutil

    # Compare by basename: snapshot dir names are unique uuids by
    # construction, and the manifest may record the base path spelled
    # differently (relative vs absolute, symlink, './') than the caller
    # passes here — exact full-path equality would then treat every LIVE
    # snapshot as an orphan and delete it.
    entries = manifest(spark, base)
    live = {os.path.basename(os.path.normpath(e["data_dir"])) for e in entries}
    # metrics dirs are uuid-suffixed like data dirs; a lost commit race
    # or a crash between the metrics write and the manifest publish
    # leaves a metrics orphan too (pre-round-4 rows used the fixed
    # name snapshot=<sid> — keep those live as well)
    live_metrics = {
        os.path.basename(os.path.normpath(e["metrics_dir"]))
        if e.get("metrics_dir") else f"snapshot={e['snapshot_id']}"
        for e in entries
    }
    removed = []
    for sub, keep in (("data", live), ("_metrics", live_metrics)):
        ddir = os.path.join(base, sub)
        if os.path.isdir(ddir):
            for d in sorted(os.listdir(ddir)):
                if d not in keep:
                    full = os.path.join(ddir, d)
                    shutil.rmtree(full)
                    removed.append(full)
    return removed


def compact(
    spark: SparkSession,
    base: str,
    target_partitions: int | None = None,
    hash_cols: list[str] | None = None,
    target_file_bytes: int | None = None,
) -> dict | None:
    """Rewrite every live snapshot into ONE — the small-files compaction
    an append-only checkpoint table needs at scale (10^4 incremental
    commits = 10^4 directories of tiny files; scan planning and the
    resume anti-join both degrade linearly with file count).

    Protocol (crash-safe at every step, same manifest-last shape as
    ``commit``):

    1. write the union of all live snapshots as a new data dir
       (``target_partitions`` output files; default = session shuffle
       parallelism);
    2. VERIFY the rewrite: row count and sum-fold content hash must
       equal the sums over the replaced snapshots (the fold is
       order/partitioning-independent, so a faithful rewrite matches
       exactly) — on mismatch, raise and leave the manifest untouched
       (the orphan dir is reclaimed by ``clean_orphans``);
    3. commit one manifest row carrying ``replaces: [old ids]`` —
       readers atomically switch from N snapshots to 1;
    4. best-effort cleanup of superseded manifest rows and data dirs
       (a crash here is invisible: ``manifest()`` hides superseded
       entries whenever the compaction row exists).

    Returns the new manifest entry, or None when there is nothing to
    compact.  With a real Iceberg catalog this maps onto
    ``rewrite_data_files`` + snapshot expiry.

    ``target_file_bytes`` sizes the output by BYTES instead of a fixed
    partition count (Iceberg's ``target-file-size-bytes`` knob): the
    live snapshots' on-disk parquet bytes are summed with a local
    directory walk (no Spark job) and ``n_out = ceil(bytes /
    target)`` — the small-files story in reverse, keeping rewritten
    files near the scan-friendly size (~128-512 MB at cluster scale)
    instead of inheriting whatever the session's shuffle parallelism
    happens to be.  Compressed input bytes proxy for output bytes
    (same codec/schema, so the error is second-order).  Overrides
    ``target_partitions`` when both are given.
    """
    import shutil

    if target_file_bytes is not None and target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    entries = manifest(spark, base)
    if len(entries) <= 1:
        return None
    old_ids = [e["snapshot_id"] for e in entries]
    expected_rows = sum(e["n_rows"] for e in entries)
    expected_hash = sum(e["content_hash"] for e in entries) % _FOLD_MOD

    df = spark.read.parquet(*[e["data_dir"] for e in entries])
    if target_file_bytes is not None:
        total = 0
        for e in entries:
            for root, _, files in os.walk(e["data_dir"]):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        n_out = max(1, -(-total // int(target_file_bytes)))
    else:
        n_out = target_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # coalesce can only MERGE partitions; splitting up to the byte
    # target needs a real repartition (Iceberg's rewrite shuffles for
    # the same reason).  Only pay that shuffle when actually growing.
    if n_out > df.rdd.getNumPartitions():
        df = df.repartition(n_out)
    else:
        df = df.coalesce(n_out)
    sid = old_ids[-1] + 1
    data_dir = os.path.join(base, "data", f"snapshot={sid}-{uuid.uuid4().hex[:12]}")
    df.write.mode("errorifexists").parquet(data_dir)

    written = spark.read.schema(df.schema).parquet(data_dir)
    metrics_dir = os.path.join(base, "_metrics", os.path.basename(data_dir))
    got_rows, got_hash, parts = _write_metrics(written, metrics_dir, hash_cols)
    if got_rows != expected_rows or got_hash != expected_hash:
        # the new data and metrics dirs are orphans clean_orphans reclaims
        raise RuntimeError(
            f"compaction verify failed: rows {got_rows} vs {expected_rows}, "
            f"hash {got_hash} vs {expected_hash} — manifest untouched"
        )

    # replaces must be TRANSITIVE: a live compaction row may itself be
    # hiding earlier superseded jsons whose cleanup crashed midway; if
    # this new row only named the live ids, deleting that row's json
    # below would un-hide (resurrect) those entries for every future
    # reader — duplicate rows or reads of reclaimed dirs
    inherited = {r for e in entries for r in e.get("replaces", [])}
    entry = {
        "snapshot_id": sid,
        "committed_at": time.time(),
        "n_rows": got_rows,
        "n_partitions": parts,
        "content_hash": got_hash,
        "keys": entries[-1]["keys"],
        "data_dir": data_dir,
        "metrics_dir": metrics_dir,
        "replaces": sorted(set(old_ids) | inherited),
    }
    _publish_manifest_row(base, sid, entry)

    # post-commit cleanup — every step individually crash-safe; also
    # sweep any leftover jsons of transitively-superseded snapshots
    for old in entry["replaces"]:
        try:
            os.remove(os.path.join(_manifest_dir(base), f"{old:012d}.json"))
        except FileNotFoundError:
            pass
    for e in entries:
        shutil.rmtree(e["data_dir"], ignore_errors=True)
        shutil.rmtree(
            e.get("metrics_dir")  # pre-round-4 rows: fixed-name layout
            or os.path.join(base, "_metrics", f"snapshot={e['snapshot_id']}"),
            ignore_errors=True,
        )
    return entry


def read_table(
    spark: SparkSession, base: str, as_of: int | None = None
) -> DataFrame | None:
    """Table state = union of live committed snapshots.

    ``as_of`` reads the table as it stood at snapshot ``as_of`` (time
    travel).  Raises :class:`SnapshotExpiredError` when that history
    was reclaimed: either a surviving manifest row's data directory is
    gone (compaction cleanup won), or every manifest row ≤ ``as_of``
    was swept away by a compaction that replaced ids at or before it.
    Returns None only when the table genuinely had no snapshot yet at
    ``as_of`` (or has none at all).
    """
    entries = manifest(spark, base, as_of=as_of)
    if not entries:
        if as_of is not None:
            expired = any(
                r <= as_of
                for e in manifest(spark, base)
                for r in e.get("replaces", [])
            )
            if expired:
                raise SnapshotExpiredError(
                    f"snapshots <= {as_of} were compacted away; the "
                    "earliest readable state is the compaction snapshot"
                )
        return None
    if as_of is not None:
        # current-state reads never hit this: live rows always own their
        # data; only a time-travel view can reference reclaimed dirs
        # (manifest-json cleanup crashed, data rmtree won)
        missing = [
            e["snapshot_id"] for e in entries if not os.path.isdir(e["data_dir"])
        ]
        if missing:
            raise SnapshotExpiredError(
                f"data for snapshot(s) {missing} was reclaimed by compaction"
            )
    return spark.read.parquet(*[e["data_dir"] for e in entries])


def _raw_manifest(base: str) -> list[dict]:
    """Every surviving manifest row, superseded ones included —
    incremental scans need the raw append history, not the live view."""
    mdir = _manifest_dir(base)
    if not os.path.isdir(mdir):
        return []
    out = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda e: e["snapshot_id"])


def read_incremental(
    spark: SparkSession, base: str, after: int, to: int | None = None
) -> DataFrame | None:
    """Rows APPENDED strictly after snapshot ``after``, up to ``to``
    (inclusive; default latest) — the Iceberg incremental append scan a
    downstream consumer polls instead of re-reading the table.

    Compaction rows rewrite existing rows and add none, so they are
    never part of an incremental window's data.  When a compaction has
    already replaced an append INSIDE the window, that append's rows
    were merged into the rewrite and can no longer be isolated — the
    scan raises :class:`SnapshotExpiredError`, exactly the
    expiry-vs-incremental-read contract (the consumer must fall back to
    a full read).  Returns None when the window holds no appends.
    """
    raw = _raw_manifest(base)

    def in_window(sid: int) -> bool:
        return sid > after and (to is None or sid <= to)

    present = {e["snapshot_id"] for e in raw}
    swept = [
        r
        for e in raw
        for r in e.get("replaces", [])
        if in_window(r) and r not in present
    ]
    appends = [
        e for e in raw if in_window(e["snapshot_id"])
        and not e.get("replaces")
    ]
    reclaimed = [
        e["snapshot_id"] for e in appends
        if not os.path.isdir(e["data_dir"])
    ]
    if swept or reclaimed:
        gone = sorted(set(swept) | set(reclaimed))
        raise SnapshotExpiredError(
            f"append snapshot(s) {gone} inside ({after}, "
            f"{to if to is not None else 'latest'}] were compacted "
            "away; incremental read is unservable — fall back to a "
            "full read"
        )
    if not appends:
        return None
    return spark.read.parquet(*[e["data_dir"] for e in appends])
