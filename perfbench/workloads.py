"""The three workloads: one timed pass each, its output check, and the
cumulative layer prefixes the traced run times.

A pass calls the program only through its public functions.  Layer
arguments mirror ``plans.flagship.feature_pipeline``, so that the
traced prefix named by ``pass_layer`` does the same work as a pass.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
import warnings
from collections.abc import Iterator

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from gbdc_spark.operators import checkpoint, extract, temporal
from gbdc_spark.plans import flagship
from gbdc_spark.sources import tables

ASOF = dict(by="doc_id", left_ts="ingest_ts", right_ts="snapshot_ts", allow_exact_matches=False)
BUNDLE = dict(ts="ingest_ts", partition_by="source", ffill_cols=["prev_score"],
              lag_cols=["clauses"], gap_seconds=120.0, order_tiebreak=["doc_id"],
              chunk_seconds=3600.0)
KEYS = ["doc_id", "ingest_ts"]


def leak():
    """Rows whose matched snapshot is not strictly before ingest."""
    return F.sum(F.when(F.col("snapshot_ts") >= F.col("ingest_ts"), 1).otherwise(0))


class BuildClock:
    """Accumulates the wall and CPU time spent building DataFrames inside
    a pass; ``cpu`` reads the process tree's CPU seconds."""

    def __init__(self, cpu=lambda: 0.0) -> None:
        self.cpu = cpu
        self.s = 0.0
        self.cpu_s = 0.0

    def __call__(self, fn, *args, **kwargs):
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.s += time.perf_counter() - t0
            self.cpu_s += self.cpu() - c0


def observed(df, *exprs):
    """``df`` with an Observation of ``exprs`` attached."""
    obs = Observation(f"perfbench_{uuid.uuid4().hex[:8]}")
    return df.observe(obs, *exprs), obs


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


class Workload:
    name: str
    layers_run: tuple[str, ...]  # layer prefixes, in order
    pass_layer: str  # the prefix that does the same work as a timed pass
    extracts = True  # a pass runs extract_all (its task time must be nonzero)
    # warm passes per run at least.  The JVM is still compiling for many
    # passes (a pass's CPU time falls by half over the first seven), so a
    # fixed count keeps the medians over the same passes whatever the
    # host's speed; BENCHMARK.json sets run_seconds below the time they take
    warm_passes = 2
    rows: int  # input rows per pass (rows_per_s numerator)

    def __init__(self, spark, data: str, work: str, meta: dict) -> None:
        self.spark, self.data, self.work, self.meta = spark, data, work, meta
        self.rows = meta["rows"]

    def prepare(self) -> None:
        """Untimed, once per run: oracle expectations."""

    def run(self, build: BuildClock):
        """One pass; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, result) -> list[str]:
        return []

    def check_once(self) -> list[str]:
        """Checks not tied to one pass (untimed, once per run)."""
        return []

    def check_prefix(self, layer: str, item) -> list[str]:
        """Checks on a traced prefix's result (untimed)."""
        return []

    def layers(self, tr) -> Iterator[tuple[str, object]]:
        """Yield (layer, DataFrame | list of DataFrames | commit result)
        for each cumulative prefix, calls traced through ``tr``."""
        raise NotImplementedError

    def cleanup(self, result) -> None:
        """Drop the scratch output of a pass (after its check)."""


class FlagshipDocs(Workload):
    """The packaged flagship plan over a documents table."""

    name = "flagship_docs"
    layers_run = ("sources", "extract", "asof", "bundle", "aggregate")
    pass_layer = "aggregate"

    def prepare(self) -> None:
        import __spark_entry__

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.data}/documents.parquet'")
        # oracle_sql() sizes its embedding oracles from this directory;
        # pointing it at the workload's own inputs keeps every read inside
        # the run's directory (the flagship oracle does not use them)
        os.environ["GBDC_ORACLE_SF_DIR"] = self.data
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            sql = __spark_entry__.oracle_sql()["flagship_pipeline"]
        self.expected = sorted(con.execute(sql).fetchall())
        con.close()

    def run(self, build: BuildClock):
        df = build(flagship.run_flagship, self.spark, self.data)
        return sorted(tuple(r) for r in df.collect())

    def check(self, rows) -> list[str]:
        if len(rows) != len(self.expected):
            return [f"flagship: {len(rows)} rows, oracle {len(self.expected)}"]
        bad = [(a, b) for a, b in zip(rows, self.expected) if not _row_eq(a, b)]
        return [f"flagship: row {a} != oracle {b}" for a, b in bad[:3]]

    def check_once(self) -> list[str]:
        # the aggregate hides snapshot_ts, so leakage is counted once per
        # run on the flagship's as-of join over its own keys and snapshots
        # (extraction does not touch doc_id or ingest_ts); the traced run
        # counts it on the full feature rows
        seqs = tables.documents_as_sequences(self.spark, self.data)
        joined, obs = observed(
            temporal.asof_join(seqs.select("doc_id", "ingest_ts"),
                               tables.derived_snapshots_df(seqs), **ASOF),
            leak().alias("leak"))
        noop(joined)
        n = obs.get["leak"] or 0
        return [f"flagship: {n} leaked rows"] if n else []

    def layers(self, tr):
        seqs = tr.call("tables.documents_as_sequences", tables.documents_as_sequences,
                       self.spark, self.data)
        yield "sources", seqs
        snaps = tables.derived_snapshots_df(seqs)
        feats = tr.call("extract.extract_all", extract.extract_all, seqs)
        yield "extract", feats
        joined = tr.call("temporal.asof_join", temporal.asof_join,
                         feats.drop("tokens"), snaps, **ASOF)
        yield "asof", joined
        bundled = tr.call("temporal.with_temporal_bundle_scalable",
                          temporal.with_temporal_bundle_scalable, joined, **BUNDLE)
        yield "bundle", bundled
        yield "aggregate", tr.call("flagship.flagship_aggregate",
                                   flagship.flagship_aggregate, bundled)


def _row_eq(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(
        abs(x - y) <= 1e-6 if isinstance(x, float) and isinstance(y, float) else x == y
        for x, y in zip(a, b))


class JobCnf(Workload):
    """What ``gbdc_spark.job`` does: ``feature_pipeline`` over the corpus,
    committed to a fresh checkpoint base.  The traced run adds its
    ``--resume`` step: a resume over the corpus plus new docs that
    commits only the delta."""

    name = "job_cnf"
    layers_run = ("sources", "extract", "asof", "bundle", "commit", "resume")
    pass_layer = "commit"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.refs: dict[str, int] = {}

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.data, name))

    def _base(self) -> str:
        return os.path.join(self.work, f"ckpt-{uuid.uuid4().hex[:12]}")

    @staticmethod
    def _commit(features, base: str) -> dict:
        # runtime_s is measured wall-clock, so it is left out of the hash
        return checkpoint.commit(features, base, keys=KEYS,
                                 hash_cols=[c for c in features.columns if c != "runtime_s"])

    def run(self, build: BuildClock):
        base = self._base()
        snaps = build(self._read, "snapshots")
        feats = build(flagship.feature_pipeline, build(self._read, "corpus"), snaps)
        return base, self._commit(feats, base), None

    def check(self, result) -> list[str]:
        """``result`` = (base, first commit entry, resume entry or None)."""
        base, first, second = result
        commits = [("first", first, self.meta["corpus"])]
        if second is not None:
            commits.append(("resume", second, self.meta["new"]))
        out = []
        for tag, entry, n in commits:
            ref = self.refs.setdefault(tag, entry["content_hash"])
            if entry["content_hash"] != ref:
                out.append(f"job: {tag} content_hash {entry['content_hash']} != {ref}")
            if entry["n_rows"] != n:
                out.append(f"job: {tag} committed {entry['n_rows']} rows, expected {n}")
        table = "corpus" if second is None else "corpus_plus"
        n_keys = sum(n for _, _, n in commits)
        files = [f for _, e, _ in commits for f in glob.glob(f"{e['data_dir']}/*.parquet")]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW c AS SELECT * FROM read_parquet({files!r})")
        con.execute(f"CREATE VIEW p AS SELECT * FROM {_parquet(f'{self.data}/{table}')}")
        n, keys, stray, leaked = con.execute("""
            SELECT (SELECT count(*) FROM c),
                   (SELECT count(*) FROM (SELECT DISTINCT doc_id, ingest_ts FROM c)),
                   (SELECT count(*) FROM c ANTI JOIN p USING (doc_id, ingest_ts)),
                   (SELECT count(*) FROM c WHERE snapshot_ts >= ingest_ts)""").fetchone()
        if not (n == keys == n_keys and stray == 0):
            out.append(f"job: committed {n} rows / {keys} keys / {stray} stray, "
                       f"expected the {n_keys} keys of {table} once each")
        if leaked:
            out.append(f"job: {leaked} leaked rows")
        expected = f"""
            SELECT p.doc_id, p.ingest_ts, r.snapshot_id FROM p
            ASOF LEFT JOIN {_parquet(self.data + '/snapshots')} r
              ON p.doc_id = r.doc_id AND p.ingest_ts > r.snapshot_ts"""
        got = "SELECT doc_id, ingest_ts, snapshot_id FROM c"
        extra, missing = con.execute(f"""
            SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {expected})),
                   (SELECT count(*) FROM ({expected} EXCEPT ALL {got}))""").fetchone()
        con.close()
        if extra or missing:
            out.append(f"job: as-of matches differ from the oracle ({extra} extra, {missing} missing)")
        return out

    def check_prefix(self, layer: str, item) -> list[str]:
        return self.check(item) if layer in ("commit", "resume") else []

    def cleanup(self, result) -> None:
        shutil.rmtree(result[0], ignore_errors=True)

    def layers(self, tr):
        seqs = tr.call("spark.read.parquet", self._read, "corpus")
        snaps = tr.call("spark.read.parquet", self._read, "snapshots")
        yield "sources", [seqs, snaps]
        feats = tr.call("extract.extract_all", extract.extract_all, seqs)
        yield "extract", feats
        joined = tr.call("temporal.asof_join", temporal.asof_join,
                         feats.drop("tokens"), snaps, **ASOF)
        yield "asof", joined
        bundled = tr.call("temporal.with_temporal_bundle_scalable",
                          temporal.with_temporal_bundle_scalable, joined, **BUNDLE)
        yield "bundle", bundled
        base = self._base()
        first = tr.call("checkpoint.commit", self._commit, bundled, base)
        yield "commit", (base, first, None)
        plus = tr.call("spark.read.parquet", self._read, "corpus_plus")
        delta = tr.call("checkpoint.resume_filter", checkpoint.resume_filter, plus, base, KEYS)
        feats2 = tr.call("flagship.feature_pipeline", flagship.feature_pipeline, delta, snaps)
        yield "resume", (base, first, tr.call("checkpoint.commit", self._commit, feats2, base))


class AsofDense(Workload):
    """Strict as-of join then the flagship's window bundle, no extraction."""

    name = "asof_dense"
    layers_run = ("sources", "asof", "bundle")
    pass_layer = "bundle"
    extracts = False
    FP_SQL = """
        SELECT count(*) AS n, count(r.snapshot_id) AS matched,
               coalesce(sum(r.snapshot_id), 0) AS sid_sum,
               coalesce(sum(((l.row_id + 1) * (coalesce(r.snapshot_id, 0) + 7)) % 1000000007), 0)
                   AS mix,
               coalesce(sum(CASE WHEN r.snapshot_ts >= l.ingest_ts THEN 1 ELSE 0 END), 0)
                   AS leak"""

    def prepare(self) -> None:
        con = duckdb.connect()
        self.expected = dict(zip(
            ("n", "matched", "sid_sum", "mix", "leak"),
            con.execute(f"""{self.FP_SQL}
                FROM {_parquet(self.data + '/left')} l
                ASOF LEFT JOIN {_parquet(self.data + '/right')} r
                  ON l.doc_id = r.doc_id AND l.ingest_ts > r.snapshot_ts""").fetchone()))
        con.close()

    @staticmethod
    def fingerprint():
        sid = F.coalesce(F.col("snapshot_id"), F.lit(0))
        return (
            F.count(F.lit(1)).alias("n"),
            F.count("snapshot_id").alias("matched"),
            F.coalesce(F.sum("snapshot_id"), F.lit(0)).alias("sid_sum"),
            F.coalesce(F.sum(((F.col("row_id") + 1) * (sid + 7)) % 1000000007), F.lit(0)).alias("mix"),
            F.coalesce(leak(), F.lit(0)).alias("leak"),
        )

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.data, name))

    def run(self, build: BuildClock):
        left, right = build(self._read, "left"), build(self._read, "right")
        joined = build(temporal.asof_join, left, right, **ASOF)
        out = build(temporal.with_temporal_bundle_scalable, joined, **BUNDLE)
        out, obs = observed(out, *self.fingerprint())
        noop(out)
        return obs.get

    def check(self, got) -> list[str]:
        got = {k: int(v) for k, v in got.items()}
        out = [] if got == self.expected else [f"asof: fingerprint {got} != oracle {self.expected}"]
        if got.get("leak"):
            out.append(f"asof: {got['leak']} leaked rows")
        return out

    def layers(self, tr):
        left = tr.call("spark.read.parquet", self._read, "left")
        right = tr.call("spark.read.parquet", self._read, "right")
        yield "sources", [left, right]
        joined = tr.call("temporal.asof_join", temporal.asof_join, left, right, **ASOF)
        yield "asof", joined
        yield "bundle", tr.call("temporal.with_temporal_bundle_scalable",
                                temporal.with_temporal_bundle_scalable, joined, **BUNDLE)


WORKLOADS = {w.name: w for w in (FlagshipDocs, JobCnf, AsofDense)}
