"""Traced run: cumulative layer prefixes and the per-layer metrics.

Prefix k runs the workload's layers 1..k from scratch (caches cleared)
and forces the last one with a ``noop`` write, so its time P_k covers
every layer up to k.  A layer's self time is P_k - P_(k-1), taken on the
running maximum of the P's: a prefix that reads faster than the one
before it (run-to-run noise) gets self time 0, self times are never
negative and add up to the slowest prefix, which is the last one unless
noise exceeds the last layer's own cost.
"""

from __future__ import annotations

import os
import statistics
import sys
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench.status import COGROUP_OP, EXTRACT_OP, Counters, Span, additive
from perfbench.workloads import leak, noop, observed


# per-layer metrics of a traced run, with their units
PER_LAYER = {
    "sources.scan_s": "s", "sources.tokenize_s": "s",
    "partitioning.probe_s": "s", "partitioning.probe_jobs": "count",
    "partitioning.shuffle_bytes": "bytes",
    "extract.self_s": "s", "extract.task_s": "s", "extract.task_skew": "ratio",
    "extract.doc_cpu_s": "s", "extract.ok_frac": "ratio",
    "temporal.asof_self_s": "s", "temporal.asof_task_s": "s",
    "temporal.asof_task_skew": "ratio", "temporal.asof_shuffle_bytes": "bytes",
    "temporal.asof_tasks": "count", "temporal.asof_match_frac": "ratio",
    "temporal.bundle_self_s": "s", "temporal.bundle_task_s": "s",
    "temporal.bundle_shuffle_bytes": "bytes",
    "flagship.aggregate_self_s": "s",
    "checkpoint.commit_self_s": "s", "checkpoint.commit_jobs": "count",
    "checkpoint.bytes_written": "bytes", "checkpoint.write_amp": "ratio",
    "checkpoint.resume_s": "s", "checkpoint.resume_skip_frac": "ratio",
    "workload.jobs": "count", "workload.task_s": "s", "workload.shuffle_bytes": "bytes",
    "session.persisted_rdds": "count", "tracing.overhead_frac": "ratio",
}


@dataclass
class Prefix:
    layer: str
    span: Span
    counters: Counters
    obs: dict
    children: list[tuple[Span, Counters]]
    result: tuple | None = None  # (base, first entry, resume entry) of commit prefixes


@dataclass
class Chain:
    prefixes: list[Prefix] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)

    def prefix(self, layer: str) -> Prefix | None:
        return next((p for p in self.prefixes if p.layer == layer), None)


def self_times(prefix_s: list[float]) -> list[float]:
    """Self time per layer from cumulative prefix times (running max)."""
    out, top = [], 0.0
    for p in prefix_s:
        nxt = max(top, p)
        out.append(nxt - top)
        top = nxt
    return out


def _du(path: str, suffix: str = "") -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix))


def _force(layer: str, item) -> dict:
    """Force a prefix's output; returns its observations."""
    if isinstance(item, tuple):  # a commit, which already ran inside the prefix
        return {}
    dfs = item if isinstance(item, list) else [item]
    obs = None
    last = dfs[-1]
    if layer == "extract":
        last, obs = observed(
            last, F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
            F.sum("runtime_s").alias("doc_cpu_s"))
    elif layer in ("asof", "bundle"):
        last, obs = observed(last, F.count(F.lit(1)).alias("n"),
                             F.count("snapshot_ts").alias("matched"), leak().alias("leak"))
    for df in dfs[:-1] + [last]:
        noop(df)
    return dict(obs.get) if obs is not None else {}


def traced_chain(wl, status, tracer, clear) -> Chain:
    chain = Chain()
    start = status.last_job_id()
    try:
        for k, layer in enumerate(wl.layers_run):
            clear(wl.spark)
            n_before = len(tracer.spans)
            with tracer.span(f"prefix.{layer}") as ctx:
                gen = wl.layers(tracer)
                for _ in range(k + 1):
                    name, item = next(gen)
                obs = _force(layer, item)
            gen.close()
            if isinstance(item, tuple):  # measured now: the run deletes the base later
                base, first, _ = item
                obs = {"bytes_written": _du(base),
                       "data_bytes": _du(first["data_dir"], ".parquet")}
            if name != layer:
                raise RuntimeError(f"prefix {k} yielded layer {name}, expected {layer}")
            sp = ctx.span
            kids = [(s, status.counters(s.first_job, s.last_job))
                    for s in tracer.spans[n_before:] if s.parent == sp.name]
            chain.prefixes.append(Prefix(layer, sp, status.counters(sp.first_job, sp.last_job),
                                         obs, kids, item if isinstance(item, tuple) else None))
            if obs.get("leak"):
                chain.problems.append(f"prefix {layer}: {obs['leak']} leaked rows")
            chain.problems += wl.check_prefix(layer, item)
    except Exception as e:  # noqa: BLE001 — a failed chain is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        chain.problems.append(f"traced chain raised {e!r}"[:500])
        return chain
    whole = status.counters(start, status.last_job_id())
    if not additive(whole, [p.counters for p in chain.prefixes]):
        chain.problems.append(
            f"prefix counters {[p.counters.totals() for p in chain.prefixes]} do not add up "
            f"to the chain's {whole.totals()}")
    return chain


def chain_metrics(wl, chain: Chain) -> dict:
    """Per-layer metrics of one traced chain (0 for layers the workload
    does not run)."""
    m = {}
    own = dict(zip(wl.layers_run, self_times([p.span.dur for p in chain.prefixes])))
    m["sources.scan_s"] = own["sources"]
    m["sources.tokenize_s"] = own["sources"] if wl.name == "flagship_docs" else 0.0

    ex = chain.prefix("extract")
    if ex is not None:
        probe, probe_c = next((s, c) for s, c in ex.children if s.name == "extract.extract_all")
        m["partitioning.probe_s"] = probe.dur
        m["partitioning.probe_jobs"] = probe_c.jobs
        m["partitioning.shuffle_bytes"] = ex.counters.shuffle_write
        m["extract.self_s"] = own["extract"]
        m["extract.task_s"] = ex.counters.op_task_s(EXTRACT_OP)
        m["extract.task_skew"] = ex.counters.op_skew(EXTRACT_OP)
        m["extract.doc_cpu_s"] = ex.obs["doc_cpu_s"]
        m["extract.ok_frac"] = ex.obs["ok"] / ex.obs["n"]

    asof = chain.prefix("asof")
    cg = asof.counters.with_op(COGROUP_OP)
    m["temporal.asof_self_s"] = own["asof"]
    m["temporal.asof_task_s"] = asof.counters.op_task_s(COGROUP_OP)
    m["temporal.asof_task_skew"] = asof.counters.op_skew(COGROUP_OP)
    m["temporal.asof_shuffle_bytes"] = sum(s.shuffle_read for s in cg)
    m["temporal.asof_tasks"] = sum(s.tasks for s in cg)
    m["temporal.asof_match_frac"] = asof.obs["matched"] / asof.obs["n"]

    bundle = chain.prefix("bundle")
    m["temporal.bundle_self_s"] = own["bundle"]
    m["temporal.bundle_task_s"] = bundle.counters.task_s - asof.counters.task_s
    m["temporal.bundle_shuffle_bytes"] = bundle.counters.shuffle_write - asof.counters.shuffle_write

    if "aggregate" in own:
        m["flagship.aggregate_self_s"] = own["aggregate"]

    commit = chain.prefix("commit")
    if commit is not None:
        m["checkpoint.commit_self_s"] = own["commit"]
        m["checkpoint.commit_jobs"] = commit.counters.jobs - bundle.counters.jobs
        m["checkpoint.bytes_written"] = commit.obs["bytes_written"]
        m["checkpoint.write_amp"] = commit.obs["bytes_written"] / commit.obs["data_bytes"]
        offered = wl.meta["corpus"] + wl.meta["new"]
        m["checkpoint.resume_s"] = own["resume"]
        m["checkpoint.resume_skip_frac"] = 1.0 - chain.prefix("resume").result[2]["n_rows"] / offered
    upto = wl.layers_run.index(wl.pass_layer) + 1
    m["tracing.overhead_frac"] = sum(own[layer] for layer in wl.layers_run[:upto])
    return m


def per_layer(wl, chains: list[Chain], warm) -> dict:
    """Median over traced chains; per-pass counters from untraced passes."""
    ok = [chain_metrics(wl, c) for c in chains if not c.problems]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    m = {name: med([c.get(name, 0.0) for c in ok]) for name in PER_LAYER}
    good = [r for r in warm if not r.problems]
    pass_s = med([r.seconds for r in good])
    # chain_metrics leaves the traced time of a pass's layers here
    m["tracing.overhead_frac"] = m["tracing.overhead_frac"] / pass_s - 1.0 if pass_s else 0.0
    m["workload.jobs"] = med([r.jobs for r in good])
    m["workload.task_s"] = med([r.task_s for r in good])
    m["workload.shuffle_bytes"] = med([r.shuffle_bytes for r in good])
    m["session.persisted_rdds"] = med([r.persisted_rdds for r in good])
    return m
