"""Explicit skew handling (BASELINE.json north_rule: "explicit skew
handling for heavy sources") — SURVEY.md §4.2.

Three tools, composable with any stage:

* ``heavy_hitters`` — sampled frequency scan producing the heavy-key set;
* ``salted`` / ``replicate_for_salt`` — classic salt-fanout for joins and
  grouped aggregations on skewed keys: the fact side gets a salt in
  [0, salts) for heavy keys (0 otherwise), the dimension side is
  replicated per salt, and the join key becomes (key, salt);
* ``size_bucketed`` — giant-doc straggler control for per-doc extraction:
  range-repartition on a size column so one 10 GB doc doesn't serialize a
  200-doc partition (SURVEY.md §4.2.3 — the distributed analogue of the
  reference's per-file timeout, ResourceLimits.h:95-201).

``heavy_hitters``, ``size_bucketed`` and ``maybe_size_rebalance`` run
probe jobs while the plan is built, so none runs unless the caller
asks: per-doc extraction (``extract.extract_all``) keeps its input's
own partitioning — the scan's byte-bounded file splits — by default,
and striping is opted into with ``rebalance=True``/``"auto"`` or
``gbdc_spark.job --size-bucketing``.
AQE's skew-join splitting (enabled in session.py) is the backstop for
plain joins; these helpers cover the cogroup/applyInPandas paths AQE
cannot rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "heavy_hitters",
    "salted",
    "replicate_for_salt",
    "salted_join",
    "size_bucketed",
    "maybe_size_rebalance",
    "write_bucketed",
]


def heavy_hitters(
    df: DataFrame,
    key: str,
    threshold_frac: float = 0.01,
    sample_frac: float | None = None,
) -> list:
    """Keys holding more than ``threshold_frac`` of (sampled) rows."""
    probe = df.sample(sample_frac, seed=7) if sample_frac else df
    counts = probe.groupBy(key).count()
    total = probe.count()
    if total == 0:
        return []
    rows = counts.filter(F.col("count") >= threshold_frac * total).collect()
    return [r[key] for r in rows]


def _salt_col(key: str, salts: int, heavy: list | None, entropy: Column) -> Column:
    salt = F.pmod(F.xxhash64(entropy), F.lit(salts)).cast("int")
    if heavy is None:
        return salt
    return F.when(F.col(key).isin(heavy), salt).otherwise(F.lit(0))


def salted(
    df: DataFrame,
    key: str,
    salts: int = 8,
    heavy: list | None = None,
    entropy_cols: list[str] | None = None,
    out: str = "_salt",
) -> DataFrame:
    """Add a salt column: uniform in [0, salts) for heavy keys (all keys
    if ``heavy`` is None), 0 otherwise.  ``entropy_cols`` drive the salt
    hash (default: all non-key columns) so the fanout is deterministic."""
    entropy_cols = entropy_cols or [c for c in df.columns if c != key]
    entropy = F.xxhash64(*[F.col(c).cast("string") for c in entropy_cols])
    return df.withColumn(out, _salt_col(key, salts, heavy, entropy))


def replicate_for_salt(
    dim: DataFrame,
    key: str,
    salts: int = 8,
    heavy: list | None = None,
    out: str = "_salt",
) -> DataFrame:
    """Explode the (small) dimension side once per salt value, so the
    salted equi-join (key, salt) sees every fact row."""
    salt_values = F.sequence(F.lit(0), F.lit(salts - 1))
    if heavy is not None:
        salt_values = F.when(
            F.col(key).isin(heavy), salt_values
        ).otherwise(F.array(F.lit(0)))
    return dim.withColumn(out, F.explode(salt_values)).withColumn(
        out, F.col(out).cast("int")
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salts: int = 8,
    heavy: list | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: facts salted, dim replicated, join on
    (key, salt); the heavy key's rows spread over ``salts`` tasks."""
    f = salted(facts, key, salts, heavy)
    d = replicate_for_salt(dim, key, salts, heavy)
    return f.join(d, on=[key, "_salt"], how=how).drop("_salt")


_PREIMAGE_CACHE: dict[int, dict[int, int]] = {}


def _hash_preimages(spark, partitions: int) -> dict[int, int]:
    """For each target partition p, a small int v with
    ``murmur3(v) % partitions == p`` — lets ``repartition(P, lit-mapped
    column)`` place rows on EXACT partitions through the DataFrame API.
    One tiny driver-side job per distinct P, cached for the session."""
    cached = _PREIMAGE_CACHE.get(partitions)
    if cached is not None:
        return cached
    rows = (
        spark.range(0, 64 * partitions)
        .select(
            F.col("id").cast("int").alias("v"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(partitions)).alias("p"),
        )
        .groupBy("p")
        .agg(F.min("v").alias("v"))
        .collect()
    )
    m = {r["p"]: r["v"] for r in rows}
    if len(m) < partitions:  # astronomically unlikely with 64P candidates
        raise RuntimeError(f"no hash preimage for {partitions - len(m)} partitions")
    _PREIMAGE_CACHE[partitions] = m
    return m


def size_bucketed(
    df: DataFrame,
    size_col: str = "n_tok",
    key: str = "doc_id",
    partitions: int | None = None,
    strata: int = 16,
    cuts: list[float] | None = None,
) -> DataFrame:
    """Straggler control for per-doc extraction: giant isolation plus
    serpentine size-rank striping — a distributed approximation of LPT
    (longest-processing-time-first) packing.

    Two-part deal, driven by one narrow (key, size) probe — a top-P
    TakeOrdered and a sum, both column-pruned scans with O(P) results:

    * **Giants** — docs whose size exceeds the fair share ``total/P`` —
      each get a DEDICATED partition (capped at P/2).  No partitioning
      scheme can beat ``max(biggest_doc, mean_share)`` without splitting
      a doc, and isolation achieves it: the giant's partition carries
      the giant alone instead of the giant plus an even share of
      everything else (which is what any per-stratum fair deal yields).
    * **The rest** are quantile-bucketed into strata, then within each
      (stratum, salt-bucket) group — the salt keeps every sort task at
      ~n/(strata x P) rows, so no stratum serializes into one task —
      ranked by size descending and dealt serpentine (rank r →
      ``r % P'`` on even passes, reversed on odd) over the remaining
      partitions, with the deal rotated per bucket so bucket maxima
      spread instead of stacking.

    Residual giant-dominated tails (one doc > fair share is the floor)
    surface via the ``runtime_s`` column (SURVEY.md §4.2.3).
    """
    from pyspark.sql import Window

    if partitions is None:
        partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # narrow probe: top-P sizes + (total, row count) — column-pruned
    # scans with O(P) results
    sizes = df.select(F.col(key).alias("k"), F.col(size_col).alias("s"))
    top = sizes.orderBy(F.col("s").desc(), "k").limit(partitions).collect()
    stats = sizes.agg(F.sum("s").alias("t"), F.count("*").alias("n")).collect()[0]
    total, n_rows = (stats["t"] or 0), stats["n"]
    # greedy LPT head: isolate top docs while they exceed HALF the fair
    # share of what remains.  The snake deal below is count-aware, not
    # mass-aware — a shared doc of size s pushes its partition to
    # ~s/2 + share — so isolation pays down to s ≈ remaining/parts/2;
    # below that the dedicated partition wastes more capacity than the
    # disparity it removes.
    giants: list = []
    remaining, parts_left = float(total), partitions
    for row in top:
        if parts_left <= max(partitions // 2, 1):
            break
        if row["s"] > 0.5 * remaining / parts_left:
            giants.append(row["k"])
            remaining -= row["s"]
            parts_left -= 1
        else:
            break
    n_g = len(giants)
    rest_parts = max(partitions - n_g, 1)

    if cuts is None:
        qs = [i / strata for i in range(1, strata)]
        cuts = df.approxQuantile(size_col, qs, 0.001)
    stratum: Column = F.lit(0)
    for i, c in enumerate(cuts):
        stratum = F.when(F.col(size_col) > F.lit(c), F.lit(i + 1)).otherwise(stratum)
    # serpentine needs MANY passes per sort bucket (docs >> partitions)
    # to balance, so the salt fan-out adapts to the probed row count:
    # buckets of ~rows_per_task rows — at small n one sort per stratum,
    # at warehouse scale enough salts that no task sort exceeds
    # ~rows_per_task rows
    rows_per_task = 200_000
    salts = max(1, int(n_rows // (strata * rows_per_task)) + (1 if n_rows % (strata * rows_per_task) else 0))
    salt = F.pmod(F.xxhash64(F.col(key)), F.lit(salts))
    w = Window.partitionBy(stratum, salt).orderBy(F.col(size_col).desc(), F.col(key))
    r = F.row_number().over(w) - F.lit(1)
    pos = F.pmod(r, F.lit(rest_parts))
    serp = F.when(
        F.pmod(F.floor(r / rest_parts), F.lit(2)) == 0, pos
    ).otherwise(F.lit(rest_parts - 1) - pos)
    # rotate each (stratum, salt) bucket's deal — without the rotation
    # every bucket's rank-0 (its biggest doc) lands on the SAME
    # partition and the deal anti-balances
    stripe = F.pmod(serp + stratum + salt * F.lit(7919), F.lit(rest_parts)) + F.lit(n_g)
    if giants:
        giant_idx: Column = F.lit(None).cast("int")
        for i, g in enumerate(giants):
            giant_idx = F.when(F.col(key) == F.lit(g), F.lit(i)).otherwise(giant_idx)
        stripe = F.coalesce(giant_idx, stripe)
    # range-partition on stripe + fractional jitter: stripes are dense
    # ints uniform over [0, partitions), and the jitter keeps the sampled
    # range boundaries from collapsing adjacent integer stripes.  A plain
    # hash repartition(n, stripe) — the round-1 version — re-hashed the
    # stripe and left ~1/e of the partitions empty.
    # EXACT placement: repartitionByRange builds equal-ROW-COUNT ranges,
    # so a 1-row giant stripe would be merged into its neighbors (and a
    # plain repartition(n, stripe) re-hashes the stripe, leaving ~1/e of
    # the partitions empty — the round-1 bug).  Instead map each stripe
    # p to a small integer whose murmur3 hash lands on partition p, and
    # hash-repartition on that preimage — DataFrame-native, no RDD drop.
    pre = _hash_preimages(df.sparkSession, partitions)
    target = F.element_at(
        F.array(*[F.lit(pre[p]) for p in range(partitions)]),
        stripe.cast("int") + F.lit(1),
    )
    return (
        df.withColumn("_sb_target", target)
        .repartition(partitions, F.col("_sb_target"))
        .drop("_sb_target")
    )


def maybe_size_rebalance(
    df: DataFrame,
    size_col: str = "n_tok",
    key: str = "doc_id",
    skew_ratio: float = 8.0,
    partitions: int | None = None,
    strata: int = 16,
    sample_frac: float = 0.1,
) -> DataFrame:
    """Shuffle via ``size_bucketed`` ONLY when the size distribution is
    actually skewed — the ``rebalance="auto"`` gate of the per-doc
    extraction stages (the default of ``with_gate_features``, whose cost
    is super-linear in doc size; an opt-in for ``extract_all``).

    One approxQuantile pass over a seeded 10% sample yields both the
    skew decision (p99 / p50 > ``skew_ratio``) and the stratum cutoffs,
    so triggering costs no second pass — and because ``size_col`` may be
    a derived expression (e.g. the tokenizer's n_tok), sampling keeps
    the probe from re-running the derivation over the full corpus.  The
    probe is a Spark job run while the plan is built, on every call.  A
    near-uniform corpus — like the driver's documents tables — returns
    ``df`` untouched: no shuffle, identical plan.  No-ops when
    ``size_col`` OR ``key`` is absent (an auto gate must degrade to
    identity on any frame shape — e.g. a renamed doc_id — never raise
    from inside ``size_bucketed``) or when the input is a streaming
    DataFrame (quantiles need a batch scan; micro-batch sizing already
    bounds stragglers there).
    """
    if size_col not in df.columns or key not in df.columns or df.isStreaming:
        return df
    probe = df.sample(fraction=sample_frac, seed=7) if sample_frac < 1.0 else df
    qs = sorted({i / strata for i in range(1, strata)} | {0.5, 0.99})
    vals = probe.approxQuantile(size_col, qs, 0.001)
    if len(vals) != len(qs):  # empty sample — nothing to decide on
        return df
    byq = dict(zip(qs, vals))
    p50, p99 = byq[0.5], byq[0.99]
    # p50 == 0 with a positive p99 is MAXIMAL skew (a majority of empty
    # docs hiding a giant tail), not "nothing to do" — clamp the
    # denominator to 1 so that corpus rebalances instead of slipping
    # through; only an all-zero profile (p99 <= 0) is a true no-op
    if p99 <= 0 or p99 / max(p50, 1.0) < skew_ratio:
        return df
    cuts = [byq[q] for q in [i / strata for i in range(1, strata)]]
    return size_bucketed(df, size_col, key, partitions, strata, cuts=cuts)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a BUCKETED (and optionally sorted) table —
    Spark's persisted co-location: rows hash into ``buckets`` files by
    ``key`` at write time, so every later equi-join or aggregation on
    ``key`` between tables bucketed the same way runs WITHOUT a
    shuffle exchange (and without the sort, when ``sort=True``).  This
    is the storage-layout half of the skew/shuffle story: salting
    fixes one hot join at runtime; bucketing removes the exchange from
    EVERY downstream join against the table — the right trade for a
    10^12-row fact table joined every day.

    Bucketing requires the table catalog (``saveAsTable``; plain
    ``.parquet(path)`` silently drops bucket metadata — Spark would
    re-shuffle).  Bucket count is fixed at write time; pick it like a
    shuffle partition count for the JOIN-time data (128-1024 at
    cluster scale) and keep both join sides on the SAME count, or
    Spark falls back to exchanging the mismatched side.
    """
    if buckets <= 0:
        raise ValueError("buckets must be positive")
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
