"""Skew-handling helpers: heavy-hitter detection, salt fanout, striping."""

import pytest
from pyspark.sql import functions as F

from gbdc_spark.operators import partitioning as pt


@pytest.fixture(scope="module")
def skewed(spark):
    # key 'hot' holds ~70% of rows, 10 cold keys share the rest
    hot = spark.range(700).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(300).select(
        F.concat(F.lit("c"), (F.col("id") % 10).cast("string")).alias("k"),
        (F.col("id") + 1000).alias("v"),
    )
    return hot.union(cold).cache()


def test_heavy_hitters(spark, skewed):
    hh = pt.heavy_hitters(skewed, "k", threshold_frac=0.3)
    assert hh == ["hot"]
    assert set(pt.heavy_hitters(skewed, "k", threshold_frac=0.01)) >= {"hot", "c0"}


def test_salted_spreads_only_heavy(spark, skewed):
    s = pt.salted(skewed, "k", salts=8, heavy=["hot"])
    per_key = {
        r["k"]: r["n"]
        for r in s.groupBy("k").agg(F.countDistinct("_salt").alias("n")).collect()
    }
    assert per_key["hot"] > 1  # fanned out
    assert all(v == 1 for k, v in per_key.items() if k != "hot")  # cold untouched
    # deterministic
    a = sorted(tuple(r) for r in s.collect())
    b = sorted(tuple(r) for r in pt.salted(skewed, "k", salts=8, heavy=["hot"]).collect())
    assert a == b


def test_salted_join_equals_plain_join(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", 1.0)] + [(f"c{i}", float(i)) for i in range(10)], "k string, w double"
    )
    plain = skewed.join(dim, "k").select("k", "v", "w")
    salty = pt.salted_join(skewed, dim, "k", salts=8, heavy=["hot"]).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salty.collect()))


def test_replicate_for_salt_counts(spark):
    dim = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, w int")
    rep = pt.replicate_for_salt(dim, "k", salts=5, heavy=["hot"])
    counts = {r["k"]: r["n"] for r in rep.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert counts == {"hot": 5, "cold": 1}


def test_size_bucketed_balances_work(spark):
    # heavy-tailed sizes: 8 giants of 10_000, 992 docs of ~10
    rows = [(f"d{i}", 10_000 if i < 8 else 10) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    out = pt.size_bucketed(df, "n_tok", partitions=8)
    per_part = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.sum("n_tok").alias("work"), F.count("*").alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in per_part) == 1000
    works = [r["work"] for r in per_part]
    # stratified striping: no partition may hoard the giants
    assert max(works) < 4 * (sum(works) / len(works))


def test_size_bucketed_fills_all_partitions(spark):
    """repartitionByRange maps the uniform stripe ~1:1 onto partitions;
    the old hash-repartition left ~1/e of them empty (stripe collisions)."""
    rows = [(f"d{i}", 10 + (i % 37)) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    out = pt.size_bucketed(df, "n_tok", partitions=8)
    per_part = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    assert len(per_part) == 8          # no empty partitions
    counts = [r["count"] for r in per_part]
    assert max(counts) < 2 * min(counts)


def test_maybe_size_rebalance_noop_on_uniform(spark):
    from gbdc_spark.operators.partitioning import maybe_size_rebalance

    df = spark.createDataFrame(
        [(f"d{i}", 100 + i % 7) for i in range(400)], "doc_id string, n_tok int"
    )
    assert maybe_size_rebalance(df, sample_frac=1.0) is df  # no shuffle added


def test_maybe_size_rebalance_triggers_and_balances_on_pareto(spark):
    """Zipf-heavy corpus: the auto gate fires and the striped layout's
    per-partition token totals beat hash partitioning's straggler tail
    (deterministic token-mass metric, no timing)."""
    from pyspark.sql import functions as F

    from gbdc_spark.operators.partitioning import maybe_size_rebalance

    rows = []
    for i in range(4000):
        u = ((i * 2654435761 + 99) % (2**31)) / float(2**31)
        size = int(min(60 * (1.0 - u) ** (-1.0 / 1.0), 100_000))
        rows.append((f"d{i:05d}", size))
    df = spark.createDataFrame(rows, "doc_id string, n_tok int").repartition(
        16, "doc_id"
    )
    out = maybe_size_rebalance(df, sample_frac=1.0, partitions=16)
    assert out is not df  # gate fired

    def tail(d):
        parts = sorted(
            r["t"]
            for r in d.select(F.spark_partition_id().alias("p"), "n_tok")
            .groupBy("p").agg(F.sum("n_tok").alias("t")).collect()
        )
        return parts[-1] / parts[len(parts) // 2]

    assert tail(out) < tail(df)  # striping drops the tail...
    assert tail(out) < 1.5       # ...to near the single-doc floor
    # same rows either way
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in df.collect()
    )


def test_extract_all_values_unchanged_by_rebalance(spark):
    import pandas as pd

    from gbdc_spark.operators.extract import extract_all

    rows = []
    for i in range(120):
        n = 20 if i % 11 else 4000  # skewed
        toks = ([1, -2, 3, 0] * (n // 4))[:n]
        if toks[-1] != 0:
            toks.append(0)
        rows.append(("d%03d" % i, toks, len(toks), "s"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    a = (
        extract_all(df, rebalance=False)
        .drop("runtime_s", "tokens")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        extract_all(df, rebalance=True)
        .drop("runtime_s", "tokens")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_maybe_size_rebalance_noop_when_key_absent(spark):
    # auto-gate must degrade to identity on a renamed key column, not
    # raise from inside size_bucketed (with_gate_features defaults to auto)
    from gbdc_spark.operators.partitioning import maybe_size_rebalance

    df = spark.range(0, 2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("renamed_id"),
        F.when(F.col("id") < 10, 100000).otherwise(5).alias("n_tok"),
    )
    assert maybe_size_rebalance(df, sample_frac=1.0) is df


def test_write_bucketed_join_has_no_shuffle(spark, tmp_path):
    from pyspark.sql import functions as F

    from gbdc_spark.operators.partitioning import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        write_bucketed(a, "bkt_a", "k", 8)
        write_bucketed(b, "bkt_b", "k", 8)
        ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
        j = ta.join(tb, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: NO shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        got = {(r["k"], r["va"], r["vb"]) for r in j.collect()}
        assert got == {(i, 2 * i, 3 * i) for i in range(2000)}

        # per-key aggregation on the bucket key also skips the exchange
        agg = ta.groupBy("k").agg(F.sum("va"))
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan

        # a mismatched bucket count would re-shuffle one side: document
        # the contract by writing 4 buckets and checking the join of
        # 8-vs-4 still returns correct rows (Spark exchanges one side)
        write_bucketed(b, "bkt_b4", "k", 4)
        j2 = ta.join(spark.table("bkt_b4"), "k")
        assert j2.count() == 2000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("bkt_a", "bkt_b", "bkt_b4"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    with pytest.raises(ValueError):
        write_bucketed(a, "bkt_bad", "k", 0)
