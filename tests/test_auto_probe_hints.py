"""The auto-routing operators run small probe ACTIONS (count / first)
at plan-build time unless the caller supplies the answer.  These tests
pin the contract that the size-hint kwargs really do skip the probes:
building the plan with hints must launch ZERO Spark jobs (tracked via a
dedicated job group), and the hinted plan must produce the same rows as
the probing one.  The flagship plan probes nothing unless asked: its
extraction stripes only on an explicit ``rebalance``.
"""

from __future__ import annotations

import pytest
from jobaudit import jobs_during
from pyspark.sql import functions as F

from gbdc_spark.operators import dedup, extract, packing
from gbdc_spark.plans.flagship import feature_pipeline, run_flagship
from gbdc_spark.sources import tables


@pytest.fixture()
def packs(spark):
    rows = [(i, f"s{i % 3}", 10 + i % 7) for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, source string, n_tok int")


@pytest.fixture()
def labeled(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(90)]
    return spark.createDataFrame(rows, "vec_id long, label string")


@pytest.fixture()
def vecs(spark):
    rows = [(i, [float(i % 5), float((i * 7) % 11), 1.0]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pack_auto_hint_skips_probe(spark, packs):
    n, _ = jobs_during(
        spark,
        lambda: packing.pack_next_fit_auto(
            packs, 64, by="source", max_group_rows=20
        ),
    )
    assert n == 0
    # and without the hint the router really does probe
    n_probe, _ = jobs_during(
        spark, lambda: packing.pack_next_fit_auto(packs, 64, by="source")
    )
    assert n_probe >= 1


def test_pack_auto_hint_routes_and_matches(spark, packs):
    base = packing.pack_next_fit(packs, 64, by="source").collect()
    for hint, kw in ((20, {}), (10_000_000, {"chunk_width": 16})):
        got = packing.pack_next_fit_auto(
            packs, 64, by="source", max_group_rows=hint, **kw
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, base))


def test_label_balance_hint_skips_probe(spark, labeled):
    # per_class pins the target so the only plan-build action is the
    # auto-gate probe; max_label_rows must remove it
    n, _ = jobs_during(
        spark,
        lambda: packing.label_balance(
            labeled, per_class=10, max_label_rows=60
        ),
    )
    assert n == 0
    n_probe, _ = jobs_during(
        spark, lambda: packing.label_balance(labeled, per_class=10)
    )
    assert n_probe >= 1


def test_label_balance_hint_routes_and_matches(spark, labeled):
    plain = packing.label_balance(labeled, per_class=10, bucketed=False)
    for hint in (60, 10_000_000):
        got = packing.label_balance(
            labeled, per_class=10, max_label_rows=hint
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, plain.collect())
        )


def test_embedding_near_dups_hints_skip_probes(spark, vecs):
    n, _ = jobs_during(
        spark,
        lambda: dedup.embedding_near_dups(
            vecs, threshold=0.9, n_rows=40, dim=3
        ),
    )
    assert n == 0
    n_probe, _ = jobs_during(
        spark, lambda: dedup.embedding_near_dups(vecs, threshold=0.9)
    )
    assert n_probe >= 1


def test_embedding_near_dups_hints_match_probed(spark, vecs):
    probed = dedup.embedding_near_dups(vecs, threshold=0.9).collect()
    hinted = dedup.embedding_near_dups(
        vecs, threshold=0.9, n_rows=40, dim=3
    ).collect()
    assert sorted(map(tuple, hinted)) == sorted(map(tuple, probed))


def test_feature_pipeline_build_launches_no_job(spark, tmp_path):
    seq_dir, snap_dir = str(tmp_path / "seq"), str(tmp_path / "snap")
    tables.synth_sequences_df(spark, 200, seed=5).write.parquet(seq_dir)
    tables.synth_snapshots_df(spark, 200, seed=5).write.parquet(snap_dir)
    seqs, snaps = spark.read.parquet(seq_dir), spark.read.parquet(snap_dir)
    n, _ = jobs_during(spark, lambda: feature_pipeline(seqs, snaps))
    assert n == 0
    # striping stays available on request, and the auto gate probes
    n_probe, _ = jobs_during(
        spark, lambda: extract.extract_all(seqs, rebalance="auto")
    )
    assert n_probe >= 1


def test_run_flagship_build_runs_only_the_schema_read(spark, tmp_path):
    words = F.array_repeat(F.lit("ab cde f"), (F.col("id") % 7 + 1).cast("int"))
    spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", words).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    n, _ = jobs_during(spark, lambda: run_flagship(spark, str(tmp_path)))
    assert n == 1  # the parquet schema read of the documents table
