"""spark-submit entry point (north_rule: "runs via spark-submit
--py-files on a multi-executor cluster").

Package and launch::

    python tools/package.py                       # -> dist/gbdc_spark.zip
    spark-submit --py-files dist/gbdc_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        -m gbdc_spark.job -- \\
        --input  /path/sequences   --snapshots /path/snapshots \\
        --output /path/features    --resume

On a cluster the session comes from the environment (no ``master`` is
forced); locally ``--local-cores N`` gives ``local[N]``.  Output is
committed through operators/checkpoint.py: an interrupted run re-launched
with ``--resume`` computes only the missing doc_id x ingest_ts keys and
appends them as the next snapshot with per-partition lineage metrics.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_session(app: str, local_cores: int | None):
    from pyspark.sql import SparkSession

    if local_cores:
        from .session import get_spark

        return get_spark(app_name=app, cores=local_cores)
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # executor-visible env vars (e.g. the SAT backend choice) travel
    # via executorEnv on real clusters — shared list in session.py
    from .session import forward_executor_env

    return forward_executor_env(b).getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="gbdc_spark.job")
    ap.add_argument("--input", required=True, help="sequences table (parquet dir)")
    ap.add_argument("--snapshots", required=True, help="prior-snapshot table (parquet dir)")
    ap.add_argument("--output", required=True, help="checkpointed feature table base dir")
    ap.add_argument("--resume", action="store_true",
                    help="anti-join committed keys and append only the delta")
    ap.add_argument("--local-cores", type=int, default=None)
    ap.add_argument("--size-bucketing", action="store_true",
                    help="stripe docs over partitions by n_tok before extraction "
                         "(partitioning.size_bucketed: probe jobs plus a shuffle); "
                         "off by default, extraction then keeps the input's splits")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from .operators import checkpoint as cp
    from .operators import partitioning as pt
    from .plans.flagship import feature_pipeline

    owns_session = SparkSession.getActiveSession() is None
    spark = build_session("gbdc-flagship", args.local_cores)
    seqs = spark.read.parquet(args.input)
    snaps = spark.read.parquet(args.snapshots)

    keys = ["doc_id", "ingest_ts"]
    if args.resume:
        seqs = cp.resume_filter(seqs, args.output, keys)
    if args.size_bucketing:
        seqs = pt.size_bucketed(seqs, "n_tok")

    # extraction does not stripe on its own, so a striped input is
    # striped exactly once
    features = feature_pipeline(seqs, snaps)
    # runtime_s is measured wall-clock -> excluded from the drift hash
    entry = cp.commit(
        features, args.output, keys=keys,
        hash_cols=[c for c in features.columns if c != "runtime_s"],
    )
    print(json.dumps(entry))
    if owns_session:  # embedded callers (tests, notebooks) keep theirs
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
