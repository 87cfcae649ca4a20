"""DataFrame → DataFrame extraction stages.

Each stage mirrors one function of the reference's Python surface
(gbdlib.cc:317-336: gbdhash, isohash, extract_base_features, ...) as a
column-adding transformation backed by an Arrow-batched pandas UDF running
the shared numpy kernels — never per-row Python on the JVM side
(BASELINE.json input_hint).

The fused ``extract_all`` stage computes hash + isohash + 58 features +
per-doc runtime/status in ONE Arrow crossing per batch — the hot path of
the flagship pipeline.  Per-doc failures become status='error:...' rows
instead of task failures, the Spark analogue of the reference's
timeout/memout sentinel dicts (gbdlib.cc:106-111).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import cnf, gates, hashes, opb, transforms, wcnf
from ..schemas import (
    BASE_FEATURES_NAMES,
    OPB_BASE_FEATURES_NAMES,
    WCNF_BASE_FEATURES_NAMES,
    feature_struct,
)

__all__ = [
    "with_gbdhash",
    "with_isohash",
    "with_base_features",
    "with_wcnf_hashes",
    "with_wcnf_base_features",
    "with_opb_hash",
    "with_opb_base_features",
    "with_pqbf_hash",
    "with_gate_features",
    "sanitize",
    "normalize",
    "relabel_variables",
    "check_sanitized",
    "with_cnf2kis_counts",
    "cnf2kis_edges",
    "extract_all",
    "EXTRACT_ALL_FIELDS",
]


# --------------------------------------------------------------- hashes
@pandas_udf(T.StringType())
def _gbdhash_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: hashes.gbdhash_cnf(np.asarray(t, dtype=np.int64)))


@pandas_udf(T.StringType())
def _isohash_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: hashes.isohash_cnf(np.asarray(t, dtype=np.int64)))


def with_gbdhash(df: DataFrame, tokens_col: str = "tokens", out: str = "gbdhash") -> DataFrame:
    """CNF::gbdhash (GBDHash.h:30-50) as a column stage."""
    return df.withColumn(out, _gbdhash_udf(F.col(tokens_col)))


def with_isohash(df: DataFrame, tokens_col: str = "tokens", out: str = "isohash") -> DataFrame:
    """CNF::isohash (ISOHash.h:41-75) as a column stage."""
    return df.withColumn(out, _isohash_udf(F.col(tokens_col)))


@pandas_udf(T.StringType())
def _pqbf_hash_udf(payload: pd.Series) -> pd.Series:
    return payload.map(hashes.gbdhash_pqbf_text)


def with_pqbf_hash(df: DataFrame, payload_col: str = "payload", out: str = "pqbfhash") -> DataFrame:
    return df.withColumn(out, _pqbf_hash_udf(F.col(payload_col)))


# --------------------------------------------------------- base features
@pandas_udf(feature_struct(BASE_FEATURES_NAMES))
def _base_features_udf(tokens: pd.Series) -> pd.DataFrame:
    from ..kernels.cnf_batch import cnf_base_features_batch

    arrs = [np.asarray(t, dtype=np.int64) for t in tokens]
    try:
        # segmented whole-batch kernel (~2x the per-doc loop)
        feats = cnf_base_features_batch(arrs)
    except Exception:  # per-doc fallback isolates a pathological doc
        rows = [cnf.cnf_base_features(a) for a in arrs]
        feats = np.vstack(rows) if rows else np.zeros((0, 58))
    return pd.DataFrame(feats, columns=list(BASE_FEATURES_NAMES))


def with_base_features(df: DataFrame, tokens_col: str = "tokens", out: str = "features") -> DataFrame:
    """CNF::BaseFeatures — 58-field double struct (CNFBaseFeatures.h)."""
    return df.withColumn(out, _base_features_udf(F.col(tokens_col)))


_GATE_STRUCT = T.StructType(
    [T.StructField(n, T.DoubleType(), True) for n in gates.GATE_FEATURE_NAMES]
    + [T.StructField("gate_status", T.StringType(), True)]
)


@pandas_udf(_GATE_STRUCT)
def _gate_features_udf(tokens: pd.Series) -> pd.DataFrame:
    rows = []
    stats = []
    for t in tokens:
        try:
            feats, status = gates.gate_features_ex(np.asarray(t, dtype=np.int64))
            rows.append(feats)
            stats.append(status)
        except Exception as e:  # one pathological doc -> NaN row, not task death
            rows.append(np.full(len(gates.GATE_FEATURE_NAMES), np.nan))
            stats.append(f"error:{type(e).__name__}")
    out = pd.DataFrame(np.vstack(rows) if rows else np.zeros((0, 56)),
                       columns=list(gates.GATE_FEATURE_NAMES))
    out["gate_status"] = pd.Series(stats, dtype=object)
    return out


def with_gate_features(df: DataFrame, tokens_col: str = "tokens",
                       out: str = "gate_features",
                       rebalance: bool | str = "auto") -> DataFrame:
    """CNFGateFeatures — 56-field double struct (CNFGateFeatures.h:41-160)
    plus a ``gate_status`` field: ``ok:<sat-backend>``,
    ``budget_exhausted:dpll`` (GENERIC may undercount — flagged, never
    silent) or ``error:<type>`` (per-doc failure became a NaN row; a
    systematic kernel regression shows up as a column of errors instead
    of silently all-NaN features).

    Gate analysis is stateful and sequential per doc (GateAnalyzer.h BFS +
    occurrence-list mutation); it distributes ACROSS docs.  Its cost is
    super-linear in doc size, so giant docs straggle, and by default
    (``rebalance="auto"``, unlike ``extract_all``) a one-pass quantile
    probe stripes skewed corpora with ``partitioning.size_bucketed``
    and leaves uniform ones untouched; pass False to pin the incoming
    partitioning or True to force the stripe.
    """
    df = _apply_rebalance(df, rebalance)
    return df.withColumn(out, _gate_features_udf(F.col(tokens_col)))


# ------------------------------------------------------------------ WCNF
@pandas_udf(T.StringType())
def _wcnf_hash_udf(weights: pd.Series, top: pd.Series, tokens: pd.Series) -> pd.Series:
    return pd.Series(
        [hashes.gbdhash_wcnf(w, int(t), np.asarray(tk, dtype=np.int64))
         for w, t, tk in zip(weights, top, tokens)]
    )


@pandas_udf(T.StringType())
def _wcnf_isohash_udf(weights: pd.Series, top: pd.Series, tokens: pd.Series) -> pd.Series:
    return pd.Series(
        [hashes.isohash_wcnf(w, int(t), np.asarray(tk, dtype=np.int64))
         for w, t, tk in zip(weights, top, tokens)]
    )


def with_wcnf_hashes(df: DataFrame) -> DataFrame:
    """WCNF::gbdhash + WCNF::isohash over (weights, top, tokens)."""
    return df.withColumn(
        "wcnfhash", _wcnf_hash_udf(F.col("weights"), F.col("top"), F.col("tokens"))
    ).withColumn(
        "wcnfisohash", _wcnf_isohash_udf(F.col("weights"), F.col("top"), F.col("tokens"))
    )


@pandas_udf(feature_struct(WCNF_BASE_FEATURES_NAMES))
def _wcnf_features_udf(weights: pd.Series, top: pd.Series, tokens: pd.Series) -> pd.DataFrame:
    rows = [
        wcnf.wcnf_base_features(w, int(t), np.asarray(tk, dtype=np.int64))
        for w, t, tk in zip(weights, top, tokens)
    ]
    return pd.DataFrame(np.vstack(rows) if rows else np.zeros((0, 73)),
                        columns=list(WCNF_BASE_FEATURES_NAMES))


def with_wcnf_base_features(df: DataFrame, out: str = "features") -> DataFrame:
    return df.withColumn(out, _wcnf_features_udf(F.col("weights"), F.col("top"), F.col("tokens")))


# ------------------------------------------------------------------- OPB
@pandas_udf(T.StringType())
def _opb_hash_udf(payload: pd.Series) -> pd.Series:
    return payload.map(hashes.gbdhash_opb_text)


@pandas_udf(feature_struct(OPB_BASE_FEATURES_NAMES))
def _opb_features_udf(payload: pd.Series) -> pd.DataFrame:
    rows = [opb.opb_base_features(p) for p in payload]
    return pd.DataFrame(np.vstack(rows) if rows else np.zeros((0, 17)),
                        columns=list(OPB_BASE_FEATURES_NAMES))


def with_opb_hash(df: DataFrame, payload_col: str = "payload", out: str = "opbhash") -> DataFrame:
    return df.withColumn(out, _opb_hash_udf(F.col(payload_col)))


def with_opb_base_features(df: DataFrame, payload_col: str = "payload", out: str = "features") -> DataFrame:
    return df.withColumn(out, _opb_features_udf(F.col(payload_col)))


# ------------------------------------------------------------ transformers
_INT_ARRAY = T.ArrayType(T.IntegerType())


@pandas_udf(_INT_ARRAY)
def _sanitize_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: transforms.sanitize_tokens(np.asarray(t, dtype=np.int64)))


@pandas_udf(_INT_ARRAY)
def _relabel_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: transforms.normalize_variable_names(np.asarray(t, dtype=np.int64)))


@pandas_udf(T.BooleanType())
def _check_sanitized_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: transforms.check_sanitized(np.asarray(t, dtype=np.int64)))


def sanitize(df: DataFrame, tokens_col: str = "tokens", out: str | None = None) -> DataFrame:
    """Order-preserving sanitize (Normalize.h:80-120); in-place by default,
    so downstream stages and the content hash see the transformed doc —
    like the reference's stdout pipeline."""
    return df.withColumn(out or tokens_col, _sanitize_udf(F.col(tokens_col)))


def relabel_variables(df: DataFrame, tokens_col: str = "tokens", out: str | None = None) -> DataFrame:
    return df.withColumn(out or tokens_col, _relabel_udf(F.col(tokens_col)))


def check_sanitized(df: DataFrame, tokens_col: str = "tokens", out: str = "is_sanitized") -> DataFrame:
    return df.withColumn(out, _check_sanitized_udf(F.col(tokens_col)))


def normalize(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """normalize (Normalize.h:54-71): tokens are already comment-free, so
    this stage just recomputes the header metadata — pure JVM-side
    expressions, no Python (stays inside whole-stage codegen)."""
    t = F.col(tokens_col)
    return (
        df.withColumn("n_vars", F.coalesce(F.array_max(F.transform(t, F.abs)), F.lit(0)))
        .withColumn(
            "n_clauses",
            F.aggregate(t, F.lit(0), lambda acc, x: acc + F.when(x == 0, 1).otherwise(0))
            + F.when((F.size(t) > 0) & (F.element_at(t, -1) != 0), 1).otherwise(0),
        )
    )


@pandas_udf(T.StructType([
    T.StructField("nodes", T.LongType()),
    T.StructField("edges", T.LongType()),
    T.StructField("k", T.LongType()),
]))
def _cnf2kis_udf(tokens: pd.Series) -> pd.DataFrame:
    rows = [transforms.cnf2kis_counts(np.asarray(t, dtype=np.int64)) for t in tokens]
    return pd.DataFrame(rows, columns=["nodes", "edges", "k"])


def with_cnf2kis_counts(df: DataFrame, tokens_col: str = "tokens", out: str = "kis") -> DataFrame:
    """cnf2kis size metadata (IndependentSet.h:41-58).  Edge *generation*
    multiplies data size, so it is exposed separately (explode on demand);
    the counts are what gbdlib returns (gbdlib.cc:249-298)."""
    return df.withColumn(out, _cnf2kis_udf(F.col(tokens_col)))


def cnf2kis_edges(df: DataFrame, key: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """Exploded k-ISP edge list (key, a, b) — the explode-on-demand side
    of cnf2kis (IndependentSet.h:72-113): edges multiply data size, so
    generation happens inside the worker and only when asked for."""
    from collections.abc import Iterator as _It

    def run(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for k, t in zip(pdf[key], pdf[tokens_col]):
                e = transforms.cnf2kis_edges(np.asarray(t, dtype=np.int64))
                frames.append(pd.DataFrame({key: k, "a": e[:, 0], "b": e[:, 1]}))
            yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                columns=[key, "a", "b"]
            )

    return df.select(key, tokens_col).mapInPandas(run, schema=f"{key} string, a long, b long")


# ----------------------------------------------------- fused hot path
EXTRACT_ALL_FIELDS = (
    ["gbdhash", "isohash"] + list(BASE_FEATURES_NAMES) + ["runtime_s", "status"]
)


def _extract_all_schema(input_schema: T.StructType) -> T.StructType:
    fields = [f for f in input_schema.fields]
    fields += [T.StructField("gbdhash", T.StringType()), T.StructField("isohash", T.StringType())]
    fields += [T.StructField(n, T.DoubleType()) for n in BASE_FEATURES_NAMES]
    fields += [T.StructField("runtime_s", T.DoubleType()), T.StructField("status", T.StringType())]
    return T.StructType(fields)


def _apply_rebalance(df: DataFrame, rebalance: bool | str) -> DataFrame:
    """Shared straggler gate for the per-doc extraction stages."""
    from .partitioning import maybe_size_rebalance, size_bucketed

    if rebalance == "auto":
        return maybe_size_rebalance(df)
    if rebalance is True:
        return size_bucketed(df) if "n_tok" in df.columns else df
    return df


def extract_all(df: DataFrame, tokens_col: str = "tokens",
                rebalance: bool | str = False) -> DataFrame:
    """Fused per-doc extraction: gbdhash + isohash + 58 base features +
    runtime_s + status in one mapInPandas stage (one Arrow crossing).

    By default (``rebalance=False``) extraction runs on its input's own
    partitioning — the scan's byte-bounded file splits, or
    ``ensure_parallelism``'s split for a single-file source — so
    building the plan launches no Spark job and adds no shuffle.
    Striping is the caller's explicit choice (north_rule: explicit skew
    handling for heavy sources): ``rebalance=True`` always stripes with
    ``partitioning.size_bucketed``; ``"auto"`` runs the
    ``partitioning.maybe_size_rebalance`` quantile probe and stripes
    only a Zipf-heavy ``n_tok`` distribution.  Striping moves rows
    between partitions and never changes a value."""
    df = _apply_rebalance(df, rebalance)
    out_schema = _extract_all_schema(df.schema)
    n_feat = len(BASE_FEATURES_NAMES)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.cnf_batch import cnf_base_features_batch

        for pdf in batches:
            n = len(pdf)
            ghash = np.empty(n, dtype=object)
            ihash = np.empty(n, dtype=object)
            feats = np.full((n, n_feat), np.nan)
            runtime = np.zeros(n)
            status = np.full(n, "ok", dtype=object)
            arrs: list[np.ndarray] = []
            for i, t in enumerate(pdf[tokens_col].values):
                t0 = time.process_time()
                try:
                    arr = np.asarray(t, dtype=np.int64)
                    ghash[i] = hashes.gbdhash_cnf(arr)
                    ihash[i] = hashes.isohash_cnf(arr)
                except Exception as e:  # sentinel row, never a task failure
                    status[i] = f"error:{type(e).__name__}"
                    arr = np.zeros(0, dtype=np.int64)
                arrs.append(arr)
                runtime[i] = time.process_time() - t0
            # features for the WHOLE batch in segmented numpy ops (2x the
            # per-doc kernel); per-doc loop only as the error fallback
            tf0 = time.process_time()
            try:
                feats = cnf_base_features_batch(arrs)
            except Exception:
                for i, arr in enumerate(arrs):
                    try:
                        feats[i] = cnf.cnf_base_features(arr)
                    except Exception as e:
                        status[i] = f"error:{type(e).__name__}"
            t_feat = time.process_time() - tf0
            # apportion the batch time by doc size (feeds skew diagnostics)
            tok_n = np.asarray([a.size for a in arrs], dtype=np.float64)
            total = tok_n.sum()
            runtime += t_feat * (tok_n / total if total else 1.0 / max(n, 1))
            bad = status != "ok"
            if bad.any():
                feats[bad] = np.nan  # error rows stay NaN, as before
            out = pdf.copy()
            out["gbdhash"] = ghash
            out["isohash"] = ihash
            for j, name in enumerate(BASE_FEATURES_NAMES):
                out[name] = feats[:, j]
            out["runtime_s"] = runtime
            out["status"] = status
            yield out

    return df.mapInPandas(run, schema=out_schema)
