"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of its seed: the same seed writes
byte-identical parquet files, a different seed writes different ones.
The program under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
N_SOURCES = 20
PARTS = 8  # files per table, like a small Spark-written dataset

_WORDS = (
    "a batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window agg"
).split()

TS = pa.timestamp("us", tz="UTC")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str, parts: int = PARTS) -> None:
    """Write ``table`` as ``parts`` contiguous files under ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="snappy",
        )


def _zipf(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from a Zipf(s) law over ``n`` ranks, ranks shuffled
    to ids so the hot ids differ per seed."""
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    p /= p.sum()
    return rng.permutation(n)[rng.choice(n, size=size, p=p)]


# ------------------------------------------------------------ flagship_docs
def flagship_docs(out: str, seed: int, n_docs: int = 5000) -> dict:
    """``documents`` table in the layout of the repo's test data: ``n_docs``
    uniform documents of 10-100 words (12-125 tokens once tokenized),
    sources assigned uniformly.  Returns the input row count."""
    rng = _rng(seed, 1)
    n_words = rng.integers(10, 101, size=n_docs)
    vocab = np.array(_WORDS)
    words = vocab[rng.integers(0, len(vocab), size=int(n_words.sum()))]
    cuts = np.cumsum(n_words)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(np.array(["en", "de", "zh"])[rng.integers(0, 3, n_docs)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, N_SOURCES, n_docs)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "documents.parquet"), compression="snappy")
    return {"rows": n_docs}


# ------------------------------------------------------------------ job_cnf
def _cnf_tokens(rng: np.random.Generator, target: int) -> np.ndarray:
    """DIMACS token stream of about ``target`` tokens: clauses of
    1+Poisson(2) literals (at most 12), each closed by a 0."""
    n_vars = max(3, target // 12)
    sizes = np.minimum(1 + rng.poisson(2.0, size=target // 2 + 2), 12)
    n_cl = int(np.searchsorted(np.cumsum(sizes + 1), target)) + 1
    sizes = sizes[:n_cl]
    n_lit = int(sizes.sum())
    lits = rng.integers(1, n_vars + 1, size=n_lit) * rng.choice([-1, 1], size=n_lit)
    out = np.zeros(n_lit + n_cl, dtype=np.int32)
    mask = np.ones(out.size, dtype=bool)
    mask[np.cumsum(sizes + 1) - 1] = False
    out[mask] = lits
    return out


def job_cnf(out: str, seed: int, n_docs: int = 1000, new_frac: float = 0.1,
            tail_frac: float = 0.08) -> dict:
    """CNF corpus for the spark-submit job plus a resume batch.

    * ``corpus``: ``n_docs`` docs; body sizes lognormal around 480 tokens,
      a ``tail_frac`` heavy tail of 4k-10k tokens (p99/p50 well past the
      8x rebalance gate), sources Zipf(1.3) over 20.
    * ``corpus_plus``: the corpus plus ``new_frac`` new docs (the resume
      input; only the new docs must be computed).  New docs are drawn
      from the body, so the resume's rebalance probe, which samples only
      a few of them, decides the same way on every seed.
    * ``snapshots``: 0-5 per doc within +-10 min of ingest, unique
      timestamps per doc, one in six docs with a snapshot exactly at
      ingest (a tie the strict as-of join must not match).

    The multiset of doc sizes is the same for every seed (drawn from a
    fixed stream, then shuffled by the seed), so seeds change which docs
    are large and every literal, but not the total work.
    """
    rng = _rng(seed, 2)
    fixed = _rng(0, 2)
    n_new = int(round(n_docs * new_frac))
    n_all = n_docs + n_new
    n_tail = int(round(n_docs * tail_frac))
    body = np.exp(fixed.normal(np.log(480), 0.6, size=n_all - n_tail)).astype(int) + 4
    tail = fixed.integers(4000, 10001, size=n_tail)
    sizes = np.concatenate([rng.permutation(np.concatenate([body[:n_docs - n_tail], tail])),
                            body[n_docs - n_tail:]])
    toks = [_cnf_tokens(rng, int(s)) for s in sizes]
    offsets = np.concatenate([[0], np.cumsum([t.size for t in toks])]).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(np.concatenate(toks)))
    ingest = BASE_US + np.arange(n_all, dtype=np.int64) * 60_000_000 + rng.integers(
        0, 30_000_000, size=n_all)
    doc_id = np.array([f"doc{i:08d}" for i in range(n_all)])
    src_p = np.arange(1, N_SOURCES + 1, dtype=np.float64) ** -1.3
    source = np.array([f"source_{s}" for s in rng.choice(N_SOURCES, size=n_all, p=src_p / src_p.sum())])
    plus = pa.table({
        "doc_id": pa.array(doc_id),
        "tokens": tokens,
        "n_tok": pa.array(np.array([t.size for t in toks], dtype=np.int32)),
        "source": pa.array(source),
        "ingest_ts": pa.array(ingest, TS),
    })
    _write(plus.slice(0, n_docs), os.path.join(out, "corpus"))
    _write(plus, os.path.join(out, "corpus_plus"))

    n_snap = rng.integers(0, 6, size=n_all)
    owner = np.repeat(np.arange(n_all), n_snap)
    # distinct offsets per doc: sample without replacement from a 1 s grid
    off = np.concatenate([rng.choice(1201, size=k, replace=False) - 600 for k in n_snap]).astype(np.int64)
    first = np.concatenate([[0], np.cumsum(n_snap)[:-1]])
    tie = (n_snap > 0) & (rng.random(n_all) < 1 / 6)
    # a tie doc gets offset 0 on its first snapshot unless another one has it
    for d in np.flatnonzero(tie):
        seg = off[first[d]: first[d] + n_snap[d]]
        if 0 not in seg:
            seg[0] = 0
    snap_ts = ingest[owner] + off * 1_000_000
    _write(pa.table({
        "doc_id": pa.array(doc_id[owner]),
        "snapshot_ts": pa.array(snap_ts, TS),
        "snapshot_id": pa.array(np.arange(owner.size, dtype=np.int64)),
        "prev_score": pa.array(rng.random(owner.size)),
    }), os.path.join(out, "snapshots"))
    return {"rows": n_docs, "corpus": n_docs, "new": n_new}


# --------------------------------------------------------------- asof_dense
def _unique_pairs(key: np.ndarray, ts: np.ndarray, span: int) -> tuple[np.ndarray, np.ndarray]:
    """Drop repeated (key, ts) pairs, keeping first occurrences in order."""
    _, keep = np.unique(key.astype(np.int64) * span + ts, return_index=True)
    keep.sort()
    return key[keep], ts[keep]


def _dict(idx: np.ndarray, values: pa.Array) -> pa.DictionaryArray:
    """String column stored as indices into ``values``."""
    return pa.DictionaryArray.from_arrays(pa.array(idx.astype(np.int32)), values)


def asof_dense(out: str, seed: int, n_left: int = 50_000, n_right: int = 500_000,
               n_keys: int = 2_500, days: int = 30) -> dict:
    """Feature rows (left) and snapshots (right), both keyed by doc_id
    with Zipf(1.1) skew, timestamps uniform over ``days``.

    Right timestamps are unique per key, so the strictly-prior match is
    unique and an external as-of join reproduces it exactly; 1% of the
    left rows copy a snapshot's key and timestamp (ties that a strict
    join must not match).  Left (doc_id, ingest_ts) pairs are unique.
    """
    rng = _rng(seed, 3)
    span = days * DAY_US
    rk = _zipf(rng, n_keys, n_right, 1.1)
    rts = rng.integers(0, span, size=n_right)
    rk, rts = _unique_pairs(rk, rts, span)

    lk = _zipf(rng, n_keys, n_left, 1.1)
    lts = rng.integers(0, span, size=n_left)
    ties = rng.random(n_left) < 0.01
    pick = rng.integers(0, rk.size, size=int(ties.sum()))
    lk[ties], lts[ties] = rk[pick], rts[pick]
    lk, lts = _unique_pairs(lk, lts, span)

    src_p = np.arange(1, N_SOURCES + 1, dtype=np.float64) ** -1.1
    keys = pa.array([f"k{i:06d}" for i in range(n_keys)])
    sources = pa.array([f"source_{s}" for s in range(N_SOURCES)])
    _write(pa.table({
        "row_id": pa.array(np.arange(lk.size, dtype=np.int64)),
        "doc_id": _dict(lk, keys),
        "ingest_ts": pa.array(BASE_US + lts, TS),
        "source": _dict(rng.choice(N_SOURCES, size=lk.size, p=src_p / src_p.sum()), sources),
        "clauses": pa.array(rng.integers(1, 5000, size=lk.size)),
    }), os.path.join(out, "left"))
    _write(pa.table({
        "doc_id": _dict(rk, keys),
        "snapshot_ts": pa.array(BASE_US + rts, TS),
        "snapshot_id": pa.array(np.arange(rk.size, dtype=np.int64)),
        "prev_score": pa.array(rng.random(rk.size)),
    }), os.path.join(out, "right"))
    return {"rows": int(lk.size), "right_rows": int(rk.size)}


GENERATORS = {"flagship_docs": flagship_docs, "job_cnf": job_cnf, "asof_dense": asof_dense}
