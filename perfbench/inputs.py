"""Seeded benchmark inputs, written to parquet once per (workload, seed).

Every value is drawn from ``numpy.random.default_rng((salt, seed))`` where
``salt`` names the workload, so the same seed always yields the same
files and two workloads never share a random stream. Nothing here starts
Spark: inputs are plain pyarrow tables, so generating them is never part
of a timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC
DAY = 86_400
VOCAB = 50_257
SOURCES = np.array(["web", "book", "code", "wiki"])
FILES_PER_TABLE = 4  # one scan task per file

# Row counts per workload. Both are small: on a 4-vCPU host most of an
# iteration is per-job overhead, and a whole run (JVM start, warm-up and
# one timed window) must stay near 45 s so the full seed sweep fits its
# time limit. The inputs and their DuckDB digest build in a few seconds.
SIZES = {
    "pit_train_uniform": {"docs": 6_000, "versions": 6, "spine": 60_000, "documents": 600},
    "store_roundtrip": {
        "docs": 3_000, "hot_versions": 2_000, "spine": 20_000, "hot_spine": 150, "lookups": 10_000,
    },
}
_SALT = {name: i + 1 for i, name in enumerate(SIZES)}
TS = pa.timestamp("us", tz="UTC")

# The word distribution of the repository's sf0.1 documents table: 30
# words drawn uniformly, 10-100 words per document.
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng((_SALT[workload], seed))


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_S + seconds.astype(np.int64)) * 1_000_000, pa.int64()).cast(TS)


def _ids(prefix: str, idx: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(idx.astype(str), 8))


def _token_lists(rng: np.random.Generator, n_tok: np.ndarray) -> pa.Array:
    flat = rng.integers(0, VOCAB, int(n_tok.sum()), dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))


def _unique_rows(keys: np.ndarray, secs: np.ndarray) -> np.ndarray:
    """Indices of the first row of every distinct (key, second) pair."""
    _, first = np.unique(keys.astype(np.int64) * (1 << 26) + secs, return_index=True)
    return np.sort(first)


def _versioned(rng, doc_idx, secs, *, backfill_frac, tokens=True, max_tok=128):
    """Feature rows for (doc, second) pairs plus a backfill slice that
    repeats an event time with a later created time and new values, so
    only the created tie-break picks the right row."""
    n = len(doc_idx)
    n_bf = int(n * backfill_frac)
    bf = rng.choice(n, n_bf, replace=False)
    doc_idx = np.concatenate([doc_idx, doc_idx[bf]])
    secs = np.concatenate([secs, secs[bf]])
    created = secs + rng.integers(1, 7200, len(secs))
    created[n:] += 3 * DAY
    n_tok = rng.integers(1, max_tok + 1, len(secs)).astype(np.int32)
    cols = {
        "doc_id": pa.array(_ids("doc_", doc_idx)),
        "event_timestamp": _ts(secs),
        "created": _ts(created),
        "n_tok": pa.array(n_tok),
        "source": pa.array(SOURCES[rng.integers(0, 4, len(secs))]),
    }
    if tokens:
        cols["tokens"] = _token_lists(rng, n_tok)
    table = pa.table(cols)
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _spine(rng, doc_idx, secs, ghosts):
    keep = _unique_rows(doc_idx, secs)
    ids = _ids("doc_", doc_idx[keep])
    ids[ghosts[keep]] = _ids("ghost_", doc_idx[keep][ghosts[keep]])
    table = pa.table({"doc_id": pa.array(ids), "event_timestamp": _ts(secs[keep])})
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _pit_train_uniform(rng):
    s = SIZES["pit_train_uniform"]
    n, v = s["docs"], s["versions"]
    # one version per 56-hour slot: distinct event times per doc over 14 days
    slot = 14 * 24 // v
    hours = np.arange(v) * slot + rng.integers(0, slot, (n, v))
    secs = (hours * 3600 + rng.integers(0, 3600, (n, v))).ravel()
    feats = _versioned(rng, np.repeat(np.arange(n), v), secs, backfill_frac=0.15)
    m = s["spine"]
    ghosts = rng.random(m) < 0.05
    doc_idx = rng.integers(0, n, m)
    spine_secs = rng.integers(-DAY, 17 * DAY, m)
    return {
        "features": feats,
        "spine": _spine(rng, doc_idx, spine_secs, ghosts),
        "documents": _documents(rng, s["documents"]),
    }


def _store_roundtrip(rng):
    """A 15-day token view (Zipf versions per doc plus one hot doc), a
    numeric stats view, an entityless daily view, a Zipf spine and a
    batch of online lookup keys."""
    s = SIZES["store_roundtrip"]
    n = s["docs"]
    per_doc = 2 + np.minimum(rng.zipf(1.6, n), 30)
    doc_idx = np.repeat(np.arange(n), per_doc)
    secs = rng.integers(0, 15 * DAY, len(doc_idx))
    hot = n  # the hot doc is doc index n
    hot_secs = rng.choice(15 * DAY, s["hot_versions"], replace=False)
    doc_idx = np.concatenate([doc_idx, np.full(len(hot_secs), hot)])
    secs = np.concatenate([secs, hot_secs])
    keep = _unique_rows(doc_idx, secs)
    tokens = _versioned(rng, doc_idx[keep], secs[keep], backfill_frac=0.10)
    # numeric stats every 6 hours for every other doc
    stat_docs = np.arange(0, n, 2)
    stat_secs = np.arange(0, 15 * DAY, 6 * 3600)
    sd = np.repeat(stat_docs, len(stat_secs))
    ss = np.tile(stat_secs, len(stat_docs)) + rng.integers(0, 6 * 3600, len(sd))
    stats = pa.table({
        "doc_id": pa.array(_ids("doc_", sd)),
        "event_timestamp": _ts(ss),
        "view_count": pa.array(rng.integers(0, 1000, len(sd)).astype(np.int32)),
        "quality_score": pa.array(rng.random(len(sd)).astype(np.float32)),
    })
    days = np.arange(15)
    glob = pa.table({
        "total_docs": pa.array(rng.integers(1000, 5000, len(days)), pa.int64()),
        "event_timestamp": _ts(days * DAY),
        "created": _ts(days * DAY + 3600),
    })
    m = s["spine"]
    rank = rng.zipf(1.3, m) - 1
    spine_doc = np.where(rank < n, rank, rng.integers(0, n, m))
    spine_doc[rng.choice(m, s["hot_spine"], replace=False)] = hot
    ghosts = (rng.random(m) < 0.05) & (spine_doc != hot)
    spine = _spine(rng, spine_doc, rng.integers(0, 15 * DAY, m), ghosts)
    k = s["lookups"]
    look = np.where(
        rng.random(k) < 0.1, _ids("ghost_", rng.integers(0, n, k)), _ids("doc_", rng.integers(0, n + 1, k))
    )
    lookups = pa.table({"doc_id": pa.array(look)})
    return {"tokens": tokens, "stats": stats, "global": glob, "spine": spine, "lookups": lookups}


def _lexicon() -> np.ndarray:
    """The sf0.1 words plus words recombined from the tokenizer's own
    prefix and suffix pieces, so every word tokenizes without UNK."""
    from feast_spark.pipeline.tokenize import _PREFIXES, _SUFFIXES

    made = sorted({p + s[2:] for p in _PREFIXES for s in _SUFFIXES} - set(WORDS))
    return np.concatenate([WORDS, made])


def _documents(rng, n: int) -> pa.Table:
    """``n`` documents recombined from the sf0.1 shape: 10-100 words drawn
    Zipf-like from a ~1200-word lexicon, 6% near-duplicates (one word
    replaced in a copy of a long document) and 10% documents carrying
    one of 20 shared 24-word boilerplate runs."""
    lex = _lexicon()
    weights = 1.0 / np.arange(1, len(lex) + 1)
    weights /= weights.sum()
    lens = rng.integers(10, 101, n)
    docs = [lex[rng.choice(len(lex), L, p=weights)] for L in lens]
    boiler = [lex[rng.choice(len(lex), 24, p=weights)] for _ in range(20)]
    for i in rng.choice(n, n // 10, replace=False):
        at = rng.integers(0, len(docs[i]) + 1)
        docs[i] = np.concatenate([docs[i][:at], boiler[rng.integers(0, 20)], docs[i][at:]])
    long_docs = np.flatnonzero(lens >= 40)
    for i in rng.choice(n, int(n * 0.06), replace=False):
        src = docs[rng.choice(long_docs)].copy()
        src[rng.integers(0, len(src))] = "dup"
        docs[i] = src
    text = np.array([" ".join(d) for d in docs])
    doc_id = rng.permutation(n).astype(np.int64)
    return pa.table({
        "doc_id": pa.array(doc_id),
        "text": pa.array(text),
        "lang": pa.array(np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]),
        "source": pa.array(np.char.add("src", (doc_id % 5).astype(str))),
        "n_chars": pa.array(np.char.str_len(text).astype(np.int64)),
    })


GENERATORS = {
    "pit_train_uniform": _pit_train_uniform,
    "store_roundtrip": _store_roundtrip,
}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table as FILES_PER_TABLE parquet files under
    ``out_dir/<name>/``; returns name → directory."""
    paths = {}
    for name, table in tables.items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // FILES_PER_TABLE)
        for i in range(0, max(table.num_rows, 1), max(step, 1)):
            pq.write_table(table.slice(i, step), os.path.join(d, f"part-{i // step:03d}.parquet"))
        paths[name] = d
    return paths


def build(workload: str, seed: int, out_dir: str) -> dict[str, str]:
    """Generate the workload's tables into ``out_dir`` (replacing any
    partial earlier attempt) and return their directories."""
    shutil.rmtree(out_dir, ignore_errors=True)
    return write_tables(GENERATORS[workload](rng_for(workload, seed)), out_dir)
