"""Dataset curation: deterministic sampling, mixture weighting, and
sequence packing for training-block assembly.

* ``deterministic_sample`` — hash-threshold sampling: a row is kept iff
  ``portable_hash64(id) mod M < frac*M``. Unlike ``df.sample`` this is
  a pure function of the row (reproducible across reruns, resumes,
  engines — DuckDB-oracle-checkable), composable per stratum for
  mixture weights, and requires no RNG state coordination at 10^12
  rows.
* ``mixture_weights`` — per-source sampling fractions from target
  mixture proportions.
* ``pack_sequences`` — greedy sequential packing of token sequences
  into fixed-budget training blocks per (source) stream: running
  cumulative token counts assign block ids in one window pass; block
  contents concatenate in deterministic (ts, id) order. The classic
  LLM pretraining "sequence packing" shape, expressed relationally.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feast_spark.pipeline.text import portable_hash64

_MOD = 1_000_000


def deterministic_sample(
    df: DataFrame,
    frac: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Keep ~``frac`` of rows, chosen by id hash (stable across runs;
    different ``salt`` values draw independent samples)."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt))
    return df.filter(F.pmod(portable_hash64(key), F.lit(_MOD)) < int(frac * _MOD))


def mixture_weights(
    counts: dict[str, int], target_props: dict[str, float], total: int
) -> dict[str, float]:
    """Per-stratum sampling fractions hitting ``target_props`` of
    ``total`` rows, capped at 1.0 (can't oversample without
    replication)."""
    out = {}
    for k, prop in target_props.items():
        want = prop * total
        have = counts.get(k, 0)
        out[k] = min(1.0, want / have) if have else 0.0
    return out


def replicated_sample(
    df: DataFrame,
    factor: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic UPSAMPLING by a (possibly fractional) factor ≥ 0:
    every row appears ``floor(factor)`` times, plus once more iff its
    hash clears the fractional threshold — so the expected multiplicity
    is exactly ``factor`` and the realized multiset is a pure function
    of the row id (rerun/resume-stable, no RNG). The complement of
    ``deterministic_sample`` for mixture weights > 1.0 (oversampling a
    small high-quality source). Adds ``copy_idx`` (0-based) so
    downstream shuffles can decorrelate copies. Explode of a
    per-row-computed sequence — no shuffle, codegen."""
    if factor < 0:
        raise ValueError("factor must be >= 0")
    base = int(factor)
    # round, don't truncate: 2.3 - 2 = 0.2999999999999998 would truncate
    # to threshold 299999 and disagree with an oracle computing
    # int(0.3 * 1e6) = 300000
    frac_thresh = round((factor - base) * _MOD)
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt), F.lit("#rep"))
    extra = (F.pmod(portable_hash64(key), F.lit(_MOD)) < F.lit(frac_thresh)).cast("int")
    n_copies = F.lit(base) + extra
    # NB: sequence(0, -1) infers step -1 and yields [0, -1]; the
    # zero-copy case must be an explicit empty array so explode drops it
    seq = F.when(n_copies > 0, F.sequence(F.lit(0), n_copies - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("copy_idx", F.explode(seq))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling (hash-threshold per stratum)."""
    key = F.concat(F.col(id_col).cast("string"), F.lit("#"), F.col(strata_col))
    thresh = None
    for stratum, frac in fractions.items():
        cond = (F.col(strata_col) == stratum) & (
            F.pmod(portable_hash64(key), F.lit(_MOD)) < int(frac * _MOD)
        )
        thresh = cond if thresh is None else (thresh | cond)
    return df.filter(thresh if thresh is not None else F.lit(False))


# coarse→fine refinement ladder for pack_sequences auto-sharding; units
# coarser than 'day' refine through day then hour before hash-splitting
_SHARD_LADDER_TAIL = {"day": ["hour"], "hour": []}

# working-column names _assign_adaptive_shard injects on the input frame
# (__l<i> truncation keys, __over<i> flags, __nsplit fan-out, __r*/__rt*
# renamed join keys) — reserved, see the guard in _assign_adaptive_shard
_RESERVED_SHARD_COLS = re.compile(
    r"^__(?:l\d+|over\d+|nsplit|r[a-z0-9]*_\d+|rt[a-z0-9]*)$"
)


def _shard_str(unit: str, col: Column) -> Column:
    """Render a date_trunc'd timestamp as the shard label: date string
    for day-or-coarser units (round-3-compatible), full timestamp string
    at hour granularity. NULL timestamps get a stable literal label —
    otherwise a null-ts over-threshold cell's hash-split suffix would
    concat to NULL and collapse every such row back into ONE group,
    re-creating the single-task serialization the ladder exists to
    prevent."""
    t = F.date_trunc(unit, col)
    s = t.cast("string") if unit == "hour" else t.cast("date").cast("string")
    return F.coalesce(s, F.lit("null-ts"))


def _assign_adaptive_shard(
    df: DataFrame,
    stream_cols: list,
    id_col: str,
    ts_col: str,
    max_rows: int,
    unit: str,
) -> DataFrame:
    """Inject the adaptive ``shard`` column (see pack_sequences docs).

    One probe shuffle at the finest ladder granularity; every coarser
    count derives from the probe result. Over-threshold decision tables
    are ≤ total_rows/max_rows entries each (an over cell holds > max_rows
    rows), eagerly localCheckpointed, and broadcast onto the data — the
    data itself is scanned once and never shuffled here."""
    # the withColumn/drop dance below injects working columns onto the
    # INPUT frame; an input that already carries one of these names
    # would silently corrupt shard assignment (ADVICE r04) — refuse,
    # mirroring pack_sequences' 'shard' guard
    clash = [c for c in df.columns if _RESERVED_SHARD_COLS.match(c)]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with adaptive-shard working "
            "columns (__l<i>/__over<i>/__nsplit/__r*) — rename them"
        )
    ladder = [unit] + _SHARD_LADDER_TAIL.get(unit, ["day", "hour"])
    fine = ladder[-1]
    counts = (
        df.groupBy(*stream_cols, F.date_trunc(fine, F.col(ts_col)).alias("__t"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    top = (
        counts.groupBy(*stream_cols)
        .agg(F.sum("__c").alias("__n"))
        .agg(F.max("__n").alias("m"))
        .first()
    )
    if not (top["m"] and top["m"] > max_rows):
        counts.unpersist()
        return df.withColumn("shard", F.lit(""))

    overs = []  # (unit, over-cells DataFrame keyed by stream_cols + __t)
    for u in ladder[:-1]:
        overs.append(
            (
                u,
                counts.groupBy(*stream_cols, F.date_trunc(u, "__t").alias("__t"))
                .agg(F.sum("__c").alias("__c"))
                .filter(F.col("__c") > max_rows)
                .select(*stream_cols, "__t")
                .localCheckpoint(eager=True),
            )
        )
    # finest level: over cells also carry the hash-split fan-out
    over_fine = (
        counts.filter(F.col("__c") > max_rows)
        .select(
            *stream_cols,
            "__t",
            F.ceil(F.col("__c") / F.lit(max_rows)).cast("int").alias("__nsplit"),
        )
        .localCheckpoint(eager=True)
    )
    counts.unpersist()

    # null-SAFE equality on every join key: date_trunc(NULL ts) is NULL
    # on both sides, and plain `on=` equality would never match it — a
    # giant null-ts stream would be flagged over-threshold by the probe
    # yet silently skip its over-cell row and still pack on one task.
    # The over side's keys are renamed so the condition is unambiguous.
    def _null_safe_left(out, right, time_key, extra_cols, tag):
        rnames = [f"__r{tag}_{j}" for j in range(len(stream_cols))]
        right = right.select(
            *[F.col(c).alias(r) for c, r in zip(stream_cols, rnames)],
            F.col("__t").alias(f"__rt{tag}"),
            *extra_cols,
        )
        cond = out[time_key].eqNullSafe(right[f"__rt{tag}"])
        for c, r in zip(stream_cols, rnames):
            cond = cond & out[c].eqNullSafe(right[r])
        return out.join(F.broadcast(right), on=cond, how="left").drop(
            *rnames, f"__rt{tag}"
        )

    out = df
    for i, (u, over) in enumerate(overs):
        key = f"__l{i}"
        out = out.withColumn(key, F.date_trunc(u, F.col(ts_col)))
        out = _null_safe_left(
            out, over, key, [F.lit(True).alias(f"__over{i}")], str(i)
        )
    fkey = f"__l{len(overs)}"
    out = out.withColumn(fkey, F.date_trunc(fine, F.col(ts_col)))
    out = _null_safe_left(out, over_fine, fkey, [F.col("__nsplit")], "f")
    # first level whose cell is NOT over the threshold wins; an hour cell
    # still over it hash-splits deterministically
    shard = F.concat(
        _shard_str(fine, F.col(ts_col)),
        F.lit("#"),
        F.pmod(F.xxhash64(F.col(id_col)), F.col("__nsplit")).cast("string"),
    )
    shard = F.when(F.col("__nsplit").isNull(), _shard_str(fine, F.col(ts_col))).otherwise(shard)
    for i, (u, _) in reversed(list(enumerate(overs))):
        shard = F.when(F.col(f"__over{i}").isNull(), _shard_str(u, F.col(ts_col))).otherwise(shard)
    out = out.withColumn("shard", shard)
    drop = [f"__l{i}" for i in range(len(overs) + 1)] + [
        f"__over{i}" for i in range(len(overs))
    ] + ["__nsplit"]
    return out.drop(*drop)


def pack_sequences(
    df: DataFrame,
    block_tokens: int = 2048,
    stream_cols: Sequence[str] = ("source",),
    id_col: str = "doc_id",
    ts_col: str = "event_timestamp",
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    max_stream_rows: int | None = 2_000_000,
    shard_time_unit: str = "week",
) -> DataFrame:
    """Assign each sequence to a training block of ≤ ``block_tokens``
    tokens per stream, preserving deterministic (ts, id) order;
    sequences longer than the budget get their own block.

    Plan: per-stream greedy pass in ``applyInPandas``. Greedy
    accumulation has sequential state (a block closes only when the
    NEXT doc would overflow), which prefix sums cannot express — a
    closed-form ``floor(cum/budget)`` can overshoot the budget when
    short docs precede long ones. Returns one row per block: stream
    cols, block_id, n_docs, n_tokens, tokens (flattened in order).

    AUTO-SHARDING (the 100 TB guard): one pandas group per stream means
    a single giant stream serializes on one task. With
    ``max_stream_rows`` set (the default), ONE probe aggregation
    (``groupBy(stream, hour)`` counts — map-side-combinable; coarser
    per-day/week/stream counts derive from it without rescanning the
    data) runs first; when the largest stream exceeds the threshold, a
    time shard starting at ``shard_time_unit`` is injected into the
    grouping, so every shard packs in parallel. The shard is ADAPTIVE:
    any (stream, shard) cell still over the threshold refines down the
    ladder ``shard_time_unit → day → hour``, and a cell that exceeds it
    within a single HOUR falls back to a deterministic hash split
    (``xxhash64(id) mod ceil(count/max)``) with its own block space —
    no stream shape can serialize packing on one task. The set of
    over-threshold cells is bounded by ``total_rows / max_stream_rows``
    (each over cell holds > max rows), so the refinement decision
    tables broadcast-join onto the data — the only full-data shuffle is
    the final per-(stream, shard) grouping itself.
    Block-reset semantics: ``block_id`` restarts per (stream, shard) —
    the unique block key is (stream cols, shard, block_id) — and a
    block NEVER spans a shard boundary, so the final possibly-underfull
    block of each shard is the standard sharded-packing trade-off
    (≤ one underfull block per stream per shard cell).

    SCHEMA IS A PURE FUNCTION OF THE PARAMETER, never of the data:
    whenever ``max_stream_rows`` is set the output ALWAYS carries the
    ``shard`` column — ``""`` for every block while streams are under
    the threshold (grouping by the constant is a no-op, so block ids
    are identical to the unsharded assignment) — so a pipeline
    appending to a fixed-schema table cannot have its schema flip the
    day a stream crosses the threshold. Block-id re-keying when
    sharding first engages is inherent to sharding and documented
    above; key on (stream, shard, block_id). ``max_stream_rows=None``
    disables probing and sharding entirely (no ``shard`` column —
    the legacy shape).

    Greedy-sequential is the standard streaming packing (same shape as
    T5/GPT dataloader packing); block boundaries are a pure function of
    the sorted prefix sums, so the assignment is reproducible and
    resume-stable.
    """
    import pandas as pd

    from pyspark.sql import types as T

    stream_cols = list(stream_cols)
    shard = False
    if max_stream_rows is not None and "shard" in df.columns:
        # silently overwriting a user 'shard' column would change the
        # grouping semantics
        raise ValueError(
            "input already has a 'shard' column, which pack_sequences "
            "reserves when max_stream_rows is set — rename it or pass "
            "max_stream_rows=None"
        )
    if max_stream_rows is not None:
        df = _assign_adaptive_shard(
            df, stream_cols, id_col, ts_col, int(max_stream_rows), shard_time_unit
        )
    group_cols = stream_cols + (["shard"] if max_stream_rows is not None else [])
    tokens_type = df.schema[tokens_col].dataType
    # the shard field is declared explicitly (always nullable string):
    # copying df.schema["shard"] would flip nullability between the
    # lit("") and date_trunc forms — a data-triggered schema change the
    # pure-function-of-the-parameter guarantee forbids
    out_schema = T.StructType(
        [
            T.StructField("shard", T.StringType(), True)
            if c == "shard"
            else df.schema[c]
            for c in group_cols
        ]
        + [
            T.StructField("block_id", T.LongType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("tokens", tokens_type),
        ]
    )
    budget = int(block_tokens)
    scols = group_cols
    tcol, icol, kcol, ncol = ts_col, id_col, tokens_col, n_tok_col

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([tcol, icol], kind="mergesort")
        blocks = []
        cur_toks: list = []
        cur_n = cur_docs = 0
        bid = 0
        key = [pdf.iloc[0][c] for c in scols]

        def close():
            nonlocal bid, cur_toks, cur_n, cur_docs
            if cur_docs:
                blocks.append((*key, bid, cur_docs, cur_n, list(cur_toks)))
                bid += 1
                cur_toks, cur_n, cur_docs = [], 0, 0

        for toks, n in zip(pdf[kcol], pdf[ncol]):
            n = int(n)
            if cur_docs and cur_n + n > budget:
                close()
            cur_toks.extend(toks)
            cur_n += n
            cur_docs += 1
            if cur_n >= budget:
                close()
        close()
        return pd.DataFrame(
            blocks, columns=[*scols, "block_id", "n_docs", "n_tokens", "tokens"]
        )

    return df.select(*scols, tcol, icol, kcol, ncol).groupBy(*scols).applyInPandas(
        pack, out_schema
    )


def leakage_safe_split(
    docs: DataFrame,
    dup_pairs: DataFrame,
    test_frac: float = 0.1,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    salt: str = "split",
    groups: DataFrame | None = None,
) -> DataFrame:
    """Train/test split that never places near-duplicates on opposite
    sides: documents are split by DEDUP GROUP (connected component of
    the near-dup pair graph), with the group's hash deciding the side.
    Splitting by raw doc id leaks test content into train through
    near-duplicates — the standard contamination failure this prevents.

    Returns docs' ids + ``group_id`` + ``split`` ('train' | 'test').
    Deterministic (hash-threshold on group id + salt), rerun-stable.
    Pass precomputed ``groups`` (from ``dedup_groups_from_pairs``) to
    skip re-running connected components when the pipeline already has
    them.
    """
    if groups is None:
        from feast_spark.pipeline.graph import dedup_groups_from_pairs

        groups = dedup_groups_from_pairs(docs, dup_pairs, id_col, src, dst)
    key = F.concat(F.col("group_id").cast("string"), F.lit(salt))
    return groups.select(
        id_col,
        "group_id",
        F.when(
            F.pmod(portable_hash64(key), F.lit(_MOD)) < int(test_frac * _MOD),
            F.lit("test"),
        ).otherwise(F.lit("train")).alias("split"),
    )


def chunk_sequences(
    df: DataFrame,
    max_len: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_tok_col: str | None = "n_tok",
) -> DataFrame:
    """Split token sequences longer than ``max_len`` into overlapping
    fixed-length chunks (stride = max_len - overlap) — the standard
    context-window chunking for pre-tokenized training corpora.

    Chunk starts are 0, stride, 2·stride, …; the LAST chunk is the one
    whose window reaches the end of the sequence. The tail chunk may be
    shorter than ``max_len`` (its start is never clamped back to
    ``n - max_len``): e.g. max_len=512, overlap=64, n=513 yields chunks
    of 512 and 65 tokens. Coverage is total — every token appears in
    ≥ 1 chunk; when ``overlap ≤ max_len/2`` (stride ≥ overlap, the
    usual configuration) overlap-region tokens appear in exactly 2
    chunks, while a larger overlap (permitted: any value < max_len)
    makes windows span >2 strides and interior tokens repeat
    ``ceil(max_len/stride)`` times — account for that duplication
    factor when token-weighting.
    Sequences with ≤ max_len tokens yield themselves as chunk 0. Empty
    sequences yield no rows.

    Physical form: ``posexplode`` of a per-row computed chunk-index
    range + ``slice`` — flatMap, whole-stage codegen, NO shuffle; at
    10¹² sequences this is a pure linear scan whose output partitioning
    inherits the input's. Returns id, chunk_idx, chunk_tokens,
    chunk_len."""
    if overlap >= max_len:
        raise ValueError(f"overlap ({overlap}) must be < max_len ({max_len})")
    stride = max_len - overlap
    n = (
        F.col(n_tok_col)
        if n_tok_col and n_tok_col in df.columns
        else F.size(F.col(tokens_col))
    )
    n_chunks = F.when(n <= 0, F.lit(0)).when(n <= max_len, F.lit(1)).otherwise(
        F.ceil((n - F.lit(max_len)).cast("double") / stride).cast("int") + 1
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).alias("__toks"),
        F.posexplode(
            F.when(
                n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("chunk_idx", "__start_i"),
    ).select(
        "id",
        "chunk_idx",
        F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, max_len).alias(
            "chunk_tokens"
        ),
    )
    return out.withColumn("chunk_len", F.size("chunk_tokens"))
