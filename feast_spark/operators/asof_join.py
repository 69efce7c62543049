"""Point-in-time (as-of) join — the core operator of the engine.

Semantics (matching the reference's get_historical_features, see
spark_offline_store/spark.py:674-848 SQL template and
offline_stores/dask.py:654-805 dataframe path):

For each spine row ``(entity keys, event_timestamp)``:

* candidate feature rows are those with the same entity keys and
  ``feature.ts <= spine.event_timestamp`` (inclusive — temporal
  no-leakage upper bound),
* if ``ttl > 0``: additionally ``feature.ts >= spine.event_timestamp - ttl``,
* among candidates keep the one with the greatest ``ts``; ties broken by
  greatest ``created`` timestamp (backfill semantics,
  test_universal_historical_retrieval.py:546-641), then by the greatest
  ``tie_breaker_cols``,
* spine rows with no candidate keep NULL feature values (left-join
  preservation, dask.py:736-756); so do spine rows whose ts or any join
  key is NULL (NULL never equals a key),
* output has exactly one row per spine row (multiplicity preserved).

Algorithm — one union-scan (Databricks Labs tempo's ``asofJoin``):

1. Every feature row with a non-NULL ts and non-NULL join keys becomes
   one tagged struct ``(ts, created, tie-breaks, payload)``.
2. Those rows are unioned with the whole spine rows; feature rows fill
   only the join-key columns, spine rows carry a NULL struct.
3. The union is partitioned by the join keys and ordered by ts, with
   features before spine rows at equal ts (the inclusive bound), then
   created and tie-breaks ascending, NULLs first.
4. At each spine row the running ``last(struct, ignorenulls)`` is the
   greatest (ts, created, tie-breaks) feature at or before it; it is
   NULLed when the spine ts is NULL or the match is older than
   ``spine ts - ttl``.

That is one hash Exchange and one Sort per join: no spine row id, no
conditional join and no join back, and a hot key costs a linear pass,
never a spine × versions pair set. Spine multiplicity holds by
construction, since each spine row is one row of the union.

Zero join keys (an entityless view) is the same scan over an
unpartitioned window: linear, but one task. There is one code path;
``strategy`` only accepts the names of former physical strategies
(see ``point_in_time_join``).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# names of former physical strategies; every one runs the union-scan
_LEGACY_STRATEGIES = ("auto", "join_dedup", "merge_asof", "broadcast", "range_union")

_INTERNAL = "__asof_"  # prefix of every working column of the union
_TS = _INTERNAL + "ts"
_F = _INTERNAL + "f"
_M = _INTERNAL + "m"


def _tagged_union(
    spine: DataFrame,
    features: DataFrame,
    join_keys: list[str],
    feature_cols: list[str],
    *,
    spine_ts_col: str,
    feature_ts_col: str,
    created_col: str | None,
    tie_breaker_cols: list[str],
) -> tuple[DataFrame, list[Column]]:
    """The union of tagged feature rows and spine rows, plus the scan
    order within a partition. Feature join keys are cast to the spine's
    key types; both timestamps are compared as the spine's ts type, or
    as ``timestamp`` when the two types differ."""
    s_types = {f.name: f.dataType for f in spine.schema.fields}
    f_types = {f.name: f.dataType for f in features.schema.fields}
    ts_type = s_types[spine_ts_col]
    if f_types[feature_ts_col] != ts_type:
        ts_type = T.TimestampType()

    fields = [F.col(feature_ts_col).alias("__fts")]
    if created_col:
        fields.append(F.col(created_col).alias("__created"))
    fields += [F.col(c).alias(f"__tb{i}") for i, c in enumerate(tie_breaker_cols)]
    fields += [F.col(c).alias(f"__v{i}") for i, c in enumerate(feature_cols)]

    def spine_slot(c: str) -> Column:
        if c not in join_keys:
            return F.lit(None).cast(s_types[c]).alias(c)
        k = F.col(c)
        return (k if f_types[c] == s_types[c] else k.cast(s_types[c])).alias(c)

    matchable = F.col(feature_ts_col).isNotNull()
    for k in join_keys:
        matchable = matchable & F.col(k).isNotNull()
    feats = features.filter(matchable).select(
        *[spine_slot(c) for c in spine.columns],
        F.col(feature_ts_col).cast(ts_type).alias(_TS),
        F.struct(*fields).alias(_F),
    )
    rows = spine.select(
        *spine.columns,
        F.col(spine_ts_col).cast(ts_type).alias(_TS),
        F.lit(None).cast(feats.schema[_F].dataType).alias(_F),
    )
    order = [F.col(_TS).asc_nulls_first(), F.col(_F).isNull().asc()]
    if created_col:
        order.append(F.col(f"{_F}.__created").asc_nulls_first())
    order += [F.col(f"{_F}.__tb{i}").asc_nulls_first() for i in range(len(tie_breaker_cols))]
    return feats.unionByName(rows), order


def point_in_time_join(
    spine: DataFrame,
    features: DataFrame,
    join_keys: Sequence[str],
    feature_cols: Sequence[str] | None = None,
    *,
    spine_ts_col: str = "event_timestamp",
    feature_ts_col: str = "event_timestamp",
    created_col: str | None = None,
    ttl_seconds: int | None = None,
    strategy: str = "join_dedup",
    include_feature_ts: bool = False,
    tie_breaker_cols: Sequence[str] = (),
    feature_prefix: str = "",
    spine_assume_unique: bool | str | None = None,
) -> DataFrame:
    """As-of join ``features`` onto ``spine`` (see module docstring).

    ``feature_cols`` default: every feature column that is not a join key
    or timestamp. ``tie_breaker_cols`` optionally adds deterministic
    final tie-breaks after (ts, created) — needed when duplicate
    (key, ts, created) rows exist and bit-exact reproducibility matters.
    ``feature_prefix`` renames output feature columns (``prefix + name``)
    — required when a feature column name already exists on the spine.
    ``strategy`` and ``spine_assume_unique`` are accepted for source
    compatibility and ignored: every call runs the one union-scan.
    ``strategy`` must still be one of the former physical strategy
    names (``auto``, ``join_dedup``, ``merge_asof``, ``broadcast``,
    ``range_union``); any other value raises ``ValueError``.
    Returns spine columns + feature columns (+ ``feature_ts_col`` as
    ``__feature_ts`` when ``include_feature_ts``).
    """
    if strategy not in _LEGACY_STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}")
    join_keys = list(join_keys)
    if feature_cols is None:
        excluded = set(join_keys) | {feature_ts_col, created_col}
        feature_cols = [c for c in features.columns if c not in excluded]
    feature_cols = list(feature_cols)
    out_names = [feature_prefix + c for c in feature_cols]
    collisions = set(out_names) & set(spine.columns)
    if collisions:
        raise ValueError(
            f"feature columns {sorted(collisions)} collide with spine columns; "
            "pass feature_prefix=... (full_feature_names=True in "
            "get_historical_features) or rename via field_mapping"
        )
    internal = [c for c in spine.columns if c.startswith(_INTERNAL)]
    if internal:
        raise ValueError(f"spine columns {internal} collide with as-of join internals")

    tie_breaker_cols = list(tie_breaker_cols)
    u, order = _tagged_union(
        spine,
        features,
        join_keys,
        feature_cols,
        spine_ts_col=spine_ts_col,
        feature_ts_col=feature_ts_col,
        created_col=created_col,
        tie_breaker_cols=tie_breaker_cols,
    )
    w = (Window.partitionBy(*join_keys) if join_keys else Window).orderBy(*order)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    matched = u.withColumn(_M, F.last(_F, ignorenulls=True).over(w)).filter(
        F.col(_F).isNull()
    )

    valid = F.col(_TS).isNotNull()
    if ttl_seconds and ttl_seconds > 0:
        valid = valid & (
            F.col(f"{_M}.__fts").cast(u.schema[_TS].dataType)
            >= F.col(_TS) - F.expr(f"INTERVAL {int(ttl_seconds)} SECONDS")
        )
    best = matched.withColumn(_M, F.when(valid, F.col(_M)))
    sel = [F.col(c) for c in spine.columns]
    sel += [F.col(f"{_M}.__v{i}").alias(n) for i, n in enumerate(out_names)]
    if include_feature_ts:
        sel.append(F.col(f"{_M}.__fts").alias("__feature_ts"))
    return best.select(*sel)


def multi_view_pit_join(
    spine: DataFrame,
    views: Iterable[tuple[DataFrame, Sequence[str], dict]],
    *,
    spine_ts_col: str = "event_timestamp",
    strategy: str = "join_dedup",
    spine_assume_unique: bool | str | None = None,
) -> DataFrame:
    """Join several feature views onto one spine, each with PIT semantics.

    ``views`` yields ``(features_df, join_keys, opts)`` where ``opts`` may
    carry ``feature_cols``, ``feature_ts_col``, ``created_col``,
    ``ttl_seconds`` and ``prefix`` (output names become
    ``prefix__name``). Each view's as-of join runs on the spine as grown
    by the views before it, so the views chain without a row id or a
    fan-in join; a feature name already on the grown spine raises.
    ``FeatureStore.get_historical_features`` joins its views through
    this one chain. ``strategy`` and ``spine_assume_unique`` are accepted
    and ignored, as in ``point_in_time_join``.
    """
    out = spine
    for features, join_keys, opts in views:
        prefix = opts.get("prefix")
        out = point_in_time_join(
            out,
            features,
            join_keys,
            opts.get("feature_cols"),
            spine_ts_col=spine_ts_col,
            feature_ts_col=opts.get("feature_ts_col", "event_timestamp"),
            created_col=opts.get("created_col"),
            ttl_seconds=opts.get("ttl_seconds"),
            strategy=strategy,
            feature_prefix=f"{prefix}__" if prefix else "",
        )
    return out
