"""FeatureStore: registry + historical retrieval + materialization entry.

Re-implements the reference's two retrieval paths
(FeatureStore.get_historical_features feature_store.py:1216-1345 and the
SparkComputeEngine DAG compute.py:218-254 / feature_builder.py:85-146)
as one Spark-first plan builder. Every read of a view goes one way:

    one builder (``_view_frame``): load or derived-view DAG → [transform]
        → [filter] → [prune to the spine window, retrieval only]
        → [aggregate]; aggregate rows carry the view's own timestamp
    retrieval: one chain, ``multi_view_pit_join`` over every view's
        frame, then [ODFV transforms]
    materialize / materialize_online: the builder's frame, cut to
        ``[start, end]``; a SortedFeatureView skips aggregation

View, SQL-mode ODFV and stream transformations share one dispatcher,
``core.transformation.apply_transformation``.

Differences from the reference, deliberate:
* no SQL templating — one lazy DataFrame plan end to end, so Catalyst
  sees everything (pushdown, join reorder, AQE); a SQL-string
  transformation stages its inputs as temp views only while
  ``spark.sql`` analyses it;
* ODFV transforms run distributed via ``mapInPandas`` instead of
  driver-side pandas (offline_store.py:155-167);
* no synthetic row id (spark.py:683-688) and no fan-in join: each
  view's as-of join is a union-scan that carries the whole spine row
  through (``operators.asof_join``), so the views simply chain.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_spark.core.feature_view import (
    FeatureService,
    FeatureView,
    OnDemandFeatureView,
    SortedFeatureView,
)
from feast_spark.core.transformation import apply_transformation
from feast_spark.materialize.jobs import MaterializationResult, filter_interval, materialize_view
from feast_spark.operators.asof_join import multi_view_pit_join
from feast_spark.operators.windows import agg_fn, tumbling_agg

TIMESTAMP_TYPES = ("timestamp", "timestamp_ntz")


def _path_has_output(path: str) -> bool:
    """True when ``path`` already holds materialized data files (any
    non-hidden file outside the ``_manifest`` ledger) — the gate for
    trusting per-VIEW registry intervals as a per-PATH resume point."""
    import os

    if not os.path.isdir(path):
        return False
    for root, dirs, files in os.walk(path):
        # prune EVERY underscore-prefixed directory, not just _manifest:
        # a crashed write leaves part files under _temporary/<attempt>/,
        # and those part files do NOT start with '_' — walking into the
        # debris would make a fresh out_path look like real output and
        # let materialize_incremental adopt another path's registry
        # interval (the exact hole this gate exists to prevent)
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(not f.startswith((".", "_")) for f in files):
            return True
    return False


def infer_event_timestamp_col(df: DataFrame) -> str:
    """Reference offline_utils.py:28-44: prefer ``event_timestamp``, else
    the single timestamp-typed column; ambiguous → error."""
    if "event_timestamp" in df.columns:
        return "event_timestamp"
    ts_cols = [f.name for f in df.schema.fields if f.dataType.typeName() in TIMESTAMP_TYPES]
    if len(ts_cols) == 1:
        return ts_cols[0]
    raise ValueError(
        f"cannot infer entity timestamp column; candidates={ts_cols!r} — "
        "provide an 'event_timestamp' column"
    )


class RetrievalJob:
    """Lazy handle on a retrieval plan (reference offline_store.py:73-295)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def _validated(self, validation_reference):
        """Reference ``RetrievalJob.to_df(validation_reference)`` gate
        (offline_store.py:76-184): validate the retrieval output against
        the reference's profile BEFORE handing it out; failures raise
        ``ValidationError`` with the failing-expectation diff."""
        if validation_reference is not None:
            from feast_spark.validation import validate_or_raise

            profile = getattr(validation_reference, "profile", validation_reference)
            validate_or_raise(self._df, profile)
        return self._df

    def to_spark_df(self, validation_reference=None) -> DataFrame:
        return self._validated(validation_reference)

    def to_df(self, validation_reference=None) -> pd.DataFrame:
        return self._validated(validation_reference).toPandas()

    def to_arrow(self):
        import pyarrow as pa

        return pa.Table.from_pandas(self.to_df())

    def persist(self, name: str) -> None:
        """Save as a temp view (reference saved-dataset path,
        spark.py:423-460)."""
        self._df.createOrReplaceTempView(name)

    def to_remote_storage(self, path: str) -> list[str]:
        """Staged parquet export; returns the written data-file list
        (reference spark.py:465-515 returns the staged file URIs)."""
        self._df.write.mode("overwrite").parquet(path)
        jvm = self._df.sparkSession._jvm
        jsc = self._df.sparkSession._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        it = fs.listFiles(hpath, True)
        out = []
        while it.hasNext():
            p = it.next().getPath().toString()
            if not p.split("/")[-1].startswith("_"):
                out.append(p)
        return sorted(out)

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)


class FeatureStore:
    def __init__(self, spark: SparkSession, registry_path: str | None = None):
        """``registry_path`` makes the store durable: ``apply()`` persists
        view/service metadata and ``materialize*`` records completed
        intervals in a file-backed registry (reference
        registry/registry.py), so a NEW session can restore
        path/table-backed views and continue an incremental
        materialization where the last session stopped."""
        self.spark = spark
        self._views: dict[str, FeatureView] = {}
        self._odfvs: dict[str, OnDemandFeatureView] = {}
        self._services: dict[str, FeatureService] = {}
        self.registry = None
        if registry_path is not None:
            from feast_spark.core.registry import FileRegistry

            self.registry = FileRegistry(registry_path)

    # ------------------------------------------------------------- registry
    def apply(self, objects: Iterable) -> None:
        for obj in objects if isinstance(objects, (list, tuple)) else [objects]:
            if isinstance(obj, OnDemandFeatureView):
                self._odfvs[obj.name] = obj
            elif isinstance(obj, FeatureService):
                self._services[obj.name] = obj
                if self.registry is not None:
                    self.registry.apply_service(obj)
            elif isinstance(obj, FeatureView):
                self._views[obj.name] = obj
                if self.registry is not None:
                    self.registry.apply_view(obj)
            else:
                raise TypeError(f"cannot register {type(obj).__name__}")

    def get_feature_view(self, name: str) -> FeatureView:
        """In-session view, else restore a declarative (path/table/query
        backed, udf-free) view from the persistent registry."""
        if name in self._views:
            return self._views[name]
        if self.registry is not None and name in self.registry.list_views():
            view = self.registry.load_view(name)
            self._views[name] = view
            return view
        return self._views[name]  # raises KeyError with the view name

    # ------------------------------------------------------- view resolution
    def _build_view_df(self, view: FeatureView) -> DataFrame:
        """Resolve a view to a DataFrame: derived-view DAG (reference
        feature_resolver.py:28-95) or source, then udf → filter; the
        aggregation spec is applied by ``_view_frame``."""
        if view.source_views:
            parents = [
                self._build_view_df(self.get_feature_view(p) if isinstance(p, str) else p)
                for p in view.source_views
            ]
            if view.udf is not None:
                df = apply_transformation(view.udf, *parents)
            else:
                # default: sequential equi-join of parents on shared keys
                df = parents[0]
                for p in parents[1:]:
                    shared = [c for c in df.columns if c in p.columns]
                    df = df.join(p, on=shared, how="left")
        else:
            df = view.source.load(self.spark)
            if view.udf is not None:
                df = apply_transformation(view.udf, df)
        if view.filter_expr:
            df = df.filter(view.filter_expr)
        return df

    def _view_frame(
        self, view: FeatureView, bounds=None
    ) -> tuple[DataFrame, str, str | None]:
        """The view's frame with its event-timestamp and created columns:
        the resolved view, pruned to the spine window ``bounds = (lo,
        hi)`` when given, then aggregated when the view has an
        Aggregation spec (reference feature_builder.py:69-72 — the
        aggregate node sits in both the retrieval and the
        materialization DAG). Aggregate rows carry the view's own
        timestamp field (the window end, or the entity's max ts) and
        no created column."""
        fdf = self._build_view_df(view)
        ts_col = view.timestamp_field
        plain_aggs = any(a.time_window is None for a in view.aggregations)
        if bounds is not None and bounds[0] is not None and not plain_aggs:
            # Pruning correctness: non-windowed (whole-history)
            # aggregates would change value under ANY input prune —
            # those views skip pruning entirely (the guard above).
            # Windowed aggregates widen the lower bound by the window
            # length (a window joinable at [lo - ttl] starts
            # window_seconds earlier). The lower bound — row-level
            # AND date-partition — applies only when ttl > 0; with an
            # infinite TTL the latest valid row may be arbitrarily
            # old.
            lo, hi = bounds
            lower = lo_date = None
            if view.ttl_seconds > 0:
                reach = view.ttl_seconds + max(
                    (int(a.time_window.total_seconds()) for a in view.aggregations), default=0
                )
                lower = F.lit(lo) - F.expr(f"INTERVAL {reach} SECONDS")
                lo_date = F.date_sub(F.lit(lo).cast("date"), reach // 86400 + 1)
            fdf = filter_interval(fdf, ts_col, lower, hi)
            # explicit partition-pruning predicate on the date partition
            # column (reference spark.py:123-136, offline_utils.py:350-355)
            pcol = getattr(view.source, "date_partition_column", None)
            if pcol:
                fdf = filter_interval(fdf, pcol, lo_date, F.lit(hi).cast("date"))
        if view.aggregations:
            return _apply_aggregations(fdf, view), ts_col, None
        return fdf, ts_col, view.created_timestamp_column

    # --------------------------------------------------- historical retrieval
    def get_historical_features(
        self,
        entity_df: DataFrame | pd.DataFrame,
        features: Sequence[str] | FeatureService,
        *,
        full_feature_names: bool = False,
        strategy: str = "join_dedup",
        prune_window: bool = True,
    ) -> RetrievalJob:
        """Point-in-time-correct multi-view retrieval.

        ``features`` are ``"view:feature"`` refs or a FeatureService.
        ``prune_window``: compute spine min/max once (driver collect of 2
        values, reference spark.py:543-579) and pre-filter every feature
        scan to ``[min - ttl, max]`` so partition pruning kicks in — at
        100 TB this is the difference between scanning a day and a year.
        ``strategy`` is accepted and ignored, as in ``point_in_time_join``.
        """
        if isinstance(features, FeatureService):
            features = list(features.features)
        if isinstance(entity_df, str):
            # SQL-string spine (reference supports SQL entity_df,
            # test_universal_historical_retrieval.py SQL-entity case)
            entity_df = self.spark.sql(entity_df)
        elif isinstance(entity_df, pd.DataFrame):
            entity_df = self.spark.createDataFrame(entity_df)
        # decimal→double narrowing (reference type table, type_map.py:
        # 889-924); SQL literals like `2.0` are DECIMAL and would reach
        # pandas ODFVs as decimal.Decimal objects otherwise
        from pyspark.sql import types as T

        dec_cols = [
            f.name for f in entity_df.schema.fields if isinstance(f.dataType, T.DecimalType)
        ]
        for c in dec_cols:
            entity_df = entity_df.withColumn(c, F.col(c).cast("double"))

        spine_ts = infer_event_timestamp_col(entity_df)
        refs = _group_refs(features)

        # validate ODFV request columns exist (feature_store.py:1316-1327)
        for name in refs:
            if name in self._odfvs:
                for f in self._odfvs[name].request_schema:
                    if f.name not in entity_df.columns:
                        raise ValueError(
                            f"on-demand view {name!r} requires request column "
                            f"{f.name!r} missing from entity_df"
                        )

        bounds = None
        if prune_window:
            row = entity_df.agg(
                F.min(spine_ts).alias("lo"), F.max(spine_ts).alias("hi")
            ).first()
            bounds = (row["lo"], row["hi"])

        # one chain: each view's as-of join runs on the spine as grown
        # by the views before it, so a feature name that an earlier view
        # already put on the spine raises in point_in_time_join
        views = []
        for view_name, wanted in refs.items():
            if view_name in self._odfvs:
                continue  # applied post-join below
            view = self.get_feature_view(view_name)
            fdf, ts_col, created = self._view_frame(view, bounds)
            opts = {
                "feature_cols": wanted or view.feature_cols,
                "feature_ts_col": ts_col,
                "created_col": created,
                "ttl_seconds": view.ttl_seconds,
                "prefix": view_name if full_feature_names else None,
            }
            views.append((fdf, view.join_keys, opts))
        out = multi_view_pit_join(entity_df, views, spine_ts_col=spine_ts, strategy=strategy)

        # ODFV transforms, distributed (mapInPandas) not driver-side
        for name, wanted in refs.items():
            if name in self._odfvs:
                out = _apply_odfv(out, self._odfvs[name], wanted, full_feature_names)
        return RetrievalJob(out)

    # ------------------------------------------------------------- streaming
    def start_stream_ingest(
        self,
        view_name: str,
        stream_df,
        *,
        checkpoint_location: str | None = None,
        available_now: bool = False,
        processing_time: str | None = None,
    ):
        """Run a StreamFeatureView's ingest: stream → (udf, prune,
        watermark) → foreachBatch(latest-dedup → append to the view's
        offline source path). Retrieval then sees streamed rows through
        the normal PIT path (reference: SparkKafkaProcessor writes to
        offline/online stores per batch, spark_kafka_processor.py:338-417).
        """
        from feast_spark.core.feature_view import StreamFeatureView
        from feast_spark.streaming.processor import StreamProcessor

        view = self._views[view_name]
        if not isinstance(view, StreamFeatureView):
            raise TypeError(f"{view_name!r} is not a StreamFeatureView")
        sink_path = getattr(view.source, "path", None)
        if sink_path is None:
            raise ValueError("stream ingest needs a path-backed offline source")
        fmt = getattr(view.source, "file_format", "parquet")

        def sink(batch_df, batch_id: int) -> None:
            batch_df.write.format(fmt).mode("append").save(sink_path)

        proc = StreamProcessor(
            self.spark,
            join_keys=view.join_keys,
            timestamp_field=view.timestamp_field,
            created_timestamp_column=view.created_timestamp_column,
            field_mapping=getattr(view.source, "field_mapping", {}) or {},
            udf=view.udf,
            watermark_delay=view.watermark_delay,
            sink=sink,
            checkpoint_location=checkpoint_location,
        )
        return proc.start(
            stream_df,
            available_now=available_now,
            processing_time=processing_time,
            query_name=f"ingest_{view_name}",
        )

    # --------------------------------------------------------- materialization
    def materialize(
        self,
        view_name: str,
        out_path: str,
        start=None,
        end=None,
        *,
        only_latest: bool = True,
        repartition: int | None = None,
        redo_since_day: str | None = None,
    ):
        """Materialize a registered view to date-partitioned parquet with
        per-partition lineage manifest + idempotent resume (reference
        feature_store.py:1555-1781 → compute_engines/spark/compute.py:88-130,
        plus the resume capability the reference lacks)."""
        view = self.get_feature_view(view_name)
        if isinstance(view, SortedFeatureView):
            # skip dedup/agg, write range-partitioned + sort-key-ordered
            # files (reference sorted_feature_view.py:29-67,
            # feature_builder.py:69-83)
            from feast_spark.materialize.writers import materialize_sorted

            materialize_sorted(
                filter_interval(self._build_view_df(view), view.timestamp_field, start, end),
                out_path,
                view.join_keys,
                list(view.sort_keys) or [(view.timestamp_field, "ASC")],
            )
            res = MaterializationResult()
        else:
            fdf, ts_col, created = self._view_frame(view)
            res = materialize_view(
                self.spark,
                fdf,
                out_path,
                view.join_keys,
                ts_col=ts_col,
                created_col=created,
                start=start,
                end=end,
                only_latest=only_latest,
                repartition=repartition,
                redo_since_day=redo_since_day,
            )
        if self.registry is not None and end is not None:
            self.registry.apply_materialization(view_name, start, end)
        return res

    def materialize_incremental(
        self,
        view_name: str,
        out_path: str,
        end,
        *,
        only_latest: bool = True,
        repartition: int | None = None,
    ):
        """Materialize only the window SINCE the last recorded
        materialization (reference feature_store.py:1555
        ``materialize_incremental``: start = last end, else now - ttl).

        Start resolution order: (1) the OUT_PATH manifest's day
        high-watermark — the path's own lineage is authoritative for
        what the path contains, (2) the registry's latest interval end,
        consulted ONLY when the path already holds prior output (a lost
        manifest with surviving data files): registry intervals are
        per-VIEW, not per-path, so trusting them for a fresh out_path
        would start at another path's end and leave this path with a
        permanent hole before that date, (3) ``end - ttl`` when the view
        has a TTL, (4) unbounded. The boundary day is ALWAYS re-covered
        in full: ``start`` is widened to that day's midnight and the day
        is forced past the manifest's done-skip (``redo_since_day``) — a
        previous end that fell mid-day would otherwise leave the day
        partition permanently missing its tail (the dynamic overwrite
        replaces whole days)."""
        from datetime import datetime as _dt

        view = self.get_feature_view(view_name)
        start = None
        from feast_spark.materialize.jobs import MaterializationManifest

        hw = MaterializationManifest(out_path).high_watermark()
        if hw is not None:
            start = _dt.strptime(hw, "%Y-%m-%d")
        elif self.registry is not None and _path_has_output(out_path):
            start = self.registry.latest_materialization_end(view_name)
        if start is None and view.ttl_seconds:
            from datetime import timedelta as _td

            start = end - _td(seconds=view.ttl_seconds)
        redo_since_day = None
        if start is not None:
            if hasattr(start, "to_pydatetime"):
                start = start.to_pydatetime()
            redo_since_day = start.strftime("%Y-%m-%d")
            start = _dt.strptime(redo_since_day, "%Y-%m-%d")
        return self.materialize(
            view_name,
            out_path,
            start=start,
            end=end,
            only_latest=only_latest,
            repartition=repartition,
            redo_since_day=redo_since_day,
        )

    # ----------------------------------------------------------- online path
    def materialize_online(
        self,
        view_name: str,
        online_path: str,
        start=None,
        end=None,
    ) -> int:
        """Reference ``materialize`` also loads the online store
        (feature_store.py:1555 → passthrough_provider.py:593): push the
        view's latest-per-key rows in ``[start, end]`` into the
        file-backed online snapshot. Each view gets its OWN
        ``{online_path}/{view_name}`` table — a shared flat snapshot
        would be destroyed by the second view's overwrite, and
        row-level latest-dedup across views with different feature
        columns cannot be correct. Returns rows pushed."""
        import os as _os

        from feast_spark.online import LocalOnlineStore

        view = self.get_feature_view(view_name)
        fdf, ts, created = self._view_frame(view)
        return LocalOnlineStore(_os.path.join(online_path, view.name)).push_online(
            filter_interval(fdf, ts, start, end), view.join_keys, ts, created
        )

    def get_online_features(
        self,
        features: Sequence[str] | FeatureService,
        entity_rows: DataFrame | pd.DataFrame,
        online_path: str,
        *,
        now=None,
    ) -> DataFrame:
        """Serve latest features for entity rows from the online store,
        honoring each view's TTL (reference feature_store.py online
        path). ``features`` are the same ``view:feature`` refs as
        historical retrieval; each view reads its own
        ``{online_path}/{view_name}`` snapshot (written by
        ``materialize_online``, one row per key) and is left-joined
        straight onto the request rows, so the result has one row per
        request row."""
        import os as _os

        from feast_spark.online import LocalOnlineStore

        if isinstance(features, FeatureService):
            features = list(features.features)
        if isinstance(entity_rows, pd.DataFrame):
            entity_rows = self.spark.createDataFrame(entity_rows)
        out = entity_rows
        for view_name, wanted in _group_refs(features).items():
            view = self.get_feature_view(view_name)
            # one read (and one schema-inference job) per view's snapshot
            snap = self.spark.read.parquet(_os.path.join(online_path, view.name))
            cols = wanted or view.feature_cols
            if cols is None:
                # schema-less view: everything in ITS OWN snapshot that
                # is not a key or timestamp
                excl = set(view.join_keys) | {
                    view.timestamp_field,
                    view.created_timestamp_column,
                    "__bucket",
                }
                cols = [c for c in snap.columns if c not in excl]
            dup = set(cols) & (set(out.columns) - set(view.join_keys))
            if dup:
                raise ValueError(
                    f"online feature columns {sorted(dup)} from view "
                    f"{view_name!r} collide with columns already present"
                )
            out = LocalOnlineStore.lookup(
                snap,
                out,
                view.join_keys,
                cols,
                ttl_seconds=view.ttl_seconds or None,
                now=now,
                ts_col=view.timestamp_field,
            )
        return out

    # --------------------------------------------------------- saved datasets
    def create_saved_dataset(
        self,
        job: RetrievalJob,
        name: str,
        path: str,
        features: Sequence[str] | None = None,
    ):
        """Persist a retrieval result with durable metadata (reference
        feature_store.py:1348; saved_dataset.py:77) and register its
        name → storage handle when a registry is configured."""
        from feast_spark.core.saved_dataset import save_dataset

        ds = save_dataset(job.to_spark_df(), name, path, list(features or []))
        if self.registry is not None:
            self.registry.apply_saved_dataset(name, path)
        return ds

    def get_saved_dataset(self, name: str):
        from feast_spark.core.saved_dataset import load_saved_dataset

        if self.registry is None:
            raise ValueError("get_saved_dataset by name needs a registry_path")
        return load_saved_dataset(self.registry.saved_dataset_path(name))

    # ----------------------------------------------------------- entity-map
    def with_join_key_map(self, view: FeatureView, key_map: dict[str, str], name: str) -> FeatureView:
        """Role-playing dimension: same view joined under renamed keys
        (reference with_join_key_map, ibis.py:124-142). The mapped
        view's source is the resolved (transformed and filtered) frame,
        so its udf and filter are not applied a second time; its
        aggregation spec still runs, on the renamed keys."""
        from dataclasses import replace

        from feast_spark.core.feature_view import Entity
        from feast_spark.core.source import DataFrameSource

        df = self._build_view_df(view)
        sel = df.select(
            *[F.col(c).alias(key_map.get(c, c)) for c in df.columns]
        )
        new_entities = [Entity(name=key_map.get(e.key, e.key)) for e in view.entities]
        src = DataFrameSource(
            df=sel,
            timestamp_field=view.timestamp_field,
            created_timestamp_column=view.created_timestamp_column,
        )
        return replace(
            view,
            name=name,
            entities=new_entities,
            source=src,
            source_views=(),
            udf=None,
            filter_expr=None,
        )


def _group_refs(features: Sequence[str]) -> dict[str, list[str] | None]:
    """Parse ``view:feature`` refs → {view: [features] | None(=all)}
    (reference utils._group_feature_refs, feature_store.py:1298-1313)."""
    out: dict[str, list[str] | None] = {}
    for ref in features:
        if ":" in ref:
            view, feat = ref.split(":", 1)
            out.setdefault(view, [])
            if out[view] is not None:
                out[view].append(feat)
        else:
            out[ref] = None
    return out


def _apply_aggregations(fdf: DataFrame, view: FeatureView) -> DataFrame:
    """Execute the view's Aggregation spec (reference
    SparkAggregationNode nodes.py:97-147, slide fixed). The aggregate
    row's event timestamp is the view's own timestamp field:

    * windowed aggs → tumbling/sliding windows per entity; each window's
      features become valid at ``window_end`` (no leakage: a window is
      only joinable once closed);
    * plain aggs → one row per entity, valid at the entity's max ts.
    """
    keys, ts_col = view.join_keys, view.timestamp_field
    windowed = [a for a in view.aggregations if a.time_window is not None]
    plain = [a for a in view.aggregations if a.time_window is None]
    if windowed and plain:
        raise ValueError("mixing windowed and non-windowed aggregations in one view")
    if windowed:
        wsec = {int(a.time_window.total_seconds()) for a in windowed}
        ssec = {
            int(a.slide_interval.total_seconds()) if a.slide_interval else None
            for a in windowed
        }
        if len(wsec) > 1 or len(ssec) > 1:
            raise ValueError("all windowed aggregations in a view must share window/slide")
        out = tumbling_agg(
            fdf,
            keys,
            ts_col,
            [(a.function, a.column) for a in windowed],
            window_seconds=next(iter(wsec)),
            slide_seconds=next(iter(ssec)),
        )
        return out.withColumnRenamed("window_end", ts_col)
    exprs = [agg_fn(a.function)(a.column).alias(a.output_name) for a in plain]
    return fdf.groupBy(*keys).agg(F.max(ts_col).alias(ts_col), *exprs)


def _apply_odfv(
    df: DataFrame,
    odfv: OnDemandFeatureView,
    wanted: list[str] | None,
    full_feature_names: bool,
) -> DataFrame:
    """Append ODFV output columns (mode-dispatched; see
    OnDemandFeatureView)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    out_fields = [f for f in odfv.output_fields if wanted is None or f.name in wanted]
    names = [f.name for f in out_fields]
    prefix = f"{odfv.name}__" if full_feature_names else ""
    mode = getattr(odfv, "mode", "pandas")

    if mode == "sql":
        if not isinstance(odfv.udf, str):
            raise TypeError("sql-mode ODFV needs a SQL string udf")
        out = apply_transformation(odfv.udf, df)
        # enforce the requested subset: declared output columns that were
        # not asked for are dropped (they would leak unprefixed and can
        # collide with other views' columns)
        unwanted = [
            f.name for f in odfv.output_fields
            if f.name not in names and f.name in out.columns
        ]
        if unwanted:
            out = out.drop(*unwanted)
        if prefix:
            for n in names:
                out = out.withColumnRenamed(n, prefix + n)
        return out

    new_struct = StructType(
        list(df.schema.fields)
        + [
            StructField(prefix + f.name, _parse_datatype_string(f.dtype), True)
            for f in out_fields
        ]
    )
    if mode not in ("python", "pandas"):
        raise ValueError(f"unknown ODFV mode {mode!r}")
    udf, as_dict = odfv.udf, mode == "python"

    def apply(batches):
        for pdf in batches:
            # python mode: dict-of-lists row contract (reference
            # python_transformation.py); pandas mode: the batch itself
            extra = udf({c: pdf[c].tolist() for c in pdf.columns} if as_dict else pdf)
            for n in names:
                pdf[prefix + n] = extra[n]
            yield pdf

    return df.mapInPandas(apply, new_struct)
