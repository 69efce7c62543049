"""Persistent file-backed registry: feature-view metadata +
materialization intervals that survive the Spark session.

Reference behavior being re-expressed (registry/registry.py:1-1201,
feature_store.py:911 apply, :1666-1672 apply_materialization): the
registry is the durable catalog that lets a NEW session answer "what
views exist" and "up to when has view X been materialized" — the
prerequisite for ``materialize_incremental`` (feature_store.py:1555).

Design: one JSON document, written atomically (tmp + rename). Views are
serialized declaratively — entities, schema, ttl, aggregations, filter,
and the source descriptor. Path/table/query-backed ``SparkSource``s
round-trip fully; ``DataFrameSource``-backed and udf-carrying views are
session-bound Python objects, so the registry stores their metadata and
flags them non-restorable (loading one in a fresh session raises with a
clear message instead of silently dropping the transformation). At
cluster scale the JSON lives on shared storage next to the
materialization roots; writes are driver-only and rare (apply /
materialize), so a single document is not a bottleneck.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

from feast_spark.core.feature_view import (
    Aggregation,
    Entity,
    FeatureService,
    FeatureView,
    Field,
    SortedFeatureView,
)
from feast_spark.core.source import DataFrameSource, SparkSource

_ISO = "%Y-%m-%dT%H:%M:%S.%f"


def _ts(v) -> str:
    """Normalize any accepted timestamp spelling (datetime, pandas
    Timestamp, ISO string, bare date string) to one canonical format —
    strings are parsed, not passed through, so interval reads can never
    hit an unparseable stored value. Timezone-aware values are converted
    to UTC before the tzinfo is dropped (stored times are naive-UTC, the
    same convention as the engine's session clock) — plain strftime
    would store foreign wall-clock time and shift incremental windows."""
    if isinstance(v, str):
        v = datetime.fromisoformat(v)
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if v.tzinfo is not None:
        from datetime import timezone

        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return v.strftime(_ISO)


def _parse_ts(s: str) -> datetime:
    try:
        return datetime.strptime(s, _ISO)
    except ValueError:
        return datetime.fromisoformat(s)


def _source_to_dict(src) -> dict:
    if isinstance(src, SparkSource):
        return {
            "kind": "spark",
            "name": src.name,
            "path": src.path,
            "file_format": src.file_format,
            "table": src.table,
            "query": src.query,
            "timestamp_field": src.timestamp_field,
            "created_timestamp_column": src.created_timestamp_column,
            "field_mapping": dict(src.field_mapping),
            "date_partition_column": src.date_partition_column,
            "read_options": dict(src.read_options),
        }
    return {
        "kind": "dataframe",
        "timestamp_field": getattr(src, "timestamp_field", "event_timestamp"),
        "created_timestamp_column": getattr(src, "created_timestamp_column", None),
        "date_partition_column": getattr(src, "date_partition_column", None),
    }


def _source_from_dict(d: dict):
    if d["kind"] == "spark":
        return SparkSource(
            name=d.get("name", ""),
            path=d.get("path"),
            file_format=d.get("file_format", "parquet"),
            table=d.get("table"),
            query=d.get("query"),
            timestamp_field=d.get("timestamp_field", "event_timestamp"),
            created_timestamp_column=d.get("created_timestamp_column"),
            field_mapping=d.get("field_mapping") or {},
            date_partition_column=d.get("date_partition_column"),
            read_options=d.get("read_options") or {},
        )
    return None  # dataframe-backed: not restorable across sessions


def view_to_dict(view: FeatureView) -> dict:
    return {
        "type": type(view).__name__,
        "name": view.name,
        "entities": [{"name": e.name, "join_key": e.join_key} for e in view.entities],
        "schema": [{"name": f.name, "dtype": f.dtype} for f in view.schema],
        "ttl_seconds": view.ttl_seconds or None,
        "online": view.online,
        "offline": view.offline,
        "aggregations": [
            {
                "column": a.column,
                "function": a.function,
                "time_window_s": int(a.time_window.total_seconds()) if a.time_window else None,
                "slide_s": int(a.slide_interval.total_seconds()) if a.slide_interval else None,
            }
            for a in view.aggregations
        ],
        "filter_expr": view.filter_expr,
        "sort_keys": [list(k) for k in getattr(view, "sort_keys", ())],
        "watermark_delay": getattr(view, "watermark_delay", None),
        "stream_source": (
            getattr(view, "stream_source", None)
            if isinstance(getattr(view, "stream_source", None), (dict, type(None)))
            else "__non_serializable__"
        ),
        "source": _source_to_dict(view.source),
        # python-object state that cannot serialize declaratively;
        # SQL-string udfs ARE declarative and round-trip
        "has_udf": view.udf is not None and not isinstance(view.udf, str),
        "udf_sql": view.udf if isinstance(view.udf, str) else None,
        "source_views": [
            (v if isinstance(v, str) else v.name) for v in view.source_views
        ],
    }


def view_from_dict(d: dict) -> FeatureView:
    src = _source_from_dict(d["source"])
    restorable = (
        src is not None
        and not d.get("has_udf")
        and not d.get("source_views")
        and d.get("stream_source") != "__non_serializable__"
    )
    if not restorable:
        raise ValueError(
            f"feature view {d['name']!r} is registered but not restorable from "
            "the registry alone (in-memory DataFrame source, udf, or derived "
            "view) — re-apply() it from its defining code in this session"
        )
    common = dict(
        name=d["name"],
        source=src,
        entities=[Entity(e["name"], e.get("join_key")) for e in d["entities"]],
        schema=[Field(f["name"], f["dtype"]) for f in d["schema"]],
        ttl=timedelta(seconds=d["ttl_seconds"]) if d.get("ttl_seconds") else None,
        online=d.get("online", True),
        offline=d.get("offline", True),
        aggregations=[
            Aggregation(
                a["column"],
                a["function"],
                timedelta(seconds=a["time_window_s"]) if a.get("time_window_s") else None,
                timedelta(seconds=a["slide_s"]) if a.get("slide_s") else None,
            )
            for a in d.get("aggregations", [])
        ],
        filter_expr=d.get("filter_expr"),
        udf=d.get("udf_sql"),
    )
    if d.get("type") == "SortedFeatureView":
        return SortedFeatureView(
            **common, sort_keys=[tuple(k) for k in d.get("sort_keys", [])]
        )
    if d.get("type") == "StreamFeatureView":
        from feast_spark.core.feature_view import StreamFeatureView

        return StreamFeatureView(
            **common,
            stream_source=d.get("stream_source"),
            watermark_delay=d.get("watermark_delay"),
        )
    return FeatureView(**common)


class FileRegistry:
    """Atomic JSON-document registry (views, services, materialization
    intervals)."""

    def __init__(self, path: str):
        self.path = path
        self._doc = {"views": {}, "services": {}, "intervals": {}}
        if os.path.exists(path):
            with open(path) as f:
                self._doc = json.load(f)
        self._doc.setdefault("views", {})
        self._doc.setdefault("services", {})
        self._doc.setdefault("intervals", {})
        self._doc.setdefault("saved_datasets", {})

    # ------------------------------------------------------------ persistence
    def _flush(self) -> None:
        d = os.path.dirname(os.path.abspath(self.path))
        os.makedirs(d, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._doc, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    # ----------------------------------------------------------------- views
    def apply_view(self, view: FeatureView) -> None:
        self._doc["views"][view.name] = view_to_dict(view)
        self._flush()

    def apply_service(self, svc: FeatureService) -> None:
        self._doc["services"][svc.name] = {
            "name": svc.name,
            "features": list(svc.features),
        }
        self._flush()

    def list_views(self) -> list[str]:
        return sorted(self._doc["views"])

    def load_view(self, name: str) -> FeatureView:
        return view_from_dict(self._doc["views"][name])

    def load_service(self, name: str) -> FeatureService:
        s = self._doc["services"][name]
        return FeatureService(name=s["name"], features=list(s["features"]))

    # ---------------------------------------------------------- saved datasets
    def apply_saved_dataset(self, name: str, path: str) -> None:
        self._doc["saved_datasets"][name] = path
        self._flush()

    def saved_dataset_path(self, name: str) -> str:
        return self._doc["saved_datasets"][name]

    # -------------------------------------------------- materialization state
    def apply_materialization(self, view_name: str, start, end) -> None:
        """Record a completed materialization window (reference
        registry.apply_materialization, feature_store.py:1666-1672)."""
        iv = self._doc["intervals"].setdefault(view_name, [])
        iv.append({"start": _ts(start) if start is not None else None, "end": _ts(end)})
        self._flush()

    def intervals(self, view_name: str) -> list[tuple[datetime | None, datetime]]:
        out = []
        for e in self._doc["intervals"].get(view_name, []):
            out.append(
                (
                    _parse_ts(e["start"]) if e.get("start") else None,
                    _parse_ts(e["end"]),
                )
            )
        return out

    def latest_materialization_end(self, view_name: str) -> datetime | None:
        iv = self.intervals(view_name)
        return max((e for _s, e in iv), default=None)
