"""Materialization / backfill jobs with per-partition lineage and
idempotent resume.

Reference behavior being re-expressed:
* ``pull_latest_from_table_or_query`` — window-dedup of the latest row
  per entity key within ``[start, end]`` (spark_offline_store/
  spark.py:79-147);
* ``materialize`` / ``materialize_incremental`` driving it per view
  (feature_store.py:1555-1781, compute_engines/spark/compute.py:88-130).

What the reference lacks and the north rule mandates: **checkpointed,
resumable backfills**. The unit of work is a date partition of the
feature source (``days(event_timestamp)`` — matching Iceberg's hidden
daily partitioning). For every partition we record a manifest entry
``{partition, rows, bytes, status, attempt}``; a restarted job skips
completed partitions (idempotent resume), so a 10^12-row backfill that
dies at partition 700/1000 restarts at 701 instead of 1.

Scale notes: the per-day loop is driver-side but bounded (days, not
rows); each day's compute+write is fully distributed. Day-level write
granularity also bounds task retry blast radius and lets the cluster
pipeline compute with commit.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feast_spark.operators.dedup import latest_row_dedup


def filter_interval(df: DataFrame, ts_col: str, start=None, end=None) -> DataFrame:
    """Rows with ``ts_col`` in ``[start, end]``; a ``None`` bound is
    open. Two plain comparisons, so both reach the scan as pushed
    filters."""
    if start is not None:
        df = df.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(ts_col) <= F.lit(end))
    return df


def pull_latest(
    df: DataFrame,
    join_keys: list[str],
    ts_col: str,
    created_col: str | None,
    start=None,
    end=None,
    feature_cols: list[str] | None = None,
) -> DataFrame:
    """Latest row per entity key with ``ts`` in ``[start, end]``
    (reference spark.py:79-147: ROW_NUMBER window + rn=1)."""
    df = filter_interval(df, ts_col, start, end)
    if feature_cols:
        df = df.select(
            *join_keys, ts_col, *([created_col] if created_col else []), *feature_cols
        )
    return latest_row_dedup(df, join_keys, ts_col, created_col)


@dataclass
class MaterializationManifest:
    """Per-partition lineage ledger stored as JSON files under
    ``<root>/_manifest/`` (one file per partition → commit is an atomic
    rename on HDFS/local; on S3 use a cloud-atomic committer)."""

    root: str

    @property
    def dir(self) -> str:
        return os.path.join(self.root, "_manifest")

    def _path(self, partition: str) -> str:
        return os.path.join(self.dir, f"{partition}.json")

    def load(self) -> dict[str, dict]:
        out = {}
        if os.path.isdir(self.dir):
            for fn in os.listdir(self.dir):
                if fn.endswith(".json"):
                    with open(os.path.join(self.dir, fn)) as f:
                        e = json.load(f)
                    out[e["partition"]] = e
        return out

    def completed(self) -> set[str]:
        return {p for p, e in self.load().items() if e.get("status") == "done"}

    def record(self, partition: str, rows: int, bytes_: int, status: str = "done") -> None:
        os.makedirs(self.dir, exist_ok=True)
        tmp = self._path(partition) + ".tmp"
        entry = {
            "partition": partition,
            "rows": int(rows),
            "bytes": int(bytes_),
            "status": status,
        }
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, self._path(partition))

    def high_watermark(self) -> str | None:
        done = sorted(self.completed())
        return done[-1] if done else None

    def metrics(self) -> dict:
        entries = self.load()
        return {
            "partitions": len(entries),
            "rows": sum(e["rows"] for e in entries.values()),
            "bytes": sum(e["bytes"] for e in entries.values()),
        }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


@dataclass
class MaterializationResult:
    written: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    rows: int = 0


def materialize_view(
    spark: SparkSession,
    features: DataFrame,
    out_path: str,
    join_keys: list[str],
    ts_col: str = "event_timestamp",
    created_col: str | None = None,
    start=None,
    end=None,
    *,
    only_latest: bool = True,
    repartition: int | None = None,
    chunk_days: int = 32,
    fail_after_partition: str | None = None,
    redo_since_day: str | None = None,
) -> MaterializationResult:
    """Materialize ``features`` to date-partitioned parquet with manifest
    checkpointing; re-running skips completed partitions.

    Execution strategy — CHUNKED bulk writes: days are grouped into
    ``chunk_days`` chunks; each pending chunk is ONE job (time-range
    filter → latest-per-(key, day) window dedup in a single shuffle →
    ``partitionBy(day)`` dynamic-overwrite write), and each completed
    day gets a manifest entry whose rows the write job itself counts
    (``observe``, no re-read). A 3-year backfill is ~35 passes over the
    (time-pruned) input instead of ~1000, while a crash still resumes
    at chunk granularity — the passes/blast-radius trade-off is the
    ``chunk_days`` knob (1 = the reference-style per-day loop).

    ``only_latest`` dedups within each day (snapshot-per-day, matching
    the reference's per-window materialization, compute.py:88-130);
    ``repartition`` mirrors the reference's ``partitions`` knob
    (compute.py:197-200). ``fail_after_partition`` is a crash-injection
    test hook (fires after committing the chunk containing that day).
    ``redo_since_day`` forces days >= that day to be recomputed even if
    the manifest marks them done — incremental runs whose previous end
    fell MID-day use it to re-cover the boundary day in full (the
    dynamic partition overwrite replaces the whole day, so the caller
    must also widen ``start`` to that day's midnight).

    NOTE: each chunk re-evaluates ``features`` — pass a table-backed
    frame; stage deep computation DAGs to parquet first (measured ~30x
    on examples/training_pipeline.py).
    """
    manifest = MaterializationManifest(out_path)
    done = manifest.completed()

    df = filter_interval(features, ts_col, start, end).withColumn(
        "__day", F.date_format(F.col(ts_col), "yyyy-MM-dd")
    )

    # one distributed pass to enumerate the work list
    all_days = sorted(
        r["__day"] for r in df.select("__day").distinct().collect()
    )
    res = MaterializationResult()
    pending = []
    for day in all_days:
        if day in done and (redo_since_day is None or day < redo_since_day):
            res.skipped.append(day)
        else:
            pending.append(day)

    for i in range(0, len(pending), max(chunk_days, 1)):
        chunk = pending[i : i + max(chunk_days, 1)]
        part = df.filter(F.col("__day").isin(chunk))
        if only_latest:
            part = latest_row_dedup(part, [*join_keys, "__day"], ts_col, created_col)
        if repartition:
            part = part.repartition(repartition, *join_keys)
        obs = Observation()
        (
            part.observe(obs, *[F.count_if(F.col("__day") == d).alias(d) for d in chunk])
            .withColumnRenamed("__day", "day")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(out_path)
        )
        counts = obs.get
        for day in chunk:
            cnt = counts[day]
            manifest.record(day, cnt, _dir_bytes(os.path.join(out_path, f"day={day}")))
            res.written.append(day)
            res.rows += cnt
        if fail_after_partition is not None and chunk[-1] >= fail_after_partition:
            raise RuntimeError(f"injected failure after partition {chunk[-1]}")
    return res


def read_materialized(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", out_path).parquet(
        os.path.join(out_path, "day=*")
    )
