"""spark-submit entrypoint for cluster runs.

Usage (cluster) — spark-submit takes a primary SCRIPT (it has no -m
module flag), so ship the package zip and point it at this file::

    zip -r feast_spark.zip feast_spark
    spark-submit --py-files feast_spark.zip feast_spark/cli.py \
        materialize --source ... --out ... --keys doc_id

or locally::

    python -m feast_spark.cli materialize --source /data/seqs \
        --out /data/mat --keys doc_id --start 2024-01-01 --end 2024-02-01
    python -m feast_spark.cli get-historical-features \
        --spine /data/spine.parquet --features /data/seqs --keys doc_id \
        --ttl-days 3 --out /data/training_set

On a real cluster the session comes from spark-submit's conf (master,
executors); ``get_or_create_session`` only fills in engine defaults
(UTC, AQE, Arrow) without forcing local mode.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def get_or_create_session(app: str) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
    )
    return builder.getOrCreate()


def cmd_materialize(args: argparse.Namespace) -> int:
    from feast_spark.materialize.jobs import MaterializationManifest, materialize_view

    spark = get_or_create_session("feast_spark_materialize")
    df = spark.read.format(args.format).load(args.source)
    res = materialize_view(
        spark,
        df,
        args.out,
        args.keys.split(","),
        ts_col=args.ts_col,
        created_col=args.created_col,
        start=args.start,
        end=args.end,
        only_latest=not args.no_latest,
        repartition=args.repartition,
    )
    metrics = MaterializationManifest(args.out).metrics()
    print(json.dumps({"written": res.written, "skipped": res.skipped, **metrics}))
    return 0


def cmd_materialize_incremental(args: argparse.Namespace) -> int:
    """Registry-driven incremental materialization: the view definition
    comes from the persistent registry and the window starts at the last
    recorded end (reference feature_store.py:1555)."""
    from datetime import datetime

    from feast_spark.core.store import FeatureStore
    from feast_spark.materialize.jobs import MaterializationManifest

    spark = get_or_create_session("feast_spark_materialize_incremental")
    store = FeatureStore(spark, registry_path=args.registry)
    end = datetime.fromisoformat(args.end) if args.end else datetime.utcnow()
    res = store.materialize_incremental(args.view, args.out, end)
    metrics = MaterializationManifest(args.out).metrics()
    print(json.dumps({"written": res.written, "skipped": res.skipped, **metrics}))
    return 0


def cmd_get_historical_features(args: argparse.Namespace) -> int:
    from feast_spark.operators.asof_join import point_in_time_join

    spark = get_or_create_session("feast_spark_retrieval")
    spine = spark.read.format(args.format).load(args.spine)
    feats = spark.read.format(args.format).load(args.features)
    out = point_in_time_join(
        spine,
        feats,
        args.keys.split(","),
        args.feature_cols.split(",") if args.feature_cols else None,
        spine_ts_col=args.spine_ts_col,
        feature_ts_col=args.ts_col,
        created_col=args.created_col,
        ttl_seconds=args.ttl_days * 86400 if args.ttl_days else None,
        feature_prefix=args.prefix,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="feast_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    m = sub.add_parser("materialize", help="backfill/materialize with manifest resume")
    m.add_argument("--source", required=True)
    m.add_argument("--format", default="parquet")
    m.add_argument("--out", required=True)
    m.add_argument("--keys", required=True, help="comma-separated join keys")
    m.add_argument("--ts-col", default="event_timestamp")
    m.add_argument("--created-col", default=None)
    m.add_argument("--start", default=None)
    m.add_argument("--end", default=None)
    m.add_argument("--no-latest", action="store_true")
    m.add_argument("--repartition", type=int, default=None)
    m.set_defaults(fn=cmd_materialize)

    mi = sub.add_parser(
        "materialize-incremental",
        help="materialize the window since the registry's last recorded end",
    )
    mi.add_argument("--registry", required=True, help="registry JSON path")
    mi.add_argument("--view", required=True, help="registered view name")
    mi.add_argument("--out", required=True)
    mi.add_argument("--end", default=None, help="ISO timestamp (default: now)")
    mi.set_defaults(fn=cmd_materialize_incremental)

    g = sub.add_parser("get-historical-features", help="PIT retrieval to parquet")
    g.add_argument("--spine", required=True)
    g.add_argument("--features", required=True)
    g.add_argument("--format", default="parquet")
    g.add_argument("--out", required=True)
    g.add_argument("--keys", required=True)
    g.add_argument("--feature-cols", default=None)
    g.add_argument("--spine-ts-col", default="event_timestamp")
    g.add_argument("--ts-col", default="event_timestamp")
    g.add_argument("--created-col", default=None)
    g.add_argument("--ttl-days", type=int, default=None)
    g.add_argument("--prefix", default="",
                   help="prefix for output feature columns (avoids spine collisions)")
    g.set_defaults(fn=cmd_get_historical_features)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
