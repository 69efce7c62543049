"""Data sources: where feature rows come from.

Reference: SparkSource (spark_offline_store/spark_source.py:31-135)
supports table / SQL query / file path in {csv,json,parquet,delta,avro,
iceberg}; DataSource carries ``timestamp_field``,
``created_timestamp_column``, ``field_mapping`` (source→feature rename),
``date_partition_column`` (data_source.py ctor args). We keep that
contract but load lazily through ``spark.read`` so Catalyst sees the
whole plan (predicate pushdown + partition pruning reach the scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# formats whose schema Spark infers from the files themselves
_INFERRED_FORMATS = {"csv", "json", "parquet", "avro", "orc"}
_FILE_FORMATS = _INFERRED_FORMATS | {"delta"}  # delta reads its schema from its log


def apply_field_mapping(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename source columns to feature names, REJECTING mappings that
    would produce duplicate column names (two sources mapped to one
    target, or a target colliding with an unmapped column) — otherwise
    the failure surfaces later as an AMBIGUOUS_REFERENCE deep inside a
    join, far from the misconfigured source."""
    out_names = [mapping.get(c, c) for c in df.columns]
    dupes = sorted({n for n in out_names if out_names.count(n) > 1})
    if dupes:
        raise ValueError(
            f"field_mapping produces duplicate column names {dupes} "
            f"(mapping={mapping})"
        )
    return df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])


@dataclass
class SparkSource:
    """Base source. Exactly one of ``path``, ``table``, ``query`` set."""

    name: str = ""
    path: str | None = None
    file_format: str = "parquet"
    table: str | None = None
    query: str | None = None
    timestamp_field: str = "event_timestamp"
    created_timestamp_column: str | None = None
    field_mapping: dict[str, str] = field(default_factory=dict)
    date_partition_column: str | None = None
    read_options: dict[str, str] = field(default_factory=dict)
    # (format, path, options), input files, schema of the last inferring read
    _inferred: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def __post_init__(self) -> None:
        set_count = sum(x is not None for x in (self.path, self.table, self.query))
        if set_count != 1:
            raise ValueError("exactly one of path/table/query must be set")
        if self.path is not None and self.file_format not in _FILE_FORMATS | {"iceberg"}:
            raise ValueError(f"unsupported format {self.file_format!r}")

    def load(self, spark: SparkSession) -> DataFrame:
        """Read and apply ``field_mapping`` renames (source col → feature
        name; reference reverse-maps in utils.py:145-207).

        A path in a format whose schema Spark infers from the files
        (parquet, orc, csv, json, avro) pays one Spark job per inferring
        read, to open a footer or sample rows. The source keeps the
        schema of its last inferring read with the file listing it came
        from (``DataFrame.inputFiles()``) and the format, path and
        ``read_options`` it was read with; a later load with the same
        three reads with that schema and starts no job. If the listing
        differs (a file added, removed or renamed: an overwrite, an
        append, a stream batch), the load infers again, so it returns
        what a fresh ``spark.read`` would. A file rewritten in place
        under the same name is not detected; Spark's own writers never
        reuse a file name. Session confs that steer inference (say
        ``spark.sql.parquet.binaryAsString``) are not part of the key."""
        if self.path is not None:
            df = self._read_path(spark)
        elif self.table is not None:
            # Iceberg path: ``catalog.db.table`` resolved by the session's
            # SparkCatalog conf (reference repo_config.py:261-268); on a
            # cluster this gives hidden-partition pruning + snapshot reads.
            df = spark.table(self.table)
        else:
            df = spark.sql(self.query)
        if self.field_mapping:
            df = apply_field_mapping(df, self.field_mapping)
        return df

    def _read_path(self, spark: SparkSession) -> DataFrame:
        def reader():
            return spark.read.format(self.file_format).options(**self.read_options)

        if self.file_format not in _INFERRED_FORMATS:
            return reader().load(self.path)
        key = (self.file_format, self.path, sorted(self.read_options.items()))
        if self._inferred is not None and self._inferred[0] == key:
            _, files, schema = self._inferred
            df = reader().schema(schema).load(self.path)
            if set(df.inputFiles()) == files:
                return df
        df = reader().load(self.path)
        self._inferred = (key, set(df.inputFiles()), df.schema)
        return df


def ParquetSource(path: str, **kw) -> SparkSource:
    return SparkSource(path=path, file_format="parquet", **kw)


def TableSource(table: str, **kw) -> SparkSource:
    return SparkSource(table=table, **kw)


def QuerySource(query: str, **kw) -> SparkSource:
    return SparkSource(query=query, **kw)


@dataclass
class DataFrameSource:
    """In-memory source wrapping an existing DataFrame (tests, derived
    views)."""

    df: DataFrame
    timestamp_field: str = "event_timestamp"
    created_timestamp_column: str | None = None
    field_mapping: dict[str, str] = field(default_factory=dict)
    date_partition_column: str | None = None
    name: str = ""

    def load(self, spark: SparkSession) -> DataFrame:
        df = self.df
        if self.field_mapping:
            df = apply_field_mapping(df, self.field_mapping)
        return df
