"""SparkSource format round-trips (csv/json/parquet/orc), the schema
cache of path sources, field_mapping, query/table sources,
RetrievalJob.to_arrow."""

import pytest
from pyspark.sql import functions as F

from feast_spark import datagen
from feast_spark.core.source import QuerySource, SparkSource, TableSource
from tests.test_online import _new_jobs


@pytest.fixture(scope="module")
def sample(spark):
    pdf = datagen.token_sequences(n_docs=10, versions_per_doc=2, seed=4)[
        ["doc_id", "n_tok", "event_timestamp"]
    ]
    return datagen.to_spark(spark, pdf), pdf


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet", "orc"])
def test_format_round_trip(spark, sample, tmp_path, fmt):
    df, pdf = sample
    path = str(tmp_path / fmt)
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    opts = {"header": "true", "inferSchema": "true"} if fmt == "csv" else {}
    src = SparkSource(path=path, file_format=fmt, read_options=opts)
    back = src.load(spark)
    assert back.count() == len(pdf)
    assert set(back.columns) == set(pdf.columns)
    again, jobs = _new_jobs(spark, lambda: src.load(spark))
    assert jobs == 0 and again.schema == back.schema and again.count() == len(pdf)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _same_as_fresh(spark, src):
    got, fresh = src.load(spark), spark.read.parquet(src.path)
    assert got.schema == fresh.schema
    assert _rows(got) == _rows(fresh)


def test_second_load_of_unchanged_path_starts_no_job(spark, sample, tmp_path):
    """The first load infers the schema (one job reads a footer); a
    second load of the same files reads with that schema and starts
    none."""
    df, _ = sample
    path = str(tmp_path / "src")
    df.write.parquet(path)
    src = SparkSource(path=path)
    first, jobs = _new_jobs(spark, lambda: src.load(spark))
    assert jobs == 1
    second, jobs = _new_jobs(spark, lambda: src.load(spark))
    assert jobs == 0
    assert second.schema == first.schema and _rows(second) == _rows(first)


def test_cached_schema_keeps_date_partition_column(spark, sample, tmp_path):
    """A date-partitioned path: both loads give the inferred partition
    column, typed ``date`` and last, and the same rows."""
    df, pdf = sample
    path = str(tmp_path / "by_day")
    df.withColumn("day", F.to_date("event_timestamp")).write.partitionBy("day").parquet(path)
    src = SparkSource(path=path, date_partition_column="day")
    first, second = src.load(spark), src.load(spark)
    assert first.schema == second.schema
    assert second.columns[-1] == "day" and second.schema["day"].dataType.typeName() == "date"
    assert _rows(second) == _rows(first) and len(_rows(second)) == len(pdf)
    _same_as_fresh(spark, src)


def test_changed_listing_infers_again(spark, sample, tmp_path):
    """An overwrite that adds a column, then an appended file: each next
    load equals a fresh ``spark.read``."""
    df, pdf = sample
    path = str(tmp_path / "src")
    df.write.parquet(path)
    src = SparkSource(path=path)
    src.load(spark)
    df.withColumn("extra", F.lit(1)).write.mode("overwrite").parquet(path)
    _same_as_fresh(spark, src)
    assert "extra" in src.load(spark).columns
    df.limit(3).withColumn("extra", F.lit(2)).write.mode("append").parquet(path)
    _same_as_fresh(spark, src)
    assert src.load(spark).count() == len(pdf) + 3


def test_field_mapping_and_query_sources(spark, sample):
    df, pdf = sample
    df.createOrReplaceTempView("seq_src")
    q = QuerySource("SELECT doc_id AS d, n_tok FROM seq_src",
                    field_mapping={"d": "doc_id"})
    got = q.load(spark)
    assert "doc_id" in got.columns and got.count() == len(pdf)
    t = TableSource("seq_src")
    assert t.load(spark).count() == len(pdf)
    with pytest.raises(ValueError, match="exactly one"):
        SparkSource(path="/x", table="y")
    with pytest.raises(ValueError, match="unsupported format"):
        SparkSource(path="/x", file_format="xml")


def test_retrieval_job_to_arrow(spark, sample):
    from feast_spark.core.store import RetrievalJob

    df, pdf = sample
    tbl = RetrievalJob(df).to_arrow()
    assert tbl.num_rows == len(pdf)
    assert "n_tok" in tbl.column_names
