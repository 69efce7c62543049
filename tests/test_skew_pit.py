"""Hot-key skew stress for the PIT join: one doc_id owns a large
feature history AND a large share of the spine. The union-scan must stay
correct; it scans a hot key in one linear pass, never building the
|versions| x |spine_hits| pair set of a conditional join."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from feast_spark.operators.asof_join import point_in_time_join


@pytest.fixture(scope="module")
def skewed(spark):
    # hot doc: 2000 versions; 20k spine rows on the hot doc + 20k spread
    n_vers, n_hot_spine, n_cold = 2000, 20000, 20000
    feats = spark.range(0, n_vers).select(
        F.lit("hot").alias("doc_id"),
        (F.to_timestamp(F.lit("2024-01-01"))
         + F.make_interval(secs=(F.col("id") * 60).cast("double"))).alias("event_timestamp"),
        F.col("id").alias("version"),
    )
    cold_feats = spark.range(0, 5000).select(
        F.concat(F.lit("cold_"), F.pmod("id", F.lit(1000)).cast("string")).alias("doc_id"),
        (F.to_timestamp(F.lit("2024-01-01"))
         + F.make_interval(secs=(F.col("id") * 37).cast("double"))).alias("event_timestamp"),
        (F.col("id") + 10000).alias("version"),
    )
    feats = feats.unionByName(cold_feats)
    spine = spark.range(0, n_hot_spine).select(
        F.lit("hot").alias("doc_id"),
        (F.to_timestamp(F.lit("2024-01-01"))
         + F.make_interval(secs=(F.pmod(F.hash("id"), F.lit(n_vers * 60))).cast("double"))).alias("event_timestamp"),
    ).unionByName(
        spark.range(0, n_cold).select(
            F.concat(F.lit("cold_"), F.pmod("id", F.lit(1000)).cast("string")).alias("doc_id"),
            (F.to_timestamp(F.lit("2024-01-01"))
             + F.make_interval(secs=(F.pmod(F.hash("id", F.lit(2)), F.lit(100000))).cast("double"))).alias("event_timestamp"),
        )
    )
    return spine, feats


def test_skewed_pit_correct(spark, skewed):
    spine, feats = skewed
    pdf = point_in_time_join(spine, feats, ["doc_id"], ["version"], ttl_seconds=None).toPandas()
    assert len(pdf) == 40000
    # spot-check as-of semantics on the hot key: version == floor(ts/60)
    hot = pdf[pdf.doc_id == "hot"].dropna(subset=["version"])
    ts0 = pd.Timestamp("2024-01-01")
    expect = ((hot["event_timestamp"] - ts0).dt.total_seconds() // 60).astype(int)
    assert np.array_equal(hot["version"].astype(int).values, expect.values)
