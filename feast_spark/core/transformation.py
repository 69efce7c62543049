"""The one transformation dispatcher shared by feature views, SQL-mode
on-demand views and stream ingest.

A transformation is either a callable over DataFrames (Spark-DataFrame
mode, reference spark_transformation.py:95-122) or a SQL string whose
``{input}`` / ``{input0}``, ``{input1}``… placeholders name the input
frames (SQL-string mode, spark_transformation.py:104-119).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame


def apply_transformation(udf, *frames: DataFrame) -> DataFrame:
    """``udf(*frames)`` for a callable. For a SQL string, each frame is
    registered as a uniquely named temp view, the placeholders are
    substituted with plain ``str.replace`` (NOT ``str.format`` — SQL
    legitimately contains braces: map/struct literals, regexes) and the
    views are dropped again once ``spark.sql`` has analysed the query;
    the result holds the resolved plan, batch or streaming, so no
    staging view outlives the call."""
    if not isinstance(udf, str):
        return udf(*frames)
    spark = frames[0].sparkSession
    token = uuid.uuid4().hex[:12]
    names = [f"__input_{token}_{i}" for i in range(len(frames))]
    sql = udf
    for i, (fr, name) in enumerate(zip(frames, names)):
        fr.createOrReplaceTempView(name)
        sql = sql.replace(f"{{input{i}}}", name)
    try:
        return spark.sql(sql.replace("{input}", names[0]))
    finally:
        for name in names:
            spark.catalog.dropTempView(name)
