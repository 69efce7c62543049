"""Property-based PIT-join testing: hypothesis generates adversarial
event layouts (duplicate timestamps, boundary equality, empty sides,
single-key pile-ups); the as-of join must match the brute-force
oracle on every one."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from feast_spark import datagen
from feast_spark.operators.asof_join import point_in_time_join
from tests.oracle import expected_pit_df

BASE = pd.Timestamp("2024-01-01")

# timestamps on a coarse grid to force ties and boundary hits
ts_strategy = st.integers(min_value=0, max_value=20).map(
    lambda h: BASE + pd.Timedelta(hours=h)
)
key_strategy = st.sampled_from(["a", "b", "c"])

feature_rows = st.lists(
    st.tuples(key_strategy, ts_strategy, ts_strategy, st.integers(0, 1000)),
    min_size=0,
    max_size=25,
)
spine_rows = st.lists(
    st.tuples(key_strategy, ts_strategy), min_size=1, max_size=15
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(feats=feature_rows, spine=spine_rows, ttl_h=st.sampled_from([0, 1, 5]))
def test_pit_matches_oracle_property(spark, feats, spine, ttl_h):
    fpd = pd.DataFrame(feats, columns=["doc_id", "event_timestamp", "created", "val"])
    # unique tie-break id for full determinism under duplicate (ts, created)
    fpd["rid"] = np.arange(len(fpd), dtype=np.int64)
    spd = pd.DataFrame(spine, columns=["doc_id", "event_timestamp"])
    ttl = ttl_h * 3600 or None

    fdf = datagen.to_spark(spark, fpd) if len(fpd) else spark.createDataFrame(
        [], "doc_id string, event_timestamp timestamp, created timestamp, val long, rid long"
    )
    sdf = datagen.to_spark(spark, spd)

    exp = expected_pit_df(
        spd,
        fpd.sort_values("rid"),
        ["doc_id"],
        created_col="created",
        ttl_seconds=ttl,
        feature_cols=["val", "rid"],
    )
    # oracle keeps the LAST row in (ts, created) mergesort order on ties;
    # engine tie-breaks by rid desc — align by also sorting oracle input
    # on rid (done above) so both pick max-rid among (max ts, max created)
    got = point_in_time_join(
        sdf,
        fdf,
        ["doc_id"],
        ["val", "rid"],
        created_col="created",
        ttl_seconds=ttl,
        tie_breaker_cols=["rid"],
    ).toPandas()
    key = ["doc_id", "event_timestamp"]
    g = got.sort_values(key + ["rid"], kind="mergesort").reset_index(drop=True)
    e = exp.sort_values(key + ["rid"], kind="mergesort").reset_index(drop=True)
    assert len(g) == len(spd)
    assert np.array_equal(
        g["rid"].fillna(-1).astype(float).values,
        e["rid"].fillna(-1).astype(float).values,
    ), f"rid mismatch\ngot:\n{g}\nexp:\n{e}"
