"""Self-test of the benchmark's correctness check.

    python3 -m pytest perfbench/tests -q

A planted wrong answer (the as-of join without its created-timestamp
tie-break, so backfill rows resolve arbitrarily) must fail the digest,
and the digest must not depend on the order of the input rows.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import inputs  # noqa: E402
import oracle  # noqa: E402

SMALL = {"docs": 500, "versions": 6, "spine": 5_000, "documents": 100}


@pytest.fixture(scope="module")
def spark():
    from feast_spark import get_spark

    session = get_spark(
        "perfbench-selftest", parallelism=2, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    yield session
    session.stop()


@pytest.fixture(scope="module")
def w1_inputs(tmp_path_factory):
    old = inputs.SIZES["pit_train_uniform"]
    inputs.SIZES["pit_train_uniform"] = SMALL
    try:
        paths = inputs.build("pit_train_uniform", 7, str(tmp_path_factory.mktemp("w1")))
    finally:
        inputs.SIZES["pit_train_uniform"] = old
    return paths


def _spark_digest(spark, paths, **kw):
    from workloads import PitTrainUniform

    units = pq.ParquetDataset(paths["spine"]).read(columns=[]).num_rows
    return PitTrainUniform(spark, paths, units, "", **kw).run()


def test_planted_wrong_answer_fails_digest(spark, w1_inputs):
    expected = oracle.digest("pit_train_uniform", w1_inputs)
    assert oracle.mismatches(expected, _spark_digest(spark, w1_inputs)) == []
    wrong = _spark_digest(spark, w1_inputs, created_tiebreak=False)
    assert oracle.mismatches(expected, wrong), "dropping the created tie-break went unnoticed"


def test_digest_ignores_input_row_order(spark, w1_inputs, tmp_path):
    rng = inputs.rng_for("pit_train_uniform", 99)
    shuffled = {}
    for name, path in w1_inputs.items():
        table = pq.read_table(path)
        shuffled[name] = table.take(rng.permutation(table.num_rows))
    paths = inputs.write_tables(shuffled, str(tmp_path))
    expected = oracle.digest("pit_train_uniform", w1_inputs)
    assert oracle.digest("pit_train_uniform", paths) == expected
    assert oracle.mismatches(expected, _spark_digest(spark, paths)) == []
