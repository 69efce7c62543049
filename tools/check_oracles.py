"""Replicates the driver's correctness gate locally: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the given sf dir; compare row count, column names, and order-insensitive
values.

Usage: python tools/check_oracles.py [--conf k=v ...] [sf_dir] [query ...]

``--conf`` (repeatable) sets a Spark conf for the run, to check that
results do not depend on physical choices, e.g.
``--conf spark.sql.shuffle.partitions=7 --conf spark.sql.adaptive.enabled=false``.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def compare(name: str, got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(exp):
        problems.append(f"rowcount {len(got)} != {len(exp)}")
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        problems.append(f"columns {gc} != {ec}")
        return problems
    g = got[gc].copy()
    e = exp[gc].copy()
    sort_cols = list(gc)
    try:
        g = g.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        e = e.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    except Exception as ex:
        problems.append(f"sort failed: {ex}")
        return problems
    if len(g) != len(e):
        return problems
    for c in gc:
        a, b = g[c], e[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            av = a.astype(float).values
            bv = b.astype(float).values
            both_nan = np.isnan(av) & np.isnan(bv)
            if not (np.isclose(av, bv, rtol=0, atol=1e-9, equal_nan=True) | both_nan).all():
                bad = np.where(~np.isclose(av, bv, rtol=0, atol=1e-9, equal_nan=True))[0][:3]
                problems.append(f"col {c}: value mismatch at {bad}: {av[bad]} vs {bv[bad]}")
        else:
            av = a.astype(object).where(pd.notna(a), None).values
            bv = b.astype(object).where(pd.notna(b), None).values
            if not all(x == y for x, y in zip(av, bv)):
                bad = [i for i, (x, y) in enumerate(zip(av, bv)) if x != y][:3]
                problems.append(
                    f"col {c}: mismatch at {bad}: {[av[i] for i in bad]} vs {[bv[i] for i in bad]}"
                )
    return problems


def pop_confs(argv: list[str]) -> dict[str, str]:
    """Remove every ``--conf k=v`` pair from ``argv`` (in place) and
    return them as a dict."""
    confs, rest, it = {}, [], iter(argv)
    for arg in it:
        if arg != "--conf":
            rest.append(arg)
            continue
        pair = next(it, "")
        key, sep, value = pair.partition("=")
        if not (key and sep):
            raise SystemExit(f"--conf expects k=v, got {pair!r}")
        confs[key] = value
    argv[:] = rest
    return confs


def main() -> int:
    confs = pop_confs(sys.argv)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from feast_spark.session import get_spark

    spark = get_spark("check_oracles", parallelism=8, extra_conf=confs)
    for k in confs:
        print(f"conf {k}={spark.conf.get(k)}")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    unknown = only - set(qs)
    if unknown:
        print(f"FAIL unknown query names: {sorted(unknown)}")
        failures += len(unknown)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            failures += 1
            continue
        try:
            problems = compare(name, got, exp)
        except Exception as ex:  # dtype mismatch etc. — record, don't abort
            problems = [f"compare error: {ex}"]
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
        # queries persist() intermediates their lazy plans own; drop them
        # between queries (same hazard bench.py clears)
        spark.catalog.clearCache()
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
