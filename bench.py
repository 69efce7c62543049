"""Benchmark harness (driver contract).

Runs the headline as-of-join + window-feature materialization job on the
BASELINE.json-shaped synthetic token-sequence table, plus the operator
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, and prints ONE JSON line::

    {"metric": "asof_window_materialization_throughput",
     "value": <sequences/sec>, "unit": "seq/sec",
     "queries": {...per-query seconds...}, "sf": ...}

The headline metric matches BASELINE.json: sequences/sec through the
full PIT-join + windowed-feature pipeline (lag/lead + trailing windows +
sessionization materialized per spine row). Scaling-efficiency evidence
(N vs 4N cores) is produced by ``tools/bench_scaling.py`` →
``BENCH/BASELINE.md``.

Round 4: the headline ``value`` is measured on the THROUGHPUT shape
(4M spine / ~3M feature rows, same as the scaling gate) instead of the
400k latency shape. A 10-alternation interleaved commit-level A/B
(r01 tree vs HEAD, see BENCH/BASELINE.md "r01 headline A/B") showed
the 400k shape's wall time is dominated by fixed per-job overhead with
an ambient band wider than any round-over-round delta ever chased —
both trees' distributions fully overlap. The 400k latency median is
still reported (``queries.headline_asof_window_materialization``) for
round-over-round continuity; the compute-dominated 4M number is what
tracks real per-row cost. Override shapes with BENCH_SEQ_DOCS /
BENCH_SPINE_ROWS (latency) and BENCH_TP_SEQ_DOCS / BENCH_TP_SPINE_ROWS
(throughput).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# headline scale: ~SEQ_DOCS*SEQ_VERSIONS feature rows, SPINE_ROWS spine rows
SEQ_DOCS = int(os.environ.get("BENCH_SEQ_DOCS", "100000"))
SEQ_VERSIONS = int(os.environ.get("BENCH_SEQ_VERSIONS", "6"))
SPINE_ROWS = int(os.environ.get("BENCH_SPINE_ROWS", "400000"))
# throughput (headline-value) shape: compute-dominated, same as the
# scaling gate's default — fixed per-job overhead amortizes to <10%
TP_SEQ_DOCS = int(os.environ.get("BENCH_TP_SEQ_DOCS", "500000"))
TP_SPINE_ROWS = int(os.environ.get("BENCH_TP_SPINE_ROWS", "4000000"))


def _noop_write(df) -> None:
    """Force full materialization of every column (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def headline_job(
    spark, seq_docs: int = SEQ_DOCS, spine_rows: int = SPINE_ROWS
) -> tuple[float, int]:
    """PIT as-of join of the spine against the token-sequence table +
    windowed feature engineering, materialized. Returns (seconds,
    spine_rows)."""
    from pyspark.sql import functions as F

    from feast_spark.datagen import spark_entity_spine, spark_token_sequences
    from feast_spark.operators.asof_join import point_in_time_join
    from feast_spark.operators.windows import lag_lead_features, rolling_agg, sessionize

    seqs = spark_token_sequences(spark, seq_docs, SEQ_VERSIONS)
    spine = spark_entity_spine(spark, spine_rows, seq_docs)

    t0 = time.monotonic()
    joined = point_in_time_join(
        spine,
        seqs,
        ["doc_id"],
        ["tokens", "n_tok", "source"],
        created_col="created",
        ttl_seconds=3 * 86400,
    )
    feats = lag_lead_features(
        joined.filter(F.col("n_tok").isNotNull()),
        ["doc_id"],
        "event_timestamp",
        ["n_tok"],
        offsets=[1],
    )
    feats = rolling_agg(feats, ["doc_id"], "event_timestamp", [("sum", "n_tok")], 86400)
    feats = sessionize(feats, ["doc_id"], "event_timestamp", 6 * 3600)
    _noop_write(feats)
    return time.monotonic() - t0, spine_rows


def _isolated_main() -> None:
    """BENCH_ISOLATE=1: run the headline and EVERY query in its own
    fresh python/JVM subprocess, then merge the per-piece JSON. Late-
    suite numbers cannot be contaminated by accumulated JVM pressure
    (VERDICT r03 #6 observed a 3× late-suite drift on one query in a
    55-query session while the op itself was stable when fresh).
    Diagnostic mode — one JVM start (~10 s) per piece."""
    import subprocess

    import __spark_entry__ as entrymod

    names = ["__headline__"] + list(entrymod.queries().keys())
    only = os.environ.get("BENCH_ONLY")
    if only:
        keep = {n.strip() for n in only.split(",")}
        names = [n for n in names if n in keep]
    merged: dict = {}
    for name in names:
        env = dict(os.environ, BENCH_ISOLATE="0", BENCH_ONLY=name)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        try:
            if out.returncode != 0:
                raise RuntimeError(f"exit {out.returncode}")
            piece = json.loads(line)
        except (json.JSONDecodeError, RuntimeError) as e:
            # a crashed piece (OOM'd JVM, stray log line as last stdout)
            # must not kill the sweep or silently vanish from the merged
            # report — record the failure and keep going
            sys.stderr.write(
                f"bench piece {name!r} failed ({e}); stderr tail: "
                f"{out.stderr[-500:]}\n"
            )
            merged.setdefault("failed_pieces", []).append(name)
            continue
        if not merged or set(merged) <= {"failed_pieces"}:
            piece.setdefault("failed_pieces", []).extend(
                merged.get("failed_pieces", [])
            )
            if not piece["failed_pieces"]:
                del piece["failed_pieces"]
            merged = piece
        else:
            merged["queries"].update(piece.get("queries", {}))
            merged["queries_detail"].update(piece.get("queries_detail", {}))
            if piece.get("headline_rows"):
                merged["value"] = piece["value"]
                merged["headline_rows"] = piece["headline_rows"]
    merged["isolated"] = True
    print(json.dumps(merged))


def main() -> None:
    import statistics

    if os.environ.get("BENCH_ISOLATE") == "1":
        _isolated_main()
        return

    from feast_spark.session import get_spark

    spark = get_spark("feast_spark_bench", parallelism=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # Ambient VM load moves single-run timings ±15-25% (measured across
    # rounds 1-3) — single-run deltas are unactionable, so every number
    # reported is a MEDIAN of BENCH_RUNS runs (default 3) with the raw
    # runs preserved in "queries_detail".
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    only = os.environ.get("BENCH_ONLY")
    keep = {n.strip() for n in only.split(",")} if only else None
    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}

    def record(name: str, samples: list, shared_memo: bool = False) -> None:
        med = statistics.median(samples)
        timings[name] = round(med, 3)
        detail[name] = {
            "median": round(med, 3),
            "min": round(min(samples), 3),
            "runs": [round(s, 3) for s in samples],
        }
        if shared_memo:
            # these queries share a memoized pairs/groups intermediate
            # (VERDICT r03 #2); the memo is evicted before run[0], so
            # run[0] is the honest cold cost and later runs are warm.
            # The headline "median" for a 3-run sample is therefore a
            # warm number — "cold" carries the full rebuild cost so
            # round-over-round comparisons stay interpretable
            # (VERDICT r04 "What's wrong" #2).
            detail[name]["cold"] = round(samples[0], 3)
            warm = samples[1:] or samples
            detail[name]["warm_median"] = round(statistics.median(warm), 3)
            detail[name]["shared_memo"] = True

    throughput, rows = 0.0, 0
    if keep is None or "__headline__" in keep:
        # latency shape (400k spine): kept as a queries entry for
        # round-over-round continuity; NOT the headline value (its wall
        # time is mostly fixed per-job overhead — see module docstring)
        headline_job(spark)  # warmup (JIT/codegen)
        samples = []
        for _ in range(runs):
            secs, _ = headline_job(spark)
            samples.append(secs)
        record("headline_asof_window_materialization", samples)
        # throughput shape (4M spine, compute-dominated): the headline
        # value — matches the scaling gate's shape. Own warmup: the
        # first run at this scale pays one-off shuffle-buffer growth
        # (~6× the steady-state wall time measured at redefinition)
        headline_job(spark, TP_SEQ_DOCS, TP_SPINE_ROWS)
        samples = []
        for _ in range(runs):
            secs, rows = headline_job(spark, TP_SEQ_DOCS, TP_SPINE_ROWS)
            samples.append(secs)
        record("headline_throughput_4m", samples)
        throughput = rows / timings["headline_throughput_4m"]

    # queries sharing the memoized dedup pairs/groups intermediate —
    # their memo is cleared before run[0] so that run measures the full
    # cold rebuild (incl. upstream family members), not a cache hit
    memo_shared = ("ngram_jaccard", "dedup_groups", "leakage_safe_split")
    for name, fn in entrymod.queries().items():
        if keep is not None and name not in keep:
            continue
        samples = []
        for i in range(runs):
            if name in memo_shared and i == 0:
                getattr(entrymod, "_DEDUP_MEMO", {}).clear()
            t0 = time.monotonic()
            _noop_write(fn(spark, SF_DIR))
            samples.append(time.monotonic() - t0)
            # queries persist() reusable intermediates; drop them between
            # runs so 40+ cached lineages don't squeeze the executor heap
            # (also keeps every run cache-cold — comparable)
            spark.catalog.clearCache()
        record(name, samples, shared_memo=name in memo_shared)
        # nudge the JVM to collect between queries so garbage from query
        # N doesn't inflate query N+40's times (measured late-suite
        # drift, VERDICT r03 #4); one System.gc() hint costs ~10 ms
        spark.sparkContext._jvm.System.gc()

    # KEY ORDER IS LOAD-BEARING: the driver's BENCH artifact stores only
    # the LAST 2000 stdout chars, so the big queries_detail blob goes
    # first and the headline metric/value go LAST on the line
    # (VERDICT r04 "What's wrong" #1 — the r04 headline value was
    # truncated out of the artifact because "value" printed first).
    print(
        json.dumps(
            {
                "queries_detail": detail,
                "queries": timings,
                "bench_runs": runs,
                "cpus": CPUS,
                "sf": 0.1 if SF_DIR.rstrip("/").endswith("sf0.1") else SF_DIR,
                "headline_shape": "throughput_4m (round-4 redefinition; "
                "queries.headline_asof_window_materialization is the old "
                "400k latency shape, see BENCH/BASELINE.md)",
                "headline_rows": rows,
                "metric": "asof_window_materialization_throughput",
                "unit": "seq/sec",
                "value": round(throughput, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
