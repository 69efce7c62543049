"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pit_train_uniform --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The engine runs on local[nproc] with
shuffle partitions equal to the core count, in a closed loop: one driver
issues one iteration at a time. Every iteration's output is checked
against a DuckDB digest of the same inputs.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` reports the per-layer ones, from a separate session with
the Spark event log on. The last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 9  # timed set-ups per run; setup_s is their median


def _engine():
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import feast_spark

    if not os.path.abspath(feast_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"feast_spark imported from outside {ROOT}")
    return feast_spark


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def ensure_inputs(workload: str, seed: int, traced: bool) -> dict:
    """Generate the inputs and their expected digests once per (workload,
    seed); later runs reuse them from the on-disk cache. The traced-only
    digest is computed on the first traced run."""
    import inputs
    import oracle
    import pyarrow.parquet as pq

    # the cache key covers the generator and oracle code, so a changed
    # size or digest definition never reuses stale files
    code = hashlib.sha1()
    for module in (inputs, oracle):
        with open(module.__file__, "rb") as f:
            code.update(f.read())
    out = os.path.join(WORK, "inputs", f"{workload}-{seed}-{code.hexdigest()[:8]}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["traced_digest"] is not None or not traced:
            return meta
        meta["traced_digest"] = oracle.digests(workload, meta["paths"])[1]
    else:
        paths = inputs.build(workload, seed, out)
        digest, traced_digest = oracle.digests(workload, paths, traced)
        meta = {
            "paths": paths,
            "units": pq.ParquetDataset(paths["spine"]).read(columns=[]).num_rows,
            "digest": digest,
            "traced_digest": traced_digest,
        }
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def start_session(event_log_dir: str | None = None):
    from feast_spark import get_spark

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # A fixed 2 GB heap and the C1 JIT only. With a growing heap the
        # spreads of every timed metric tripled; with C2 an iteration kept
        # getting faster for a minute, longer than a run can afford to
        # warm up (figures in METRICS.md).
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)  # Spark refuses to start without it
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", parallelism=nproc, shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(jvm_pid: int) -> None:
    """Stop the JVM pyspark launched and wait until it and every process
    below it (the Python workers) have exited."""
    from probe import descendants
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = descendants(jvm_pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


@dataclass
class Tally:
    """Checked iterations: attempted, failed (raised or wrong digest)."""

    expected: dict
    attempted: int = 0
    failed: int = 0

    def check(self, wl) -> bool:
        try:
            return self.verify(self.expected, wl.run)
        finally:
            wl.cleanup()

    def verify(self, expected: dict, compute) -> bool:
        import oracle

        self.attempted += 1
        try:
            bad = oracle.mismatches(expected, compute())
        except Exception:  # a failed iteration is a result, not a crash
            traceback.print_exc()
            bad = ["raised"]
        if bad:
            self.failed += 1
            print(f"digest mismatch: {bad}", file=sys.stderr)
        return not bad


@dataclass
class Span:
    wall: float = 0.0
    worker_cpu: float = 0.0
    rows: int = 0
    plan: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)

    def stat(self, key: str) -> float:
        return self.stats.get(key, 0.0)


def timed_loop(wl, tally, probe, seconds: float):
    """Checked iterations for about ``seconds``: another one starts only
    while at least half of it would still fit, so a workload whose
    iteration outlasts the window measures exactly one. Returns each
    iteration's wall time and CPU time, and the phase wall times of each
    correct one (the whole iteration is one phase unless the workload
    records laps)."""
    walls, cpus, laps = [], [], []
    deadline = time.monotonic() + seconds
    while not walls or time.monotonic() + walls[-1] / 2 < deadline:
        cpu0, t0 = probe.cpu()[0], time.monotonic()
        ok = tally.check(wl)
        walls.append(time.monotonic() - t0)
        cpus.append(probe.cpu()[0] - cpu0)
        if ok:
            laps.append(dict(wl.laps) or {"iteration": walls[-1]})
        probe.sample_rss()
    return walls, cpus, laps


def fastest_iteration_s(laps: list[dict]) -> float:
    """The sum over phases of each phase's fastest time. Interference
    from other tenants only ever adds time, and it comes in bursts that
    hit one phase of one iteration, so this lower envelope is the
    steadiest estimate of the engine's own cost."""
    return sum(min(lap[p] for lap in laps) for p in laps[0])


def traced_pass(wl, probe) -> dict[str, Span]:
    """Run every span of the workload once, each in a job group named
    after it; event-log stats are attached after the session."""
    from probe import COUNTED_NODES, execute
    from pyspark.sql import DataFrame

    sc = wl.spark.sparkContext
    spans = {}
    for name, thunk in wl.spans():
        sc.setJobGroup(name, name)
        span = Span()
        w0, t0 = probe.cpu()[1], time.monotonic()
        frames = thunk()
        frames = [frames] if isinstance(frames, DataFrame) else frames or []
        span.plan = dict.fromkeys([*COUNTED_NODES, "join_rows", "files_bytes"], 0)
        for df in frames:
            plan = execute(df)
            span.rows += plan.pop("rows")
            for k, v in plan.items():
                span.plan[k] += v
        span.wall = time.monotonic() - t0
        span.worker_cpu = probe.cpu()[1] - w0
        spans[name] = span
    sc.setJobGroup("idle", "idle")
    wl.cleanup()
    return spans


def per_layer(wl, spans, full_stats, session_starts, overhead) -> dict:
    """Per-layer metrics: the traced pass's spans, Spark totals of the
    traced full iteration, session starts and the tracing overhead."""
    from probe import COUNTED_NODES

    scan = spans["source.scan"]
    out = {
        "source.scan_s": scan.wall,
        "source.scan_cpu_s": scan.stat("cpu_s"),
        "source.bytes_read": scan.plan["files_bytes"],
    }
    for k in COUNTED_NODES:
        out[f"plan.{k}"] = sum(spans[n].plan[k] for n in wl.plan_spans)
    out.update(wl.layer_metrics(spans))
    for k in ("jobs", "tasks", "gc_s", "shuffle_bytes", "spill_bytes"):
        out[f"spark.{k}"] = full_stats.get(k, 0.0)
    out["session.start_s"] = statistics.median(session_starts)
    out["trace.overhead_s"] = overhead
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, HERE)
    _engine()
    spec = _spec()
    from probe import ProcProbe, group_stats, read_event_log
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    t_start = time.monotonic()
    meta = ensure_inputs(args.workload, args.seed, bool(args.trace))
    inputs_s = time.monotonic() - t_start
    tally = Tally(meta["digest"])
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    event_log = os.path.join(run_dir, "eventlog")

    # The first session launches the JVM, runs the untimed warm-up
    # iteration (JIT, codegen, Python workers) and then the timed loop.
    # Only after that, in a JVM whose code is warm, the set-up is timed
    # SETUPS times: a new session and the workload's construction (views
    # and stores applied). setup_s is their median. A traced run uses the
    # last of these sessions, which has the event log on.
    t0 = time.monotonic()
    spark = start_session()
    wl = wl_cls(spark, meta["paths"], meta["units"], run_dir)
    launch_s = time.monotonic() - t0
    probe = ProcProbe(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    t0 = time.monotonic()
    tally.check(wl)
    warmup_s = time.monotonic() - t0
    walls, cpus, laps = timed_loop(wl, tally, probe, args.seconds / 3 if args.trace else args.seconds)
    peak_rss_mb = probe.peak_rss_mb()
    # every set-up starts from a collected heap, not from whatever garbage
    # the timed loop left behind
    spark._jvm.System.gc()
    gc.collect()
    setups, session_starts = [], []
    for k in range(SETUPS):
        spark.stop()
        t0 = time.monotonic()
        spark = start_session(event_log if args.trace and k == SETUPS - 1 else None)
        session_starts.append(time.monotonic() - t0)
        wl = wl_cls(spark, meta["paths"], meta["units"], run_dir)
        setups.append(time.monotonic() - t0)

    if not args.trace:
        metrics = {
            "rows_per_s": meta["units"] / fastest_iteration_s(laps) if laps else 0.0,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": peak_rss_mb,
            "setup_s": statistics.median(setups),
        }
        print(
            f"{args.workload}: {len(walls)} timed runs of {meta['units']} units; wall s "
            f"{[round(w, 3) for w in walls]} (too few for a tail percentile); "
            f"setups s {[round(s, 3) for s in setups]}; inputs {inputs_s:.1f} s, "
            f"JVM launch {launch_s:.1f} s, warm-up {warmup_s:.1f} s"
        )
    else:
        # the traced session is new, so one checked iteration warms it
        # first; then one traced pass (with connected components 25-40 s)
        spark.sparkContext.setJobGroup("warm-up", "warm-up")
        tally.check(wl)
        spans = traced_pass(wl, probe)
        if meta["traced_digest"]:
            tally.verify(meta["traced_digest"], lambda: wl.box["traced_digest"])
        spark.sparkContext.setJobGroup("full", "full")
        t0 = time.monotonic()
        tally.check(wl)
        full = time.monotonic() - t0
        spark.stop()  # flushes the event log
        stats = group_stats(read_event_log(event_log))
        for name, span in spans.items():
            span.stats = stats.get(name, {})
        overhead = full - statistics.median(walls)
        metrics = per_layer(wl, spans, stats.get("full", {}), session_starts, overhead)
        print(
            f"{args.workload}: untraced wall s {walls}, traced {full}; "
            f"inputs {inputs_s:.1f} s, JVM launch {launch_s:.1f} s, warm-up {warmup_s:.1f} s"
        )
    spark.stop()
    stop_jvm(probe.jvm_pid)
    shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
