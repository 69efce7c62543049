"""Measurement helpers: /proc sampling, Spark event-log spans and
executed-plan walks. None of them changes what Spark executes."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                children[int(st[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu(pid: int) -> float:
    """utime + stime of the process and its reaped children, seconds."""
    st = _stat(pid)
    return sum(int(x) for x in st[11:15]) / _TICK if st else 0.0


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcProbe:
    """CPU-seconds and peak RSS of the JVM and its Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.worker_peak_mb = 0.0

    def cpu(self) -> tuple[float, float]:
        """(JVM + workers, workers only) cumulative CPU-seconds."""
        pids = descendants(self.jvm_pid)
        workers = sum(_cpu(p) for p in pids if p != self.jvm_pid)
        return _cpu(self.jvm_pid) + workers, workers

    def sample_rss(self) -> None:
        pids = descendants(self.jvm_pid)
        self.worker_peak_mb = max(
            self.worker_peak_mb, sum(_hwm_mb(p) for p in pids if p != self.jvm_pid)
        )

    def peak_rss_mb(self) -> float:
        self.sample_rss()
        return _hwm_mb(self.jvm_pid) + self.worker_peak_mb


# --------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``,
    in order; handles rolling ``eventlog_v2_*/events_<n>_*`` files and
    the single-file layout."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(re.search(r"events_(\d+)_", os.path.basename(p)).group(1)))
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def group_stats(events: list[dict]) -> dict[str, dict]:
    """Task metrics summed per job group: jobs, tasks, cpu_s, gc_s,
    shuffle_bytes, spill_bytes, bytes_read, bytes_written and task_skew
    (max ÷ median task run time in the group's busiest stage)."""
    stage_group, out = {}, defaultdict(lambda: defaultdict(float))
    stage_tasks = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            g = out[group]
            g["tasks"] += 1
            g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            g["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            g["bytes_read"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            g["bytes_written"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            stage_tasks[(group, ev["Stage ID"])].append(tm.get("Executor Run Time", 0))
    busiest = {}
    for (group, _sid), times in stage_tasks.items():
        if sum(times) > sum(busiest.get(group, [])):
            busiest[group] = times
    for group, times in busiest.items():
        med = statistics.median(times)
        out[group]["task_skew"] = max(times) / med if med else 1.0
    return {g: dict(v) for g, v in out.items()}


# ------------------------------------------------------------------ plans
COUNTED_NODES = {
    "exchanges": ("Exchange",),
    "sorts": ("Sort",),
    "windows": ("Window",),
    "arrow_eval_python": ("ArrowEvalPython",),
    "flatmap_cogroups_in_arrow": ("FlatMapCoGroupsInArrow", "FlatMapCoGroupsInPandas"),
    "broadcast_exchanges": ("BroadcastExchange",),
}
_STAGES = ("ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage", "ResultQueryStage")


def _walk(node, out: list, into_cache: bool) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _walk(node.executedPlan(), out, into_cache)
    if name in _STAGES:
        return _walk(node.plan(), out, into_cache)
    metrics = node.metrics()
    rows, size = metrics.get("numOutputRows"), metrics.get("filesSize")
    out.append((
        name,
        rows.get().value() if rows.isDefined() else None,
        size.get().value() if size.isDefined() else 0,
    ))
    if name == "InMemoryTableScan":
        # a cached frame's plan counts once: in the span that executes
        # the cached frame itself, not in the spans that read it later
        if into_cache:
            _walk(node.relation().cachedPlan(), out, False)
        return None
    kids = node.children()
    for i in range(kids.size()):
        _walk(kids.apply(i), out, into_cache)
    return None


def execute(df) -> dict:
    """Run ``df`` to completion without collecting it (every row and
    column is produced, like a noop sink) and summarise its final
    executed plan: its row count, node counts per COUNTED_NODES kind, the
    largest row count any join emitted and the bytes of the files its
    scans read."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    nodes: list = []
    _walk(qe.executedPlan(), nodes, df.is_cached)
    counts = {k: sum(n in names for n, _, _ in nodes) for k, names in COUNTED_NODES.items()}
    counts["join_rows"] = max((r for n, r, _ in nodes if "Join" in n and r is not None), default=0)
    counts["files_bytes"] = sum(size for _, _, size in nodes)
    counts["rows"] = rows
    return counts
