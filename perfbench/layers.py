"""Outside-in tracing for the engine benchmark.

Every number here is taken from outside the program: Spark's own event
log (switched on by the benchmark through ``PYSPARK_SUBMIT_ARGS``), a
benchmark-registered ``StreamingQueryListener``, the block manager's RDD
storage report, ``/proc`` and the sink directory the stream wrote.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from collections import defaultdict
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

MB = 1 << 20

# SQL accumulables the Python/Arrow exec nodes publish (mapInPandas,
# mapInArrow, Arrow-evaluated UDFs); sizes in bytes, times in ms
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"

TASK_FIELDS = (
    "tasks", "deser_ms", "run_ms", "cpu_ns", "gc_ms", "sched_ms", "wall_ms",
    "input_bytes", "input_rows", "shuffle_write", "shuffle_read", "spill_disk",
    "py_sent", "py_recv", "py_start_ms", "py_run_ms",
)
# driver-side scan metric; the executors' bytesRead misses most parquet reads
FILES_READ = "size of files read"


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(path: Path) -> dict[str, dict[str, float]]:
    """Fold one application's JSON-lines event log into per-job-group
    totals (``TASK_FIELDS`` plus ``jobs`` and ``stages``). Jobs outside any
    group (set-up work) fold under ``""``; a stream's micro-batches carry
    its run id as their group. ``input_bytes`` is the scans' driver-side
    "size of files read"."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_read_ids: set[int] = set()
    files_read: dict[int, float] = defaultdict(float)  # SQL execution id -> bytes
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages: dict[str, set[int]] = defaultdict(set)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                for prop in ("spark.sql.execution.id", "spark.sql.execution.root.id"):
                    if prop in props:
                        exec_group.setdefault(int(props[prop]), group)
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                files_read_ids.update(_metric_ids(e["sparkPlanInfo"], FILES_READ))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    if acc_id in files_read_ids:
                        files_read[e["executionId"]] += value
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"], "")
                stages[group].add(e["Stage ID"])
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                g = out[group]
                g["tasks"] += 1
                wall = info["Finish Time"] - info["Launch Time"]
                getting = (
                    info["Finish Time"] - info["Getting Result Time"]
                    if info.get("Getting Result Time") else 0
                )
                deser, run = m.get("Executor Deserialize Time", 0), m.get("Executor Run Time", 0)
                g["wall_ms"] += wall
                g["deser_ms"] += deser
                g["run_ms"] += run
                g["cpu_ns"] += m.get("Executor CPU Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["sched_ms"] += max(
                    0, wall - deser - run - m.get("Result Serialization Time", 0) - getting
                )
                g["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["spill_disk"] += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables") or ():
                    name = acc.get("Name")
                    if name == PY_SENT:
                        g["py_sent"] += _num(acc.get("Update"))
                    elif name == PY_RECV:
                        g["py_recv"] += _num(acc.get("Update"))
                    elif name == PY_START:
                        g["py_start_ms"] += _num(acc.get("Update"))
                    elif name == PY_RUN:
                        g["py_run_ms"] += _num(acc.get("Update"))
    for group, ids in stages.items():
        out[group]["stages"] = len(ids)
    for execution, size in files_read.items():
        out[exec_group.get(execution, "")]["input_bytes"] += size
    return {g: dict(v) for g, v in out.items()}


def _metric_ids(plan: dict, name: str):
    """Accumulator ids of every ``name`` metric in a SQL plan-info tree."""
    for m in plan.get("metrics", ()):
        if m["name"] == name:
            yield m["accumulatorId"]
    for child in plan.get("children", ()):
        yield from _metric_ids(child, name)


def spark_layers(groups: list[dict[str, float]], n_queries: int, wall_s: float, cpus: int) -> dict[str, float]:
    """Scheduler/executor, shuffle, source and Python-boundary layer
    metrics from folded event-log groups."""
    t = {k: sum(g.get(k, 0.0) for g in groups) for k in (*TASK_FIELDS, "jobs", "stages")}
    fixed_ms = t["deser_ms"] + t["sched_ms"]
    cpu_s = t["cpu_ns"] / 1e9
    n = max(n_queries, 1)
    return {
        "sources.input_mb": t["input_bytes"] / MB,
        "sources.input_rows": t["input_rows"],
        "spark.jobs_per_query": t["jobs"] / n,
        "spark.stages_per_query": t["stages"] / n,
        "spark.tasks_per_query": t["tasks"] / n,
        "spark.deser_s": t["deser_ms"] / 1e3,
        "spark.sched_delay_s": t["sched_ms"] / 1e3,
        "spark.task_wall_s": t["wall_ms"] / 1e3,
        "spark.fixed_share": fixed_ms / t["wall_ms"] if t["wall_ms"] else 0.0,
        "spark.run_s": t["run_ms"] / 1e3,
        "spark.cpu_s": cpu_s,
        "spark.gc_s": t["gc_ms"] / 1e3,
        "spark.cpu_util": cpu_s / (wall_s * cpus) if wall_s else 0.0,
        "shuffle.write_mb": t["shuffle_write"] / MB,
        "shuffle.read_mb": t["shuffle_read"] / MB,
        "spill.disk_mb": t["spill_disk"] / MB,
        "python.sent_mb": t["py_sent"] / MB,
        "python.recv_mb": t["py_recv"] / MB,
        "python.worker_start_s": t["py_start_ms"] / 1e3,
        "python.worker_run_s": t["py_run_ms"] / 1e3,
    }


def event_log_file(log_dir: Path, app_id: str) -> Path:
    """The uncompressed, non-rolling log Spark writes for ``app_id``."""
    path = log_dir / app_id
    if not path.is_file():
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress (as parsed JSON) in memory, each
    with the process tree's CPU seconds when its event arrived
    (``"cpu_s"``), so CPU per batch is the difference of neighbours."""

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        cpu = tree_cpu_s(self.root_pid)
        self.progress.append({**json.loads(event.progress.json), "cpu_s": cpu})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def batch_seconds(progress: list[dict]) -> list[float]:
    """Per-micro-batch ``triggerExecution`` in seconds, batches with input only."""
    return [p["durationMs"]["triggerExecution"] / 1e3 for p in progress if p["numInputRows"] > 0]


def progress_wall_s(batches: list[dict]) -> float:
    """Wall seconds from the first batch's trigger start to the last
    batch's end, on Spark's own clock."""
    from datetime import datetime

    def start(p: dict) -> float:
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    last = batches[-1]
    return start(last) + last["durationMs"]["triggerExecution"] / 1e3 - start(batches[0])


def _slope(ys: list[float]) -> float:
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(ys)
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum((i - mx) ** 2 for i in range(n))


def stream_layers(progress: list[dict], distinct_ids: int, warmup: int) -> dict[str, float]:
    """Per-trigger phases (steady-state batches, after ``warmup``) and
    state-store metrics (all batches) of one stateful stream."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]

    def phase(name: str) -> float:
        return statistics.median(p["durationMs"].get(name, 0) for p in batches[warmup:]) / 1e3

    def custom(op: dict, name: str) -> float:
        return _num(op.get("customMetrics", {}).get(name, 0))

    last = ops[-1]
    snapshot = [v for k, v in last.get("customMetrics", {}).items() if k.startswith("SnapshotLastUploaded")]
    return {
        "stream.add_batch_s.p50": phase("addBatch"),
        "stream.wal_commit_s.p50": phase("walCommit"),
        "stream.commit_offsets_s.p50": phase("commitOffsets"),
        "stream.latest_offset_s.p50": phase("latestOffset"),
        "stream.query_planning_s.p50": phase("queryPlanning"),
        "stream.batch_slope_ms": _slope([b * 1e3 for b in batch_seconds(progress)[warmup:]]),
        "state.load_s.p50": statistics.median(custom(o, "rocksdbLoadLatencyMs") for o in ops) / 1e3,
        "state.replay_files.max": max(custom(o, "rocksdbNumReplayChangelogFiles") for o in ops),
        "state.commit_s.p50": statistics.median(o["commitTimeMs"] for o in ops) / 1e3,
        "state.snapshot_version": max(snapshot) if snapshot else -1.0,
        "state.instances_per_partition": last["numStateStoreInstances"] / last["numShufflePartitions"],
        "state.rows_per_key": last["numRowsTotal"] / max(distinct_ids, 1),
        "state.memory_mb": max(o["memoryUsedBytes"] for o in ops) / MB,
    }


def sink_layers(out_dir: Path, n_batches: int) -> dict[str, float]:
    files = [p for p in out_dir.rglob("part-*") if p.is_file()]
    dirs = {p.parent for p in files}
    return {
        "sink.files": len(files),
        "sink.dirs": len(dirs),
        "sink.files_per_batch": len(files) / max(n_batches, 1),
        "sink.mb": sum(p.stat().st_size for p in files) / MB,
    }


def storage_snapshot(spark) -> tuple[int, float, float]:
    """(cached RDDs, memory MB, disk MB) from the block manager right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return (
        len(cached),
        sum(i.memSize() for i in cached) / MB,
        sum(i.diskSize() for i in cached) / MB,
    )


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid() -> int:
    """Pid of the driver JVM this Python process launched."""
    me = str(os.getpid())
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
            comm = (d / "comm").read_text().strip()
        except OSError:
            continue
        if comm == "java" and stat.rsplit(")", 1)[1].split()[1] == me:
            return int(d.name)
    raise RuntimeError("driver JVM not found among this process's children")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live descendant: the driver, its JVM and the JVM's Python
    workers."""
    stats: dict[int, tuple[int, float]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid = int(fields[1])
        stats[int(d.name)] = (ppid, sum(int(x) for x in fields[11:15]))
    tick = os.sysconf("SC_CLK_TCK")

    def under(pid: int) -> bool:
        while pid > 1:
            if pid == root:
                return True
            pid = stats.get(pid, (0, 0))[0]
        return False

    return sum(t for pid, (_, t) in stats.items() if under(pid)) / tick


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share_since(before: tuple[int, int]) -> float:
    """Share of all CPU time the hypervisor stole since ``before``."""
    steal, total = steal_ticks()
    return round((steal - before[0]) / max(total - before[1], 1), 4)

