#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload stream_ref --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see ``perfbench/README.md``):

- ``stream_ref``: the reference consumer loop at 1,000-event arrivals,
  one micro-batch per arrival: file source -> null-id quarantine ->
  ``dropDuplicates(event_id)`` on RocksDB state -> y/m/d/h JSON sink.
- ``batch``: oracle-backed analytics keys over sf0.01 tables, each once in
  seed-shuffled order (the interactive part), then oracle-backed dedup and
  similarity keys over sf0.1 documents and embeddings in pipeline order
  (the LLM-curation part).

Inputs are generated from ``--seed`` before any clock starts. The timed
region's work is fixed per workload and sized from ``--seconds``. Outputs
are checked after the timed region (sink read-back against the
generator's truth, or DuckDB oracles); a wrong output fails the run.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs again with
Spark's event log on, a job group per key and, for the stream, a serial
(1-CPU) repeat, and prints the per-layer metrics instead. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; the line before
it carries per-run detail (per-key times, batch times, host load).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("stream_ref", "batch")

ANALYTICS_MODULES = (
    "relational", "windows", "setops", "asof", "subqueries",
    "sessionize", "twophase", "scale", "tpch", "flagship",
)
CURATION_MODULES = ("dedup", "similarity")
# The curation part's fixed key set, in pipeline order, one per layer the
# workload is for: exact hashing, the session-cached MinHash signature and
# shingle relations, the mapInArrow pair cosine, brute-force vector search.
# The order is fixed (the seed varies the corpus): the first key of a
# cache-sharing family pays the shared build, so a shuffled order would
# move that build between keys from seed to seed.
CURATION_KEYS = (
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram_jaccard",
    "q_dedup_embedding", "q_sim_search",
)
# Seconds all 124 oracle-backed analytics keys take in a benchmark run on
# the 4-core reference host. The analytics part runs for about
# ANALYTICS_S_PER_S x --seconds, so it takes that share of every module.
FULL_SWEEP_S = 140.0
ANALYTICS_S_PER_S = 2.0
# Steady-state arrivals measured per second of --seconds (a micro-batch
# takes ~0.75 s on the reference host, so 30 arrivals take ~22 s), and the
# arrivals drained first to reach steady state (query start-up, RocksDB
# open, JIT); they are reported but not measured.
ARRIVALS_PER_S = 3.0
WARMUP_ARRIVALS = 4
SERIAL_ARRIVALS = 14  # drained by each run of the traced serial baseline


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: Path, trace: bool) -> int:
    """Pin what the engine and its Spark/Python children see, before the
    JVM starts. Returns the CPU count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    for d in (tmp, work / "local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    # Spark's Python workers do not inherit sys.path; without this every
    # mapInPandas/mapInArrow key dies on ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if trace:
        (work / "eventlog").mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return cpus


def pick_keys(registry, modules: tuple[str, ...], share: float) -> list[str]:
    """``ceil(share * n)`` evenly spaced oracle-backed keys of each module,
    in registration order, so every module is measured and the set is the
    same for every seed."""
    by_module: dict[str, list[str]] = {m: [] for m in modules}
    for key, fn in registry.QUERIES.items():
        module = fn.__module__.rsplit(".", 1)[-1]
        if key in registry.ORACLES and module in by_module:
            by_module[module].append(key)
    picked = []
    for module in modules:
        keys = by_module[module]
        k = min(len(keys), math.ceil(share * len(keys)))
        picked += [keys[(i * len(keys)) // k] for i in range(k)]
    return picked


class Collected:
    """A result already brought to the driver, in the shape
    ``oracle.compare`` reads."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 (DataFrame API name)
        return self.pdf


class Bench:
    """One run: inputs, set-up, the timed workload, its check and (traced)
    the layer fold. ``metrics`` collects every number by its published name."""

    def __init__(self, args: argparse.Namespace, work: Path, cpus: int, import_s: float) -> None:
        self.args, self.work, self.cpus, self.import_s = args, work, cpus, import_s
        self.trace = bool(args.trace)
        self.metrics: dict[str, float] = {}
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus}
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.spark = None

    # -- set-up ------------------------------------------------------
    def set_up(self, warm_tables: list[Path]) -> dict[str, float]:
        """get_spark -> registry.load_all -> warmup sweep: table footers, one
        join/aggregate/window job over the first two tables (so planner,
        codegen and shuffle code is JIT-compiled before the first timed
        key), one Python-worker pass. Returns the phase times."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from kinesis_test_spark import registry
        from kinesis_test_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}")
        registry.load_all()
        t1 = time.perf_counter()
        frames = [self.spark.read.parquet(str(path)) for path in warm_tables]  # reads the footers
        if len(frames) > 1:
            a, b = (f.select(F.col(f.columns[0]).alias("k"), *f.columns[1:]) for f in frames[:2])
            joined = a.join(b.withColumnRenamed("k", "k2"), F.col("k") == F.col("k2"), "left")
            joined.groupBy("k").agg(F.count(F.lit(1)).alias("n")).withColumn(
                "r", F.rank().over(Window.orderBy(F.desc("n"), "k"))
            ).write.format("noop").mode("overwrite").save()
        self.spark.range(1, numPartitions=1).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        t2 = time.perf_counter()
        return {"start_s": t1 - t0, "warmup_s": t2 - t1}

    def set_up_cold(self, warm_tables: list[Path]) -> None:
        """The process's one set-up, on which the workload runs. ``setup_s``
        is process start to the first timed operation: imports, JVM launch,
        ``get_spark``, ``load_all`` and the warmup sweep, without the input
        generation in between."""
        phases = self.set_up(warm_tables)
        start = self.import_s + phases["start_s"]
        self.metrics.update({
            "session.start_s": start,
            "session.warmup_s": phases["warmup_s"],
            "setup_s": start + phases["warmup_s"],
        })
        self.detail["setup_s"] = {"start_s": round(start, 4), "warmup_s": round(phases["warmup_s"], 4)}

    # -- stream_ref --------------------------------------------------
    def stream_ref(self) -> None:
        import gen
        import layers

        measured = max(3, round(ARRIVALS_PER_S * self.args.seconds))
        n_arrivals = WARMUP_ARRIVALS + measured
        stage, sf = self.work / "stage", self.work / "sf"
        t = time.perf_counter()
        truth = gen.write_arrivals(stage, self.args.seed, n_arrivals)
        sf.mkdir()
        shutil.copy(stage / "arrival_00000.parquet", sf / "events.parquet")  # the stream's schema
        self.metrics["gen_s"] = time.perf_counter() - t
        self.set_up_cold([sf / "events.parquet"])

        self.attempted = n_arrivals
        steal0 = layers.steal_ticks()
        drain, progress = self.drain(stage, sf, self.work / "run")
        self.detail["steal_share"] = layers.steal_share_since(steal0)
        self.mark_peak_rss()
        batches = layers.batch_seconds(progress)
        self.failed = n_arrivals - len(batches)
        if len(batches) <= WARMUP_ARRIVALS:
            raise RuntimeError(f"stream_ref: the stream did not reach steady state: {self.problems}")
        done = [p for p in progress if p["numInputRows"] > 0]
        steady = done[WARMUP_ARRIVALS:]
        wall = layers.progress_wall_s(steady)
        # CPU of batch i: from the previous batch's progress event to its own
        cpu = [b["cpu_s"] - a["cpu_s"] for a, b in zip(done[WARMUP_ARRIVALS - 1:], steady)]
        self.record(
            wall_s=wall, rows=sum(p["numInputRows"] for p in steady), op_wall=batches[WARMUP_ARRIVALS:],
            op_cpu=cpu,
        )
        self.metrics.update({"stream.drain_s": drain, "stream.first_batch_s": batches[0]})
        self.detail.update(
            arrivals=n_arrivals, warmup_arrivals=WARMUP_ARRIVALS, input_rows=truth.input_rows,
            replayed_rows=truth.replayed_rows, distinct_events=len(truth.ids),
            hours=len(truth.per_hour), batch_s=[round(b, 4) for b in batches],
            steady_batch_cpu_s=[round(c, 3) for c in cpu],
        )
        self.check_sink(self.work / "run" / "out", truth)
        if not self.trace:
            return
        self.metrics.update(layers.stream_layers(progress, len(truth.ids), WARMUP_ARRIVALS))
        self.metrics.update(layers.sink_layers(self.work / "run" / "out", len(batches)))
        groups = self.stop_and_fold()
        self.metrics.update(layers.spark_layers(
            [g for name, g in groups.items() if name], len(batches), drain, self.cpus
        ))
        # serial baseline: the same job over the first SERIAL_ARRIVALS
        # arrivals on a 1-CPU context, against a repeat on all CPUs, both in
        # the now-warm JVM (shorter than the measured drain, so that the
        # traced run stays within its time limit)
        serial = self.work / "serial_stage"
        serial.mkdir()
        for path in sorted(stage.glob("*.parquet"))[:SERIAL_ARRIVALS]:
            shutil.copy2(path, serial / path.name)  # keeps the arrival order's mtimes
        walls = {}
        for cpus in (1, self.cpus):
            os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
            self.set_up([sf / "events.parquet"])
            walls[cpus], _ = self.drain(serial, sf, self.work / f"cpus{cpus}")
            self.spark.stop()
        self.metrics["stream.speedup_vs_1cpu"] = walls[1] / walls[self.cpus]
        self.detail["warm_drain_s_by_cpus"] = walls

    def drain(self, stage: Path, sf: Path, out: Path) -> tuple[float, list[dict]]:
        """The reference chain over the staged arrivals, drained once
        (availableNow, one arrival per trigger). Returns wall seconds and
        the listener's progress records."""
        import layers
        from pyspark.sql import functions as F

        from kinesis_test_spark.streaming.pipeline import (
            partitioned_json_sink,
            read_staged_stream,
            sized_state,
            state_partitions_for,
        )

        spark = self.spark
        listener = layers.ProgressListener(os.getpid())
        spark.streams.addListener(listener)
        expected = len(list(stage.glob("*.parquet")))
        try:
            t0 = time.perf_counter()
            try:
                stream = (
                    read_staged_stream(spark, str(sf), stage, maxFilesPerTrigger=1)
                    .filter(F.col("event_id").isNotNull())
                    .dropDuplicates(["event_id"])
                )
                with sized_state(spark, state_partitions_for(spark, stage)):
                    partitioned_json_sink(stream, out / "out", out / "cp")
            except Exception:  # a failed micro-batch ends the query; it is counted
                self.problems.append(f"stream: {traceback.format_exc(limit=3)}")
            wall = time.perf_counter() - t0
            # progress events reach Python asynchronously, after the drain
            deadline = time.monotonic() + 20
            while len(listener.progress) < expected and time.monotonic() < deadline:
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(listener)
        return wall, list(listener.progress)

    def check_sink(self, out: Path, truth) -> None:
        """Every distinct non-null event exactly once, in its event-time
        y/m/d/h directory, with per-hour counts equal to the generator's."""
        seen: set[int] = set()
        per_hour: dict[tuple, int] = {}
        dupes = misplaced = 0
        for part in out.rglob("part-*"):
            hour = tuple(int(p.split("=", 1)[1]) for p in part.parent.relative_to(out).parts)
            with open(part) as f:
                for line in f:
                    row = json.loads(line)
                    dupes += row["event_id"] in seen
                    seen.add(row["event_id"])
                    per_hour[hour] = per_hour.get(hour, 0) + 1
                    ts = row["ts"]  # "yyyy-MM-dd HH:mm:ss..."
                    misplaced += hour != (int(ts[:4]), int(ts[5:7]), int(ts[8:10]), int(ts[11:13]))
        if dupes:
            self.problems.append(f"sink holds {dupes} duplicate event ids")
        if misplaced:
            self.problems.append(f"{misplaced} sink rows in the wrong y/m/d/h directory")
        if seen != truth.ids:
            self.problems.append(
                f"sink ids differ: {len(seen - truth.ids)} extra, {len(truth.ids - seen)} missing"
            )
        if per_hour != dict(truth.per_hour):
            self.problems.append("per-hour counts differ from the generator's truth")

    # -- batch -------------------------------------------------------
    def batch(self) -> None:
        """The interactive keys once each in seed-shuffled order, then the
        curation keys in pipeline order, over sf0.01 tables with sf0.1
        documents and embeddings."""
        import gen
        import layers

        from kinesis_test_spark import oracle, registry
        from kinesis_test_spark.sources import TABLES

        tables = self.work / "tables"
        t = time.perf_counter()
        rows = gen.write_tables(tables, self.args.seed, sf=0.01, text_sf=0.1)
        self.metrics["gen_s"] = time.perf_counter() - t
        # orders and lineitem first: the warmup job joins them
        names = ["orders", "lineitem"] + [n for n in TABLES if n not in ("orders", "lineitem")]
        self.set_up_cold([tables / f"{name}.parquet" for name in names])

        share = min(1.0, ANALYTICS_S_PER_S * self.args.seconds / FULL_SWEEP_S)
        keys = pick_keys(registry, ANALYTICS_MODULES, share)
        random.Random(self.args.seed).shuffle(keys)
        keys += CURATION_KEYS
        self.attempted = len(keys)
        spark, sc = self.spark, self.spark.sparkContext
        results, times, cpus, per_key, bad = {}, [], [], {}, set()
        cache = (0, 0.0, 0.0)
        steal0 = layers.steal_ticks()
        first = time.perf_counter()
        for key in keys:
            fn = registry.QUERIES[key]
            if self.trace:
                sc.setJobGroup(key, key)
            c0 = layers.tree_cpu_s(os.getpid())
            t0 = t1 = time.perf_counter()
            try:
                df = fn(spark, str(tables))
                t1 = time.perf_counter()
                results[key] = df.toPandas()  # forces the result; the check reads it
            except Exception:  # a failing key is counted and reported; the run goes on
                bad.add(key)
                self.problems.append(f"{key}: {traceback.format_exc(limit=3)}")
            t2 = time.perf_counter()
            times.append(t2 - t0)
            cpus.append(layers.tree_cpu_s(os.getpid()) - c0)
            per_key[key] = {
                "module": fn.__module__.rsplit(".", 1)[-1], "plan_s": t1 - t0, "exec_s": t2 - t1,
                "cpu_s": cpus[-1],
            }
            if self.trace:
                cache = tuple(map(max, cache, layers.storage_snapshot(spark)))
        total = time.perf_counter() - first
        self.detail["steal_share"] = layers.steal_share_since(steal0)
        self.mark_peak_rss()
        self.record(wall_s=total, rows=sum(rows.values()), op_wall=times, op_cpu=cpus)
        self.detail.update(keys=len(keys), input_rows=sum(rows.values()), per_key={
            k: {n: (round(v, 4) if isinstance(v, float) else v) for n, v in d.items()}
            for k, d in per_key.items()
        })

        con = oracle.duck_con(str(tables))
        try:
            for key, pdf in results.items():
                diff = oracle.compare(Collected(pdf), con.execute(registry.ORACLES[key]).df())
                if diff:
                    bad.add(key)
                    self.problems.append(f"{key}: {diff[:2]}")
        finally:
            con.close()
        self.failed = len(bad)
        if not self.trace:
            return
        for module in ANALYTICS_MODULES + CURATION_MODULES:
            mine = [d for d in per_key.values() if d["module"] == module]
            self.metrics[f"operators.{module}.plan_s"] = sum(d["plan_s"] for d in mine)
            self.metrics[f"operators.{module}.exec_s"] = sum(d["exec_s"] for d in mine)
        self.metrics.update(zip(("cache.rdds", "cache.mem_mb", "cache.disk_mb"), cache))
        groups = self.stop_and_fold()
        self.metrics.update(layers.spark_layers(
            [groups.get(k, {}) for k in keys], len(keys), total, self.cpus
        ))

    # -- measurement helpers -----------------------------------------
    def record(self, wall_s: float, rows: int, op_wall: list[float], op_cpu: list[float]) -> None:
        """The timed region's numbers: CPU seconds of the driver, JVM and
        Python workers, and wall-clock throughput and latency (``wall.*``)."""
        import layers

        self.metrics.update({
            "cpu_s": sum(op_cpu),
            # an operation under one clock tick reads 0 CPU; count it as one tick
            "op_cpu_s.geomean": statistics.geometric_mean(
                [max(c, 1 / os.sysconf("SC_CLK_TCK")) for c in op_cpu]
            ),
            "op_cpu_s.p50": statistics.median(op_cpu),
            "op_cpu_s.p90": layers.pct(op_cpu, 90),
            "wall.total_s": wall_s,
            "wall.rows_per_s": rows / wall_s,
            "wall.op_s.p50": statistics.median(op_wall),
            "wall.op_s.p90": layers.pct(op_wall, 90),
        })
        self.detail["timed"] = {
            k: round(v, 4) for k, v in self.metrics.items()
            if k.startswith(("cpu_s", "op_cpu", "wall.", "peak_rss"))
        }

    def stop_and_fold(self) -> dict[str, dict[str, float]]:
        """Stop the session (which closes its event log) and fold the log."""
        import layers

        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return layers.fold_event_log(layers.event_log_file(self.work / "eventlog", app))

    def mark_peak_rss(self) -> None:
        import layers

        self.metrics["peak_rss_mb"] = layers.vm_hwm_mb(os.getpid()) + layers.vm_hwm_mb(layers.jvm_pid())

    def report(self) -> dict[str, dict]:
        """The published metric set for this mode, as BENCHMARK.json names it."""
        with open(ROOT / "BENCHMARK.json") as f:
            spec = json.load(f)
        values = dict(self.metrics)
        values["failed_frac"] = self.failed / max(self.attempted, 1)
        if self.trace:  # end-to-end values under tracing, beside the untraced runs
            values.update({f"traced.{m['name']}": self.metrics[m["name"]] for m in spec["end_to_end"]})
        return {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer" if self.trace else "end_to_end"]
        }


def stop_jvm() -> None:
    """Close the driver JVM this process launched and wait for it to exit
    (its Python worker daemons exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def host_context() -> dict:
    """Host load around the run: context for reading it, not a gate."""
    from bench import burn_probe

    return {"loadavg": os.getloadavg(), "burn_probe_s": burn_probe()}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("kinesis_test_spark", "bench.py", "BENCHMARK.json") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: {ROOT} is not an engine checkout (missing {missing})", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpus = pin_env(work, bool(args.trace))
    sys.path[:0] = [str(HERE), str(ROOT)]
    bench = None
    try:
        import pyspark  # noqa: F401  (import cost is part of the cold set-up)

        from kinesis_test_spark import registry  # noqa: F401

        bench = Bench(args, work, cpus, time.perf_counter() - T_START)
        bench.detail["host_before"] = host_context()
        if args.workload == "stream_ref":
            bench.stream_ref()
        else:
            bench.batch()
        bench.detail["host_after"] = host_context()
        result = {
            "correct": not bench.problems,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": bench.report(),
        }
    finally:
        try:
            if bench is not None and bench.spark is not None:
                bench.spark.stop()
            stop_jvm()
        finally:
            for area in (ROOT / ".scratch").glob(f"*/{os.getpid()}_*"):
                shutil.rmtree(area, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)
    bench.detail["problems"] = bench.problems
    print(json.dumps({"detail": bench.detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
