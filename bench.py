#!/usr/bin/env python
"""Engine benchmark — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": ...}

Methodology: one trivial warmup to absorb JVM/session start, then each
query measured once, forced end-to-end with a noop write (full computation,
no driver collect cost) except for small-result queries which collect.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kinesis_test_spark import registry  # noqa: E402
from kinesis_test_spark.session import cpus, get_spark  # noqa: E402

# Headline set: one per operator family, weighted toward the shuffling /
# scale-sensitive paths.
BENCH_QUERIES = [
    "q_flagship",        # scan→dedup→agg→sort→limit end-to-end
    "q_scan_prune",      # pruned scan throughput
    "q_agg_group",       # TPC-H Q1 shape
    "q_agg_distinct",    # shuffle-distinct
    "q_join_inner",      # fact⋈dim equi join
    "q_join_broadcast",  # broadcast chain + agg
    "q_join_asof",       # range join + window
    "q_join_asof_union", # sort-merge as-of (scale form)
    "q_window_frame",    # running frames per key
    "q_topk_per_group",  # window group-limit
    "q_sessionize",      # lag + cumsum + agg
    "q_dedup_minhash",   # MinHash+LSH banding
    "q_dedup_ngram_jaccard",
    "q_sim_search",      # brute-force cosine top-k
    "q_text_wordcount",  # explode + global agg
    "q_text_fingerprint",
    "q_tpch_q1",         # canonical scan-bound aggregate (round 5)
    "q_tpch_q3",         # composite: filter->3-join->agg->top-k
    "q_tpch_q5",         # composite: fact-fact shuffle + broadcast chain
    "q_text_repetition", # per-doc repetition signals (round 5)
    "q_pipeline_llm",    # quality filter -> dedup -> token budget
    "q_dedup_embedding", # blocked cosine pairs
    "q_dedup_simhash_hamming",  # pigeonhole hamming join
    "q_dedup_clusters",  # iterative connected components
    "q_tpch_q19",        # disjunctive-envelope pushdown (round 6)
    "q_tpch_q21",        # exists/not-exists via window collapse (round 6)
    "q_dedup_incremental",  # new batch vs standing signature index (round 6)
    "q_tpch_q2",         # derived-partsupp window-min family (round 6)
    "q_dedup_paragraph", # segment-hash index + regroup (round 6)
    "q_text_entropy",    # (doc,word) agg + windowed reduction (round 6)
    "q_mm_png_roundtrip",  # real-codec mapInPandas throughput (round 6)
    "q_dedup_substring", # sliding window-hash exact-overlap spans (round 9)
    "q_quality_classifier",  # zero-shuffle hashed-feature model gate (round 10)
    "q_bpe_encode",      # merge-table tokenizer mapper, codegen-bound (round 10)
    "q_dedup_semantic",  # SemDeDup: rank-band cell pairs + keep rule (round 11/12)
    "q_dedup_semantic_incremental",  # new vectors vs standing keepers (round 12)
    "q_sessionize_twophase",  # skew-safe chunked session chain (round 11)
    "q_graph_triangles",  # degree-oriented wedge joins over checkpointed edges (round 11)
    "q_bpe_train",       # 8-round greedy merge learning over the word vocab (round 11)
    "q_dedup_phash",     # image perceptual hash + Hamming pigeonhole band (round 13)
    "q_dedup_substring_incremental",  # new batch vs standing window-hash index (round 13)
    "q_index_versioned", # SQ8 index: 2 tablelog generations + dual search (round 14)
    "s_dedup_near",      # streaming MinHash band gate + verdict join (round 14)
    "s_ingest",          # streaming drain throughput
    "s_sink_partitioned",# partitioned JSON sink end-to-end
]

COLLECT_OK = {"q_sim_search", "q_topk_per_group", "q_text_wordcount"}

# Per-query slowdown vs the previous round's recorded bench that gets
# flagged in the output — catches a regression in-round instead of at
# judge time (round-2 lesson: q_dedup_ngram_jaccard drifted to 2.45×
# unnoticed).
REGRESSION_RATIO = 1.5
# Sub-second entries on this host show ±40% run-to-run spread (BASELINE.md
# round-3 drift investigation), so a pure ratio gate misfires on them.
# Ignore moves smaller than this many seconds absolute — below the
# measurement floor, a ratio is noise, not signal.
REGRESSION_MIN_DELTA_SEC = 0.5


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Fixed single-core probe workload (hash over a constant buffer): the same
# instruction stream every run, so its wall time moves ONLY with host
# contention. Round-5 measured 32 identical probes spreading 1.24-2.94 s
# under tenant load; emitting the probe time (plus loadavg) into the bench
# JSON makes a contended run machine-detectable instead of arguable.
_BURN_BUF = b"\xa5" * 65536
_BURN_ITERS = 3000


def burn_probe() -> float:
    """Seconds for a fixed single-core md5 workload (~0.5 s quiet)."""
    import hashlib

    t0 = time.perf_counter()
    h = b""
    for _ in range(_BURN_ITERS):
        h = hashlib.md5(_BURN_BUF + h).digest()
    return round(time.perf_counter() - t0, 3)


_PAR_BURN_THREADS = 8


def burn_probe_parallel(n_threads: int = _PAR_BURN_THREADS) -> float:
    """Wall seconds for ``n_threads`` CONCURRENT copies of the single-core
    burn. hashlib releases the GIL for 64 KiB buffers, so the threads
    genuinely occupy N cores — quiet-host wall ≈ the single-probe time,
    and it inflates with PARALLEL-throughput contention that the
    single-core probe cannot see (r10 VERDICT #3: BENCH_r10 ran at
    loadavg 7.98 with host_factor 1.0 because one free core kept the
    single burn at baseline while the 32-thread suite ran ~16% hot)."""
    import hashlib
    import threading

    def work() -> None:
        h = b""
        for _ in range(_BURN_ITERS):
            h = hashlib.md5(_BURN_BUF + h).digest()

    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return round(time.perf_counter() - t0, 3)


def host_factor_from_probes(
    cur: dict[str, float | None], prev: dict[str, float | None]
) -> float:
    """The regression-threshold multiplier for this run's host: the WORST
    of the single-core and 8-way-parallel probe inflation ratios vs the
    baseline run's floors (never below 1.0 — a quieter-than-baseline host
    still gates at the plain ratio). A probe kind missing on either side
    (old BENCH files predate the parallel probe) simply doesn't vote."""
    ratios = [
        cur[k] / prev[k]
        for k in ("single", "par8")
        if cur.get(k) and prev.get(k)
    ]
    return max(1.0, round(max(ratios), 3)) if ratios else 1.0


def per_entry_host_factors(
    timings: dict[str, float] | list[str],
    probes_start: dict[str, float | None],
    probes_end: dict[str, float | None],
    prev_floor: dict[str, float | None],
) -> tuple[float, float, dict[str, float]]:
    """Per-entry threshold multipliers for a host whose contention CHANGES
    during the run (r11 VERDICT #2: a start-of-run spike — par8 burn
    2.234s before vs 0.561s after — died mid-run, the min(before, after)
    floor read quiet, and the four earliest entries flagged at 1.6-1.9×
    while the settled tail ran 1.01×). The start and end probes each vote
    a factor against the BASELINE run's floors; each entry's factor is the
    linear interpolation between them at the entry's MIDPOINT in
    cumulative elapsed time (r12 ADVICE: entries range ~0.1s to ~8s, so a
    positional interpolation misestimates which entries a decaying spike
    actually polluted — a long early entry absorbs more of the spike than
    its run index suggests). ``timings`` is the run-ordered {entry:
    seconds} record; a plain list weights every entry equally. Returns
    (factor_start, factor_end, {entry: factor})."""
    f_start = host_factor_from_probes(probes_start, prev_floor)
    f_end = host_factor_from_probes(probes_end, prev_floor)
    if not isinstance(timings, dict):
        timings = {name: 1.0 for name in timings}
    total = sum(timings.values())
    factors: dict[str, float] = {}
    cum = 0.0
    for name, dur in timings.items():
        frac = (cum + dur / 2.0) / total if total > 0 else 0.0
        factors[name] = round(f_start + (f_end - f_start) * frac, 3)
        cum += dur
    return f_start, f_end, factors


def _probe_floor(host: dict, *keys: str) -> float | None:
    """min of the named probe fields — the run's least-contended moment."""
    probes = [host.get(k) for k in keys]
    probes = [float(p) for p in probes if isinstance(p, (int, float)) and p > 0]
    return min(probes) if probes else None


NO_BASELINE = "no same-core baseline"


def previous_bench(
    here: str, sf: float | None = None, cpus: int | None = None
) -> tuple[str | None, dict[str, float], dict[str, float | None]]:
    """Latest BENCH_r*.json per-query timings plus that run's burn-probe
    floors ({"single": …, "par8": …} — min of before/after, the run's
    least-contended moment; a missing kind is None); empty if none
    parseable.

    Control runs (``BENCH_r*_c*.json``, another core count on purpose)
    never qualify. When ``sf`` is given, only a baseline recorded at the
    same scale factor qualifies, and when ``cpus`` is given, only one whose
    top-level ``cpus`` matches — timings across scales or core counts
    aren't comparable."""
    import glob
    import re

    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True):
        if not re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(path)):
            continue
        try:
            with open(path) as f:
                data = json.load(f)
            queries = data["parsed"]["queries"]
            prev_sf = data["parsed"].get("sf")
            prev_cpus = data.get("cpus")
        except (OSError, ValueError, KeyError, TypeError):
            continue
        if sf is not None and prev_sf != sf:
            continue
        if cpus is not None and prev_cpus != cpus:
            continue
        if isinstance(queries, dict) and queries:
            host = data["parsed"].get("host") or {}
            return (
                os.path.basename(path),
                {k: float(v) for k, v in queries.items()},
                {
                    "single": _probe_floor(
                        host, "burn_probe_sec_before", "burn_probe_sec_after"
                    ),
                    "par8": _probe_floor(
                        host, "burn_par8_sec_before", "burn_par8_sec_after"
                    ),
                },
            )
    return None, {}, {"single": None, "par8": None}


def flag_regressions(
    timings: dict[str, float],
    prev: dict[str, float],
    ratio: float = REGRESSION_RATIO,
    min_delta: float = REGRESSION_MIN_DELTA_SEC,
    factors: dict[str, float] | None = None,
) -> dict[str, dict[str, float]]:
    """Queries slower than ``ratio`` × their previous-round time AND more
    than ``min_delta`` seconds slower in absolute terms. ``factors`` (from
    per_entry_host_factors) widens each entry's threshold by the host
    contention measured AROUND ITS POSITION in the run; the flagged record
    carries the effective threshold so adjudications are on the record."""
    flagged: dict[str, dict[str, float]] = {}
    for name, cur in timings.items():
        old = prev.get(name)
        if old is None or old <= 0:
            continue
        eff = round(ratio * (factors.get(name, 1.0) if factors else 1.0), 3)
        if cur > eff * old and cur - old > min_delta:
            flagged[name] = {
                "prev": old,
                "cur": cur,
                "ratio": round(cur / old, 2),
                "threshold": eff,
            }
    return flagged


BENCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def restage(spark, sf_dir: str, n_files: int = 32) -> str:
    """Rewrite every benched table as ``n_files`` parquet files under a
    scratch dir and return it. The driver fixture is a SINGLE row group
    per table, which a local scan reads as ONE task — hiding the scan
    parallelism a real multi-file layout gets (BASELINE.md round-2
    measured the gap). Raw read/write (no ts conversion) so the restaged
    bytes keep the fixture's encoding and normalize_ts dispatches the
    same way."""
    from kinesis_test_spark.streaming.pipeline import scratch_dir

    d = scratch_dir("bench_restage")
    for table in BENCH_TABLES:
        spark.read.parquet(f"{sf_dir}/{table}.parquet").repartition(
            n_files
        ).write.parquet(str(d / f"{table}.parquet"))
    return str(d)


def streaming_throughput(spark, sf_dir: str, n_files: int = 8) -> dict:
    """Rows/sec SATURATION drain (r10 VERDICT #6): stage the events table
    as ``n_files`` parquet files, then drain them through the reference-
    pipeline projection (ts-normalize → null-gate → y/m/d/h partition key)
    into a noop sink with trigger(availableNow) and NO per-trigger file
    throttle — one saturated pass over a fixed input volume. The
    s_ingest / s_sink_partitioned headline entries measure TRIGGER
    latency (4 and 6 scheduler round-trips), which three rounds of flags
    proved is scheduler-noise-bound; a regression in actual streaming
    throughput shows up here as a RATE drop instead."""
    from pyspark.sql import functions as F

    from kinesis_test_spark.streaming.pipeline import (
        read_staged_stream,
        scratch_dir,
    )

    d = scratch_dir("bench_stream_throughput")
    stage = d / "in"
    stage.mkdir()
    # raw read/write: staged bytes keep the fixture's ts encoding, the
    # stream reader normalizes after the scan (same contract as restage)
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(str(stage))
    stream = read_staged_stream(spark, sf_dir, stage)
    shaped = (
        stream.filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.format_string(
                "y=%d/m=%d/d=%d/h=%d",
                F.year("ts"),
                F.month("ts"),
                F.dayofmonth("ts"),
                F.hour("ts"),
            ).alias("s3_key"),
        )
    )
    t0 = time.perf_counter()
    q = (
        shaped.writeStream.format("noop")
        .option("checkpointLocation", str(d / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    rows = sum(int(p["numInputRows"]) for p in (q.recentProgress or []))
    return {
        "rows": rows,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
        "n_files": n_files,
    }


def main() -> None:
    restaged = "--restaged" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load_before = os.getloadavg()
    probe_before = burn_probe()
    par_before = burn_probe_parallel()
    registry.load_all()
    spark = get_spark("kinesis_test_spark-bench")
    if restaged:
        sf_dir = restage(spark, sf_dir)

    # warmup: session start, codegen, parquet footers, OS page cache — one
    # untimed sweep over every benched table plus one flagship pass, so
    # per-query numbers reflect steady-state execution rather than whichever
    # query happens to fault the cold file pages in first (measured: the
    # first post-boot run inflates early entries 2-3×, BASELINE.md round-3)
    for table in BENCH_TABLES:
        spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    force(registry.QUERIES["q_flagship"](spark, sf_dir))
    # Python-worker warmup: the first mapInPandas in a session pays ~6s of
    # worker-daemon + Arrow spin-up (measured round-6: q_mm_png_roundtrip
    # 7.8s cold / 1.8s warm). Warm it with a tiny pass so Python-path
    # entries measure steady-state throughput, symmetric with the JVM
    # codegen warm the flagship pass provides.
    spark.range(8).toDF("doc_id").mapInPandas(
        lambda it: it, "doc_id long"
    ).write.format("noop").mode("overwrite").save()

    # Single-shot per query, deliberately: a repeat-min would re-enter the
    # session-shared caches (dedup.py _session_cached) warm and misreport
    # the cached families (measured: q_dedup_ngram_jaccard 2.7s cold →
    # 0.13s warm), and it still can't cancel host-tenant contention, which
    # round-5 measured at ±40-60% on identical code (four runs: 39-60s
    # suite wall, non-overlapping flag sets). Cross-round comparisons must
    # go through BASELINE.md's noise rules, not raw ratios.
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if name in COLLECT_OK:
            df.collect()
        elif name.startswith("s_"):
            df.count()  # stream already drained inside fn; count the sink
        else:
            force(df)
        timings[name] = round(time.perf_counter() - t0, 3)

    # Warm-path measurement for the incremental dedup (VERDICT r6 #8): the
    # single-shot entry above pays the standing-index build; the operator's
    # design claim is amortized O(new batch) per run, which only a SECOND
    # run against the session-persisted index can show.
    if "q_dedup_incremental" in BENCH_QUERIES:
        t0 = time.perf_counter()
        force(registry.QUERIES["q_dedup_incremental"](spark, sf_dir))
        timings["q_dedup_incremental_warm"] = round(time.perf_counter() - t0, 3)

    # Same warm-path entry for the semantic sibling (round 12): the cold
    # entry pays the standing-keeper build (a full banded dedup of the
    # standing corpus); the amortized per-run cost is assignment of the
    # new batch + the banded join against the session-persisted keepers.
    if "q_dedup_semantic_incremental" in BENCH_QUERIES:
        t0 = time.perf_counter()
        force(registry.QUERIES["q_dedup_semantic_incremental"](spark, sf_dir))
        timings["q_dedup_semantic_incremental_warm"] = round(
            time.perf_counter() - t0, 3
        )

    # Same warm-path entry for the substring sibling (round 13): cold pays
    # the standing window-hash index build; warm measures the amortized
    # O(new tokens) window+probe path against the session-persisted index.
    if "q_dedup_substring_incremental" in BENCH_QUERIES:
        t0 = time.perf_counter()
        force(registry.QUERIES["q_dedup_substring_incremental"](spark, sf_dir))
        timings["q_dedup_substring_incremental_warm"] = round(
            time.perf_counter() - t0, 3
        )

    # Streaming SATURATION drain (r10 VERDICT #6): fixed input volume, no
    # trigger throttle — regressions show up as a rate drop where the
    # s_ingest/s_sink entries only measure scheduler round-trip latency.
    stream_stats = streaming_throughput(spark, sf_dir)
    timings["s_throughput_drain"] = stream_stats["wall_sec"]

    # The summed headline excludes warm-path re-measurements AND the
    # streaming drain (published separately under "streaming") so `value`
    # keeps the same definition as every prior round's recording (the
    # excluded entries still appear per-query for the regression gate /
    # BASELINE.md).
    total = round(
        sum(
            v
            for k, v in timings.items()
            if not k.endswith("_warm") and k != "s_throughput_drain"
        ),
        3,
    )
    # restaged timings aren't comparable to the single-file history — only
    # gate same-staging runs against each other
    baseline, prev, prev_burn = (
        (None, {}, {"single": None, "par8": None})
        if restaged
        else previous_bench(os.path.dirname(os.path.abspath(__file__)), sf, cpus())
    )
    probe_after = burn_probe()
    par_after = burn_probe_parallel()
    load_after = os.getloadavg()
    # Host-aware gate (r9 verdict, widened r11): a contended driver host
    # inflates every entry uniformly (BENCH_r09 median 1.21× with loadavg
    # 9.27 minted a phantom 2.03× q_join_asof flag). Both probes run the
    # same fixed workload every round, so this run's floor over the
    # baseline run's floor IS the host inflation factor. The WORST of the
    # single-core and 8-way ratios gates (r10 VERDICT #3: a loaded host
    # with one free core keeps the single burn at baseline while parallel
    # throughput — what the 32-thread suite actually consumes — runs hot).
    cur_burn = {
        "single": min(probe_before, probe_after),
        "par8": min(par_before, par_after),
    }
    host_factor = host_factor_from_probes(cur_burn, prev_burn)
    effective_ratio = round(REGRESSION_RATIO * host_factor, 3)
    # Per-entry factors (r11 VERDICT #2): the start and end probes vote
    # separately and each entry gates at its run-position interpolation,
    # so a contention spike that decays mid-run discounts the entries it
    # actually polluted instead of being erased by the min() floor above
    # (kept for the legacy host_factor field / BASELINE.md continuity).
    factor_start, factor_end, entry_factors = per_entry_host_factors(
        timings,
        {"single": probe_before, "par8": par_before},
        {"single": probe_after, "par8": par_after},
        prev_burn,
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "staging": "32-file" if restaged else "single-file",
                "streaming": stream_stats,
                "regressions": {
                    "baseline": baseline or (None if restaged else NO_BASELINE),
                    "threshold_ratio": REGRESSION_RATIO,
                    "host_factor": host_factor,
                    "threshold_ratio_effective": effective_ratio,
                    "host_factor_start": factor_start,
                    "host_factor_end": factor_end,
                    "flagged": flag_regressions(
                        timings, prev, factors=entry_factors
                    ),
                },
                # Host-contention evidence (BASELINE.md noise rules): the
                # burn probe is a fixed single-core workload — compare
                # against its quiet-host floor recorded in BASELINE.md
                # before reading any timing delta as a code regression.
                "host": {
                    "loadavg_before": [round(x, 2) for x in load_before],
                    "loadavg_after": [round(x, 2) for x in load_after],
                    "burn_probe_sec_before": probe_before,
                    "burn_probe_sec_after": probe_after,
                    "burn_par8_sec_before": par_before,
                    "burn_par8_sec_after": par_after,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
