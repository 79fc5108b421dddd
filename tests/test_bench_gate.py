"""Unit tests for bench.py's in-round regression gate (no Spark needed)."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parent.parent / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench", bench)
_spec.loader.exec_module(bench)


def test_flags_only_above_ratio():
    prev = {"q_a": 1.0, "q_b": 2.0, "q_c": 4.0}
    cur = {"q_a": 1.49, "q_b": 3.1, "q_c": 4.0, "q_new": 9.0}
    flagged = bench.flag_regressions(cur, prev, ratio=1.5)
    assert set(flagged) == {"q_b"}
    assert flagged["q_b"] == {
        "prev": 2.0,
        "cur": 3.1,
        "ratio": 1.55,
        "threshold": 1.5,
    }


def test_absolute_floor_suppresses_subsecond_noise():
    # Sub-second entries move ±40% run-to-run on this host (BASELINE.md):
    # a 3× ratio on a 0.2s query is noise; the same ratio with a >0.5s
    # absolute move is a real regression.
    prev = {"q_noise": 0.2, "q_real": 0.4}
    cur = {"q_noise": 0.6, "q_real": 1.2}
    flagged = bench.flag_regressions(cur, prev, ratio=1.5, min_delta=0.5)
    assert set(flagged) == {"q_real"}


def test_no_previous_bench_flags_nothing():
    assert bench.flag_regressions({"q_a": 99.0}, {}) == {}


def test_previous_bench_picks_latest_parseable(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"q_a": 1.0}}})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": {"queries": {"q_a": 2.0}}})
    )
    (tmp_path / "BENCH_r03.json").write_text("{not json")
    name, prev, prev_burn = bench.previous_bench(str(tmp_path))
    assert name == "BENCH_r02.json"
    assert prev == {"q_a": 2.0}
    assert prev_burn == {"single": None, "par8": None}  # no host block


def test_previous_bench_none_when_absent(tmp_path):
    assert bench.previous_bench(str(tmp_path)) == (
        None,
        {},
        {"single": None, "par8": None},
    )


def test_previous_bench_requires_matching_sf(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"q_a": 1.0}, "sf": 0.1}})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": {"queries": {"q_a": 2.0}, "sf": 0.001}})
    )
    name, prev, _ = bench.previous_bench(str(tmp_path), sf=0.1)
    assert name == "BENCH_r01.json"
    assert prev == {"q_a": 1.0}
    assert bench.previous_bench(str(tmp_path), sf=0.5) == (
        None,
        {},
        {"single": None, "par8": None},
    )


def _bench_file(path, cpus, q_a):
    path.write_text(
        json.dumps({"cpus": cpus, "parsed": {"queries": {"q_a": q_a}, "sf": 0.1}})
    )


def test_previous_bench_requires_matching_cpus(tmp_path):
    # a 32-core run compares against the latest 32-core run, not a later
    # run on another core count
    _bench_file(tmp_path / "BENCH_r01.json", 32, 1.0)
    _bench_file(tmp_path / "BENCH_r02.json", 8, 2.0)
    name, prev, _ = bench.previous_bench(str(tmp_path), sf=0.1, cpus=32)
    assert (name, prev) == ("BENCH_r01.json", {"q_a": 1.0})
    name, prev, _ = bench.previous_bench(str(tmp_path), sf=0.1, cpus=8)
    assert (name, prev) == ("BENCH_r02.json", {"q_a": 2.0})


def test_previous_bench_never_takes_control_runs(tmp_path):
    # BENCH_r15_c8.json sorts after BENCH_r15.json; a control run is
    # never a baseline, even at the current core count
    _bench_file(tmp_path / "BENCH_r15.json", 32, 1.0)
    _bench_file(tmp_path / "BENCH_r15_c8.json", 8, 2.0)
    assert bench.previous_bench(str(tmp_path))[0] == "BENCH_r15.json"
    assert bench.previous_bench(str(tmp_path), cpus=8)[0] is None


def test_previous_bench_no_same_core_baseline(tmp_path):
    # on a core count no earlier run used there is nothing to compare:
    # no baseline, no timings, so the gate flags nothing and says why
    _bench_file(tmp_path / "BENCH_r01.json", 32, 1.0)
    name, prev, burn = bench.previous_bench(str(tmp_path), sf=0.1, cpus=4)
    assert (name, prev, burn) == (None, {}, {"single": None, "par8": None})
    assert bench.flag_regressions({"q_a": 99.0}, prev) == {}
    assert bench.NO_BASELINE == "no same-core baseline"


def test_previous_bench_reads_burn_probe_floor(tmp_path):
    # the burn-probe floor (min of before/after) is the baseline run's
    # least-contended moment — the denominator of the host factor
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps(
            {
                "parsed": {
                    "queries": {"q_a": 1.0},
                    "host": {
                        "burn_probe_sec_before": 0.52,
                        "burn_probe_sec_after": 0.34,
                    },
                }
            }
        )
    )
    name, prev, prev_burn = bench.previous_bench(str(tmp_path))
    assert name == "BENCH_r01.json"
    assert prev_burn == {"single": 0.34, "par8": None}


def test_previous_bench_reads_parallel_probe_floor(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps(
            {
                "parsed": {
                    "queries": {"q_a": 1.0},
                    "host": {
                        "burn_probe_sec_before": 0.52,
                        "burn_probe_sec_after": 0.34,
                        "burn_par8_sec_before": 0.80,
                        "burn_par8_sec_after": 0.61,
                    },
                }
            }
        )
    )
    _, _, prev_burn = bench.previous_bench(str(tmp_path))
    assert prev_burn == {"single": 0.34, "par8": 0.61}


def test_host_factor_takes_worst_probe_ratio():
    # BENCH_r10 shape (r10 VERDICT #3): one free core keeps the single
    # burn at baseline while parallel throughput runs 2x hot — the
    # PARALLEL ratio must drive the factor.
    prev = {"single": 0.5, "par8": 0.6}
    cur = {"single": 0.5, "par8": 1.2}
    assert bench.host_factor_from_probes(cur, prev) == 2.0
    # symmetric: single-core contention with quiet parallel also gates
    assert bench.host_factor_from_probes({"single": 1.0, "par8": 0.6}, prev) == 2.0


def test_host_factor_never_discounts_below_one():
    # a quieter-than-baseline host gates at the plain ratio
    prev = {"single": 0.5, "par8": 0.6}
    assert bench.host_factor_from_probes({"single": 0.3, "par8": 0.4}, prev) == 1.0


def test_host_factor_missing_probe_kinds_dont_vote():
    # old BENCH files predate the parallel probe — single-only baseline
    assert (
        bench.host_factor_from_probes(
            {"single": 1.0, "par8": 1.2}, {"single": 0.5, "par8": None}
        )
        == 2.0
    )
    # no baseline probes at all → factor 1.0
    assert (
        bench.host_factor_from_probes(
            {"single": 1.0, "par8": 1.2}, {"single": None, "par8": None}
        )
        == 1.0
    )


def test_parallel_probe_measures_contention():
    # The 8-way probe must actually inflate under a deliberate
    # core-saturating background load (the discount direction the gate
    # relies on). Hog count SCALES with the host: 2x cores + 8 leaves
    # each probe thread well under half a core on any machine (~2x+
    # expected); generous 1.3x margin so shared-host noise can't flake
    # it (extra tenant load only inflates the LOADED reading further —
    # the quiet floor is a min of 3).
    import os
    import threading

    quiet = min(bench.burn_probe_parallel() for _ in range(3))
    stop = threading.Event()

    def hog():
        import hashlib

        h = b""
        while not stop.is_set():
            h = hashlib.md5(bench._BURN_BUF + h).digest()

    hogs = [
        threading.Thread(target=hog)
        for _ in range(2 * (os.cpu_count() or 32) + 8)
    ]
    for t in hogs:
        t.start()
    try:
        loaded = min(bench.burn_probe_parallel() for _ in range(2))
    finally:
        stop.set()
        for t in hogs:
            t.join()
    assert loaded > 1.3 * quiet, (quiet, loaded)


def test_host_factor_scales_gate():
    # a 2x-contended host (burn probe 2x the baseline's) must not mint a
    # phantom flag on a uniformly-inflated entry; a genuine regression
    # beyond the scaled threshold still flags
    prev = {"q_uniform": 1.0, "q_real": 1.0}
    cur = {"q_uniform": 2.0, "q_real": 4.0}  # uniform 2x inflation; real 4x
    effective = 1.5 * 2.0  # REGRESSION_RATIO x host_factor
    flagged = bench.flag_regressions(cur, prev, ratio=effective)
    assert set(flagged) == {"q_real"}


def test_decaying_spike_discounts_only_the_entries_it_polluted():
    # r11 VERDICT #2 scenario: the par8 burn read 4x the baseline BEFORE
    # the run and quiet AFTER (contention died mid-run). Early entries
    # inflated ~1.6x must NOT flag; a late entry 1.6x slower ran on a
    # quiet host and MUST flag. The min(before, after) floor the legacy
    # host_factor uses could never see this. Timings carry real durations
    # so the interpolation is by elapsed time.
    timings = {f"q_{i:02d}": 1.0 for i in range(10)}
    prev_floor = {"single": 0.5, "par8": 0.5}
    f_start, f_end, factors = bench.per_entry_host_factors(
        timings,
        {"single": 0.5, "par8": 2.0},   # 4x parallel contention at start
        {"single": 0.5, "par8": 0.5},   # quiet at end
        prev_floor,
    )
    assert f_start == 4.0 and f_end == 1.0
    # midpoint interpolation over 10 equal 1s entries: q_00 at elapsed 0.5
    # of 10 (f=3.85), q_09 at 9.5 of 10 (f=1.15)
    assert factors["q_00"] == 3.85 and factors["q_09"] == 1.15
    assert factors["q_04"] > factors["q_05"] > factors["q_06"]  # monotone decay
    prev = {name: 1.0 for name in timings}
    cur = {name: 1.0 for name in timings}
    cur["q_00"] = 1.7  # early, polluted — threshold 1.5*3.85
    cur["q_09"] = 1.9  # late, quiet host — threshold 1.5*1.15
    flagged = bench.flag_regressions(cur, prev, factors=factors)
    assert set(flagged) == {"q_09"}
    assert flagged["q_09"]["threshold"] == 1.725
    # a genuine catastrophic regression flags even at the spiked start
    cur["q_00"] = 8.0
    assert "q_00" in bench.flag_regressions(cur, prev, factors=factors)


def test_factors_interpolate_by_elapsed_time_not_index():
    # r12 ADVICE: entries range ~0.1s to ~8s. One 8s entry leading the run
    # absorbs most of a decaying start spike; the many short entries after
    # it run on a host that has already settled. By INDEX the short entries
    # would read heavily polluted (index 1 of 5 -> factor ~3.25); by
    # ELAPSED TIME they gate near quiet.
    timings = {"q_long": 8.0, "q_s1": 0.5, "q_s2": 0.5, "q_s3": 0.5, "q_s4": 0.5}
    f_start, f_end, factors = bench.per_entry_host_factors(
        timings,
        {"single": 0.5, "par8": 2.0},   # 4x contention at start
        {"single": 0.5, "par8": 0.5},   # quiet at end
        {"single": 0.5, "par8": 0.5},
    )
    assert f_start == 4.0 and f_end == 1.0
    # q_long midpoint at 4.0 of 10.0 elapsed -> 4 - 3*0.4 = 2.8
    assert factors["q_long"] == 2.8
    # first short entry's midpoint at 8.25 of 10.0 -> 4 - 3*0.825 = 1.525
    assert factors["q_s1"] == 1.525
    # the last short entry is nearly quiet (midpoint 9.75 of 10 -> 1.075)
    assert factors["q_s4"] == 1.075


def test_per_entry_factors_without_baseline_are_one():
    _, _, factors = bench.per_entry_host_factors(
        ["q_a", "q_b"],
        {"single": 9.0, "par8": 9.0},
        {"single": 9.0, "par8": 9.0},
        {"single": None, "par8": None},  # no baseline probes: nothing votes
    )
    assert factors == {"q_a": 1.0, "q_b": 1.0}
