"""Adversarial battery: run registered keys through planted corpus classes
(every tests/test_edge_* plant function) in one process.

Usage:
    python tools/battery.py q_dedup_semantic [q_other ...]   # named keys, every class
    python tools/battery.py --class nulls                    # every key, one class
    python tools/battery.py --class ragged --class degenvec q_sim_search

Keys default to every registered key; ``--class`` (repeatable) restricts
the corpus classes, which default to all of them. A per-key battery is the
tool for "every changed/new key carries its own corpus battery from final
code" (CLAUDE.md Gotchas, validation): it costs
|classes| × |changed| key-checks instead of a full-surface sweep's
|classes| × |registry|. A full-surface single-class sweep is what to run
when an operator touches a new column shape of that class.

Corpus construction stays in tests/test_edge_*.py next to each class's
standing pins; this tool only drives them. The fixture it plants over is
the test suite's (``SPARK_GRAFT_SF_DIR_TEST``, default sf0.001).

Properties every run relies on:
- pid-scoped corpus dir (a concurrent run of the same class must not
  rmtree this run's staging);
- fresh-connection-per-key inside check_query (an un-quarantined dirty
  value can fatally invalidate a DuckDB connection — ragged class);
- per-key try/except so one crashing key doesn't hide the rest.
"""
import argparse
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

from conftest import SF_DIR as SRC  # noqa: E402

TRUNC = 220  # chars of a problem/exception message to keep per key


def plant_classes():
    """[(tag, plant_fn)] for every adversarial corpus class."""
    from test_edge_constant import plant_constant
    from test_edge_degenvec import plant_degenvec
    from test_edge_dupdim import plant_dupdim
    from test_edge_dupkeys import plant_dupkeys
    from test_edge_empty import plant_empty
    from test_edge_fractional import plant_fractional
    from test_edge_giant import plant_giant
    from test_edge_hotkey import plant_hotkey
    from test_edge_late import plant_late
    from test_edge_magnitude import plant_magnitude
    from test_edge_negatives import plant_negatives
    from test_edge_negzero import plant_negzero
    from test_edge_nonfinite import plant_nonfinite
    from test_edge_nulls import plant_nulls
    from test_edge_nullts import plant_nullts
    from test_edge_ragged import plant_ragged
    from test_edge_singleton import plant_singleton
    from test_edge_subgrain import plant_subgrain
    from test_edge_ts_extremes import plant_ts_extremes
    from test_edge_unicode import plant_unicode
    from test_edge_whitespace import plant_whitespace

    return [
        ("constant", plant_constant),
        ("degenvec", plant_degenvec),
        ("dupdim", plant_dupdim),
        ("dupkeys", plant_dupkeys),
        ("empty", plant_empty),
        ("fractional", plant_fractional),
        ("giant", plant_giant),
        ("hotkey", plant_hotkey),
        ("late", plant_late),
        ("magnitude", plant_magnitude),
        ("negatives", plant_negatives),
        ("negzero", plant_negzero),
        ("nonfinite", plant_nonfinite),
        ("nulls", plant_nulls),
        ("nullts", plant_nullts),
        ("ragged", plant_ragged),
        ("singleton", plant_singleton),
        ("subgrain", plant_subgrain),
        ("ts_extremes", plant_ts_extremes),
        ("unicode", plant_unicode),
        ("whitespace", plant_whitespace),
    ]


def battery(
    keys: list[str] | None = None, classes: list[str] | None = None
) -> dict[tuple[str, str], str]:
    """Check ``keys`` (default: every registered key) against each planted
    class in ``classes`` (default: all); print FAILs as they happen and a
    ``BATTERY-DONE`` banner. Returns {(class, key): status} for the
    divergent checks."""
    from kinesis_test_spark import registry
    from kinesis_test_spark.oracle import check_query
    from kinesis_test_spark.session import get_spark

    registry.load_all()
    keys = keys or sorted(registry.QUERIES)
    unknown = [k for k in keys if k not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    plants = [(tag, fn) for tag, fn in plant_classes() if not classes or tag in classes]
    spark = get_spark()
    fails: dict[tuple[str, str], str] = {}
    for tag, plant in plants:
        d = Path(tempfile.gettempdir()) / f"battery_{tag}_{os.getpid()}"
        shutil.rmtree(d, ignore_errors=True)
        plant(SRC, d)
        for i, name in enumerate(keys):
            try:
                problems = check_query(spark, str(d), name)
                status = "OK" if not problems else "; ".join(problems)[:TRUNC]
            except Exception as exn:
                status = f"ERROR {type(exn).__name__}: {str(exn)[:TRUNC]}"
            if status != "OK":
                fails[(tag, name)] = status
                print(f"FAIL [{tag}] {name}: {status}", flush=True)
            if (i + 1) % 50 == 0:
                print(f"... {tag} {i + 1}/{len(keys)}", flush=True)
        print(f"... {tag} done", flush=True)
        # NOT deleted here: an async Spark job (e.g. a cancelled scan) can
        # still hold the dir — deleting mid-session races it (observed as a
        # harmless but noisy FileNotFound job abort). Dirs are pid-scoped;
        # the next run of the same pid rmtree's before planting.
    n = len(plants) * len(keys)
    print(f"BATTERY-DONE {len(keys)} keys x {len(plants)} classes"
          f" = {n} checks, {len(fails)} failures")
    return fails


if __name__ == "__main__":
    tags = [tag for tag, _ in plant_classes()]
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("keys", nargs="*", help="query keys (default: every registered key)")
    ap.add_argument("--class", dest="classes", action="append", choices=tags,
                    help="corpus class to plant (repeatable; default: all)")
    args = ap.parse_args()
    sys.exit(1 if battery(args.keys, args.classes) else 0)
