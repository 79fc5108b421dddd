"""Full-surface oracle parity sweep at an arbitrary scale/table dir.

Usage: python tools/parity_sweep.py [SF_DIR]   (default /root/testdata/sf0.01)

This is the driver-gate simulation (every registered key through
check_query) pointed at ANY fixture directory. Run it at sf0.1 at least
once per round: cross-SCALE spot-parity catches value-dependent
divergence classes no adversarial corpus plants — round 10's
ROUND-over-exact-quotient decimal-halfway tie (-4039/16000) appeared
only at sf0.1 and had passed ten rounds of sf0.001/sf0.01 sweeps by
luck (EDGES.md round-10 note)."""
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

from kinesis_test_spark import registry  # noqa: E402
from kinesis_test_spark.oracle import check_query  # noqa: E402
from kinesis_test_spark.session import get_spark  # noqa: E402

if __name__ == "__main__":
    registry.load_all()
    spark = get_spark()
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    keys = sorted(registry.QUERIES)
    fails = 0
    t0 = time.time()
    for i, k in enumerate(keys):
        try:
            problems = check_query(spark, sf, k)
            status = "OK" if not problems else "; ".join(problems)[:250]
        except Exception as exn:
            status = f"ERROR {type(exn).__name__}: {str(exn)[:250]}"
        if status != "OK":
            fails += 1
            print(f"FAIL {k}: {status}", flush=True)
        if (i + 1) % 50 == 0:
            print(f"... {i + 1}/{len(keys)} ({int(time.time() - t0)}s)", flush=True)
    print(f"PARITYSWEEP-DONE {sf}: {len(keys)} keys, {fails} failures,"
          f" {int(time.time() - t0)}s")
