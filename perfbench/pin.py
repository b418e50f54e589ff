"""Re-take the pinned outputs of the batch workload.

    python3 perfbench/pin.py

Builds every query of the batch workload on perfbench/data and writes
its row count and fingerprint to perfbench/pins.json.  Take pins only at a
commit whose outputs the DuckDB oracle accepts on the same tables:

    python3 scripts/check_correctness.py perfbench/data/sf0.01 <query names>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402


def main() -> int:
    tmp = os.path.join(bench.ROOT, ".perfbench", f"pin-{os.getpid()}-{time.time_ns()}")
    bench.isolate(tmp, trace=False)
    r = bench.Run("pin", 0, 0, False, tmp)
    try:
        r.start_session()
        import __spark_entry__ as entry  # noqa: PLC0415

        from perfbench.batch import PINS, QUERIES  # noqa: PLC0415
        from perfbench.check import fingerprint  # noqa: PLC0415

        qs = entry.queries()
        pins = {name: fingerprint(qs[name](r.spark, bench.DATA_DIR)) for name in QUERIES}
    finally:
        r.close()
        shutil.rmtree(tmp, ignore_errors=True)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(pins)} queries to {PINS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
