"""The single-threaded side of the traced run's scaling pair:
``clip_backfill`` drains of a reduced clip table on ``local[1]``, in a
fresh JVM of its own.

    python3 perfbench/scale.py RUN_DIR INPUT_DIR

``run.py`` starts it in the environment it pinned. It drains the input
``WARM_DRAINS`` times untimed (the cold JVM, then the JIT) and once
timed, and prints the timed drain's clips/s as the last line of its
standard output.
"""

from __future__ import annotations

import os
import sys

import harness
from backfill import MAX_FILES_PER_TRIGGER, Backfill

WARM_DRAINS = 2


def main() -> int:
    run_dir, inp = sys.argv[1], sys.argv[2]
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    bench = harness.Bench(run_dir, 1, seed=0, seconds=0.0, trace=False)
    try:
        bench.start_session()
        n = bench.spark.read.parquet(inp).count()
        wl = Backfill(bench)
        for _ in range(WARM_DRAINS + 1):
            _, _, wall = wl.drain(inp, MAX_FILES_PER_TRIGGER)
        print(n / wall)
        return 0
    finally:
        bench.stop()


if __name__ == "__main__":
    sys.exit(main())
