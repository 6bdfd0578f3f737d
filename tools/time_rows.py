"""Time a subset of bench rows with bench.py's exact methodology (warm-up
count, then N noop-sink trials, min+median reported) — for A/B probes during
optimization without paying for the full 39-row run.

Usage: python tools/time_rows.py <row> [row ...]   (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

TRIALS = 5
USAGE = "usage: python tools/time_rows.py <row> [row ...]   (env: SPARK_GRAFT_SF_DIR)"


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from parqueryd_spark import queries as Q
    from parqueryd_spark.session import get_spark

    spark = get_spark("time-rows-r16")
    bench = Q.bench_queries()

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # untimed cold-start throwaway (same as bench.py)
    run_once(bench[names[0]])
    for name in names:
        fn = bench[name]
        fn(spark, sf_dir).count()  # warm-up
        ts = [round(run_once(fn), 4) for _ in range(TRIALS)]
        print(
            f"{name:35s} min={min(ts):7.3f} med={statistics.median(ts):7.3f} {ts}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
