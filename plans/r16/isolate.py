"""Isolation timer: run named registry queries N times at a given sf dir.

Usage: python plans/r16/isolate.py <sf_dir> <reps> name1 name2 ...
Prints per-rep wall seconds (count() action, same methodology as bench.py).
"""
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", ".."))

from olympia_spark.operators import load_all_modules, registry  # noqa: E402
from olympia_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir, reps = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:]
    load_all_modules()
    spark = get_spark("isolate", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).count()
    warm_dir = "/root/testdata/sf0.01"
    for name in names:
        fn = registry.QUERIES[name]
        if os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
            try:
                fn(spark, warm_dir).count()   # plan/JIT warmup, small sf
            except Exception as exc:
                print(f"# warmup {name}: {exc}", flush=True)
            spark.catalog.clearCache()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            ts.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        print(f"{name}: " + " ".join(f"{t:.3f}" for t in ts) +
              f"  rows={n}", flush=True)


if __name__ == "__main__":
    main()
