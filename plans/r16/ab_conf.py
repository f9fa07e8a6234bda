"""Interleaved A/B of runtime SQL confs over registry queries.

Usage: python plans/r16/ab_conf.py <sf_dir> <reps> k1=v1,k2=v2 name1 ...
Runs each query alternately with the session defaults (A) and with the
given conf overrides (B), reps times each, interleaved A,B,A,B,... so
host drift hits both arms equally. Prints per-query min/median per arm.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", ".."))

from olympia_spark.operators import load_all_modules, registry  # noqa: E402
from olympia_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir, reps = sys.argv[1], int(sys.argv[2])
    overrides = dict(kv.split("=", 1) for kv in sys.argv[3].split(","))
    names = sys.argv[4:]
    load_all_modules()
    spark = get_spark("ab_conf", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).count()
    base = {k: spark.conf.get(k, None) for k in overrides}

    def set_arm(b: bool) -> None:
        for k, v in (overrides if b else base).items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    for name in names:
        fn = registry.QUERIES[name]
        try:
            warm = "/root/testdata/sf0.01"
            if not os.path.isdir(warm):
                warm = sf_dir
            fn(spark, warm).count()      # warm plans before either arm
        except Exception as exc:
            print(f"# warmup {name}: {exc}", flush=True)
        spark.catalog.clearCache()
        t = {False: [], True: []}
        for _ in range(reps):
            for arm in (False, True):
                set_arm(arm)
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                t[arm].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        set_arm(False)
        a, b = t[False], t[True]
        print(f"{name}: A min={min(a):.3f} med={statistics.median(a):.3f} "
              f"| B min={min(b):.3f} med={statistics.median(b):.3f} "
              f"| ratio(minB/minA)={min(b)/min(a):.2f}", flush=True)


if __name__ == "__main__":
    main()
