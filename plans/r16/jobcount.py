"""Deterministic overhead metric: Spark JOB COUNT per registry query.

Timing on a small box is ±30% noisy; the number of jobs a query launches
is exact and is what per-job fixed overhead multiplies. Usage:

    python plans/r16/jobcount.py <sf_dir> name1 name2 ...

Prints jobs + wall seconds for one post-warmup run of each query.
"""
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", ".."))

from olympia_spark.operators import load_all_modules, registry  # noqa: E402
from olympia_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    load_all_modules()
    spark = get_spark("jobcount", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).count()
    store = spark.sparkContext._jsc.sc().statusStore()
    warm = "/root/testdata/sf0.01"
    for name in names:
        fn = registry.QUERIES[name]
        if os.path.realpath(warm) != os.path.realpath(sf_dir):
            try:
                fn(spark, warm).count()
            except Exception as exc:
                print(f"# warmup {name}: {exc}", flush=True)
            spark.catalog.clearCache()
        j0 = store.jobsList(None).size()
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        j1 = store.jobsList(None).size()
        print(f"{name}: jobs={j1 - j0} wall={dt:.3f}s rows={n}",
              flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
