"""Per-engine-call Spark job counts for one registry query.

Usage: python plans/r16/jobs_by_call.py <sf_dir> name
Wraps the engine + DataFrame action entry points, prints job-count and
wall-time deltas per call (depth-indented), after an sf0.01 warmup.
"""
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", ".."))

from olympia_spark.operators import load_all_modules, registry  # noqa: E402
from olympia_spark.session import get_spark  # noqa: E402
from olympia_spark import engine as eng_mod  # noqa: E402

CALLS = []
DEPTH = [0]
STORE = [None]


def _wrap(cls, meth):
    orig = cls.__dict__[meth]
    is_static = isinstance(orig, staticmethod)
    fn = orig.__func__ if is_static else orig

    def timed(*a, **kw):
        if STORE[0] is None:
            return fn(*a, **kw)
        j0 = STORE[0].jobsList(None).size()
        t0 = time.perf_counter()
        DEPTH[0] += 1
        d = DEPTH[0]
        try:
            return fn(*a, **kw)
        finally:
            DEPTH[0] -= 1
            pos = a if is_static else a[1:]
            arg = str(pos[0])[:70].replace("\n", " ") if pos else ""
            CALLS.append((d, meth, arg, time.perf_counter() - t0,
                          STORE[0].jobsList(None).size() - j0))
    setattr(cls, meth, staticmethod(timed) if is_static else timed)


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    load_all_modules()
    for m in ("sql", "write_table", "refresh_materialized_view",
              "_write_files", "table_changes", "_mv_apply_query",
              "_mv_merge", "_mv_groupwise_recompute", "read_table",
              "delete_from", "merge", "create_table"):
        if hasattr(eng_mod.Engine, m) and m in eng_mod.Engine.__dict__:
            _wrap(eng_mod.Engine, m)
    from pyspark.sql.classic.dataframe import DataFrame as _CDF
    for m in ("count", "collect", "persist", "first", "localCheckpoint"):
        _wrap(_CDF, m)
    spark = get_spark("jobs_by_call", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).count()
    STORE[0] = spark.sparkContext._jsc.sc().statusStore()
    for name in names:
        fn = registry.QUERIES[name]
        try:
            fn(spark, "/root/testdata/sf0.01").count()
        except Exception as exc:
            print(f"# warmup failed: {exc}")
        spark.catalog.clearCache()
        CALLS.clear()
        j0 = STORE[0].jobsList(None).size()
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        total = time.perf_counter() - t0
        jtot = STORE[0].jobsList(None).size() - j0
        print(f"\n=== {name}: {total:.3f}s jobs={jtot} rows={n}")
        for d, meth, arg, dt, nj in CALLS:
            if dt >= 0.02 or nj:
                print(f"  {'  '*d}{dt:7.3f}s j={nj:<3d} {meth:26s} {arg}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
