"""Profile a registry query's engine-level calls: wraps Engine.sql,
Engine.write_table, Engine.refresh_materialized_view and
Engine._write_files with timers, runs the query once (after an sf0.01
warmup run), and prints the per-call breakdown of the timed run.

Usage: python plans/r16/profile_engine_calls.py <sf_dir> name [name...]
"""
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", ".."))

from olympia_spark.operators import load_all_modules, registry  # noqa: E402
from olympia_spark.session import get_spark  # noqa: E402
from olympia_spark import engine as eng_mod  # noqa: E402

CALLS: list[tuple[str, str, float]] = []


def _wrap(cls, meth):
    orig = getattr(cls, meth)

    def timed(self, *a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(self, *a, **kw)
        finally:
            arg = str(a[0])[:90].replace("\n", " ") if a else ""
            CALLS.append((meth, arg, time.perf_counter() - t0))
    setattr(cls, meth, timed)


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    load_all_modules()
    for m in ("sql", "write_table", "refresh_materialized_view",
              "_write_files", "table_changes", "_collect_stats",
              "merge", "delete_from", "copy_into"):
        if hasattr(eng_mod.Engine, m):
            _wrap(eng_mod.Engine, m)
    spark = get_spark("profile", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).count()
    for name in names:
        fn = registry.QUERIES[name]
        try:
            fn(spark, "/root/testdata/sf0.01").count()   # warmup
        except Exception as exc:
            print(f"# warmup failed: {exc}")
        spark.catalog.clearCache()
        CALLS.clear()
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        total = time.perf_counter() - t0
        print(f"\n=== {name}: {total:.3f}s total rows={n}")
        # nested calls double-count (sql -> write_table -> _write_files);
        # print all with depth implied by ordering
        for meth, arg, dt in CALLS:
            if dt >= 0.02:
                print(f"  {dt:7.3f}s  {meth:28s} {arg}")


if __name__ == "__main__":
    main()
