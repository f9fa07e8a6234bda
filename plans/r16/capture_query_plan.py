"""Capture .explain('formatted') for registry queries (final frame), and
optionally the MV refresh's merged frame for MV lanes.

Usage: python plans/r16/capture_query_plan.py <sf_dir> <out_suffix> [--conf k=v] name...
Writes plans/r16/<name>_<out_suffix>.txt
"""
import io
import os
import sys
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", ".."))

from olympia_spark.operators import load_all_modules, registry  # noqa: E402
from olympia_spark.session import get_spark  # noqa: E402
from olympia_spark import engine as eng_mod  # noqa: E402

MV_PLANS = []
_orig = eng_mod.Engine._write_files


def spy(self, df, ns, tbl, *a, **kw):
    if tbl.startswith("mv_"):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        MV_PLANS.append((f"{ns}.{tbl}", buf.getvalue()))
    return _orig(self, df, ns, tbl, *a, **kw)


def main() -> None:
    args = sys.argv[1:]
    sf_dir, suffix = args[0], args[1]
    confs = {}
    while len(args) > 3 and args[2] == "--conf":
        k, v = args[3].split("=", 1)
        confs[k] = v
        args = args[:2] + args[4:]
    names = args[2:]
    eng_mod.Engine._write_files = spy
    load_all_modules()
    spark = get_spark("capture_q", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    for k, v in confs.items():
        spark.conf.set(k, v)
    spark.range(1).count()
    for name in names:
        MV_PLANS.clear()
        df = registry.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out = buf.getvalue()
        if MV_PLANS:
            nm, plan = MV_PLANS[-1]
            out += (f"\n== MV refresh merged frame written to {nm} "
                    f"(the refresh plan this lane times) ==\n" + plan)
        path = os.path.join(HERE, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(out)
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()
