"""Determinism self-check: two traced runs of one seed must agree exactly.

    python3 perfbench/selfcheck.py [--seed N] [--seconds S] [workload ...]

For each workload (all by default) it runs ``run.py --trace 1`` twice with
the same seed and compares the op-sequence digest, ``space_amp`` and every
per-layer count (units ``count``, ``B`` and ``ratio``; times, and the
tracing's own ``trace.*`` figures, are left out). Exits 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("sql_small", "mv_refresh")


def traced_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout
    info, result = (json.loads(line) for line in out.splitlines()[-2:])
    return info["details"], result


def counts(details: dict, result: dict) -> dict:
    out = {"op_digest": details["op_digest"],
           "space_amp": details["space_amp"],
           "correct": result["correct"]}
    out.update({k: v["value"] for k, v in result["metrics"].items()
                if v["unit"] in ("count", "B", "ratio")
                and not k.startswith("trace.")})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        a, b = (counts(*traced_run(w, args.seed, args.seconds))
                for _ in range(2))
        diff = {k: (a[k], b.get(k)) for k in a if a[k] != b.get(k)}
        ok &= not diff and a["correct"]
        print(f"{w}: {len(a)} values compared, "
              f"{'identical' if not diff else f'MISMATCH {diff}'}",
              flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
