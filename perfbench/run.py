"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Sets up the workload's fixture several
times (``setup_s`` is the median), runs an untimed warm-up pass, then the
timed pass: a fixed, seeded op sequence whose length is the workload's
nominal HEAD rate times ``--seconds``. Every answer is checked against the
workload's own model. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries host diagnostics and run details, which are not metrics.

``--trace 1`` runs the timed sequence on two of the identical fixtures in
lockstep, one untraced and one traced, so that the tracing overhead is
measured in the same process under the same conditions. The tracer's
wrappers are in place only while a traced op runs. The spans are written
under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 3


def _workloads() -> dict:
    from perfbench.mv_refresh import MvRefresh
    from perfbench.sql_small import SqlSmall
    return {w.name: w for w in (SqlSmall, MvRefresh)}


class Pass:
    """Outcome of running an op list on one fixture."""

    def __init__(self) -> None:
        self.lat: dict[str, list[float]] = {"read": [], "write": []}
        self.by_class: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)
        if len(self.failures) <= 5:
            print(f"perfbench: FAILED {what}", file=sys.stderr)


def run_op(wl, fx, i: int, op, result: Pass, timed: bool,
           tracer=None) -> None:
    """Run one op, time it, then check its answer outside the timing. An
    exception from the op or from its check is a failed op."""
    result.attempted += 1
    if tracer is not None:
        tracer.begin_op(i, op.kind)
    t0 = time.perf_counter()
    try:
        out = wl.run(fx, op)
    except Exception as e:  # noqa: BLE001 — a failed op is counted
        if tracer is not None:
            tracer.end_op(time.perf_counter())
        result.fail(f"{op.cls} #{i}: {type(e).__name__}: {e}")
        return
    dt = time.perf_counter() - t0
    if tracer is not None:
        tracer.end_op(t0 + dt)
    if timed:
        result.lat[op.kind].append(dt)
        result.by_class.setdefault(op.cls, []).append(dt)
    try:
        bad = wl.check(fx, op, out)
    except Exception as e:  # noqa: BLE001 — a wrong-shaped answer
        bad = f"{type(e).__name__}: {e}"
    if bad:
        result.fail(f"{op.cls} #{i}: wrong answer: {bad}")


def measure(wl, fixtures, ops, tracer=None) -> list[Pass]:
    """Warm up untimed, run the timed op list, then the final checks, on
    each fixture in lockstep: op by op, alternating which fixture goes
    first. With a tracer, the second fixture's timed ops are traced and
    the first's are not, so both see the same JVM and host warm-up; the
    tracer is installed around each traced op only."""
    passes = [Pass() for _ in fixtures]
    for i, op in enumerate(wl.warmup_plan()):
        for fx, p in zip(fixtures, passes):
            run_op(wl, fx, i, op, p, timed=False)
    gc.collect()
    gc.freeze()
    tracers = [None, tracer][:len(fixtures)]
    for i, op in enumerate(ops):
        order = list(zip(fixtures, passes, tracers))
        for fx, p, tr in (order[::-1] if i % 2 else order):
            if tr is None:
                run_op(wl, fx, i, op, p, timed=True)
                continue
            with tr.installed():
                run_op(wl, fx, i, op, p, timed=True, tracer=tr)
    gc.unfreeze()
    for fx, p in zip(fixtures, passes):
        p.attempted += 1
        try:
            for bad in wl.final_check(fx):
                p.fail(bad)
        except Exception as e:  # noqa: BLE001 — counted, as in run_op
            p.fail(f"final check: {type(e).__name__}: {e}")
    return passes


def seed_uuid4(seed: int) -> None:
    """Draw the program's ``uuid4`` names from a seeded generator. Data
    files live under uuid directories, and their names decide the order in
    which a scan meets a table's files, so the row order, and with it the
    byte size, of every rewritten file. Seeded, two runs of one seed write
    byte-identical warehouses and every count repeats."""
    import random
    import uuid
    rng = random.Random(seed)
    uuid.uuid4 = lambda: uuid.UUID(int=rng.getrandbits(128), version=4)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test: a checkout's own olympia_spark, imported
    # before anything starts so that a tree without it fails fast
    sys.path.insert(0, ROOT)
    import olympia_spark.catalog  # noqa: F401
    seed_uuid4(args.seed)
    from perfbench import harness
    from perfbench.spark_env import SparkEnv
    from perfbench.tracer import Tracer, layer_metrics

    workloads = _workloads()
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads)}")
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp

    host0 = harness.host_snapshot()
    env = SparkEnv(run_dir)
    try:
        session_s = env.start()
        wl = workloads[args.workload](run_dir, args.seed, args.seconds)
        wl.attach(env.spark)
        fixtures, setup_times = [], []
        for i in range(N_SETUPS):
            t0 = time.perf_counter()
            fixtures.append(wl.setup(i))
            setup_times.append(time.perf_counter() - t0)
        ops = wl.plan()
        # the last fixture is the measured one (the traced one with a tracer)
        if args.trace:
            tracer = Tracer(env.spark)
            passes = measure(wl, fixtures[1:], ops, tracer=tracer)
            metrics = layer_metrics(tracer, ops, passes[0], passes[1], wl,
                                    fixtures[-1])
            tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        else:
            passes = measure(wl, fixtures[-1:], ops)
            metrics, tails = harness.latency_metrics(passes[0].lat)
            metrics["setup_s"] = (session_s + statistics.median(setup_times),
                                  "s")
        warehouse, reachable = wl.space(fixtures[-1])
        space_amp = warehouse / reachable
        details = wl.details(fixtures[-1])
        wl.close()
        rss = harness.vm_hwm_mb() + env.stop()
    finally:
        env.stop()
    if not args.trace:
        metrics["space_amp"] = (space_amp, "ratio")
        metrics["peak_rss_mb"] = (rss, "MiB")
        details["tail_percentiles"] = tails
        details["class_p50_ms"] = {
            c: round(statistics.median(xs) * 1e3, 3)
            for c, xs in sorted(passes[0].by_class.items())}
    details.update(setup_runs_s=setup_times, session_s=session_s,
                   ops=len(ops), op_digest=harness.op_digest(ops),
                   space_amp=space_amp,
                   failures=[f for p in passes for f in p.failures][:20])
    print(json.dumps({"host": harness.host_report(host0,
                                                  harness.host_snapshot()),
                      "details": details}))
    failed = sum(len(p.failures) for p in passes)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(p.attempted for p in passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    if args.trace:
        for name in os.listdir(run_dir):
            if name != "spans.jsonl":
                shutil.rmtree(os.path.join(run_dir, name))
    else:
        shutil.rmtree(run_dir)
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing decides set iteration order, and with it which of
        # the engine's plan memos hit: fix it so counts repeat across runs
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.exit(main())
