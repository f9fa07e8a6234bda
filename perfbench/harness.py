"""Shared pieces of the benchmark: op plans, latency statistics, host
diagnostics, memory and space accounting.

Every workload runs a FIXED list of operations generated from the seed
(never "as many as fit in N seconds"): on a shared virtual machine the
host's speed drifts from one run to the next, and identical work per run
is the only thing that keeps two runs comparable.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field


@dataclass
class Op:
    """One client operation: ``kind`` is ``read`` or ``write``, ``cls`` the
    op class (``lookup``, ``insert``, ...), ``args`` its seeded inputs."""
    kind: str
    cls: str
    args: dict = field(default_factory=dict)


def op_digest(ops: list[Op]) -> str:
    """A digest of an op sequence: equal seeds must give equal digests."""
    text = json.dumps([(o.kind, o.cls, o.args) for o in ops],
                      sort_keys=True, default=str)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def exact_mix(n: int, shares: dict[str, float],
              order: int = 0) -> list[str]:
    """``n`` op-class labels with EXACT per-class counts (largest-remainder
    apportionment of ``shares``), interleaved by a shuffle seeded with
    ``order``, not with the run's seed: every seed runs the same class
    sequence (which ops follow a write, say) and only the op inputs vary."""
    raw = {c: n * s for c, s in shares.items()}
    counts = {c: int(v) for c, v in raw.items()}
    left = n - sum(counts.values())
    for c in sorted(raw, key=lambda c: (counts[c] - raw[c], c))[:left]:
        counts[c] += 1
    seq = [c for c in shares for _ in range(counts[c])]
    random.Random(order).shuffle(seq)
    return seq


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it,
    but never below the median: under 20 samples there is no tail."""
    return max(50, math.floor(100 * (1 - 10 / n)))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile of an unsorted sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def latency_metrics(lat: dict[str, list[float]]) -> tuple[dict, dict]:
    """End-to-end latency metrics from per-kind latencies in seconds, plus
    the tail percentile used for each kind."""
    out, tails = {}, {}
    for kind in ("read", "write"):
        xs = lat[kind]
        tails[kind] = tail_percentile(len(xs))
        out[f"{kind}_p50_ms"] = (percentile(xs, 50) * 1e3, "ms")
        out[f"{kind}_tail_ms"] = (percentile(xs, tails[kind]) * 1e3, "ms")
    n = len(lat["read"]) + len(lat["write"])
    busy = sum(lat["read"]) + sum(lat["write"])
    out["ops_per_s"] = (n / busy, "1/s")
    return out, tails


# --- host and process diagnostics -------------------------------------------

def _cpu_ticks() -> dict:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7]}


def host_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"ticks": _cpu_ticks(), "loadavg": load,
            "nproc": len(os.sched_getaffinity(0))}


def host_report(start: dict, end: dict) -> dict:
    """Steal share and load over the run: not metrics, but they make a run
    disturbed by other guests on the host visible beside its figures."""
    d_total = end["ticks"]["total"] - start["ticks"]["total"]
    d_steal = end["ticks"]["steal"] - start["ticks"]["steal"]
    return {"nproc": end["nproc"], "steal_ticks": d_steal,
            "steal_share": d_steal / d_total if d_total else 0.0,
            "loadavg_start": start["loadavg"], "loadavg_end": end["loadavg"]}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- space accounting --------------------------------------------------------

def tree_bytes(root_dir: str) -> int:
    total = 0
    for d, _, files in os.walk(root_dir):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total


def reachable_bytes(catalog, data_root: str | None = None) -> int:
    """Bytes reachable from the catalog's latest root: the root and node
    files, the catalog def, every def a live key points at and, when
    ``data_root`` is given, every data file those table defs track."""
    from olympia_spark.catalog import locations as loc
    from olympia_spark.catalog.defs import TableDef, read_def

    storage, tree = catalog.storage, catalog.tree
    root = tree.load_latest_root()
    paths = set(tree.reachable_node_paths(root))
    paths.add(root.catalog_def_path)
    data = set()
    for _key, value in tree.traverse(root):
        if not value.startswith(loc.DEF_DIR + "/"):
            continue
        paths.add(value)
        if data_root is not None and value.startswith(loc.TABLE_DEF_DIR):
            tdef = read_def(storage.read(value), value)
            if isinstance(tdef, TableDef):
                data.update(tdef.file_paths())
    total = sum(os.path.getsize(os.path.join(storage.root, p)) for p in paths)
    total += sum(os.path.getsize(os.path.join(data_root, p)) for p in data)
    return total
