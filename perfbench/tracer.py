"""Span tracer for the ``--trace 1`` run.

The program carries no tracing of its own yet, so this module wraps the
public entry points of each layer from the outside, for the duration of
each traced op only:

==========================  ==============================================
layer                       wrapped entry points
==========================  ==============================================
``catalog.storage``         ``LocalStorage`` read/write_atomic/overwrite/
                            exists/list/delete
``catalog.tree``            ``Tree`` load_root/load_node/search/write_root
``catalog.transactions``    ``Catalog`` begin/at_version/commit
``catalog.defs``            ``read_def``/``write_def``
``engine``                  every public ``Engine`` method
``py4j``                    ``JavaClient.send_command`` (Python -> JVM)
``spark``                   DataFrame actions and writer saves; a job
                            group per op gives ``statusTracker`` counts
``data``                    ``Catalog.update_table_files``: bytes of the
                            data files each commit adds (no span)
==========================  ==============================================

A span records name, layer, start, end, parent span and op id; spans stay
in memory and are written out once at the end. A span's self time is its
duration minus the part of it that its child spans cover. A py4j call made
inside a Spark action is the action's own blocking wait and counts as
Spark time; py4j calls outside actions are driver plan construction.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import sys
import threading
import time
import types

STORAGE_OPS = ("read", "write_atomic", "overwrite", "exists", "list",
               "delete")
STORAGE_READS = ("read", "exists", "list")
TREE_OPS = ("load_root", "load_node", "search", "write_root")
TXN_OPS = ("begin", "at_version", "commit")
DF_ACTIONS = ("collect", "count", "toPandas", "take", "head", "first",
              "toLocalIterator", "isEmpty", "show", "foreach",
              "foreachPartition")
WRITER_ACTIONS = ("save", "parquet", "insertInto", "saveAsTable")
PY4J_GC = "m\nd\n"   # py4j's asynchronous "release object" command

# span tuple fields
SID, PARENT, OP, LAYER, NAME, T0, T1, ERR, INFO = range(9)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        # the classes whose actions are Spark spans
        df = spark.range(1)
        self._df_classes = (type(df), type(df.write))
        self.spans: list[tuple] = []
        self.ops: list[dict] = []
        self.data_writes: list[tuple] = []  # (op, action, bytes added)
        self.op: int | None = None
        self._ids = itertools.count()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._undo: list[tuple] = []

    # --- ops -----------------------------------------------------------------

    def begin_op(self, i: int, kind: str) -> None:
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}",
                                            "perfbench op")
        self.ops.append({"op": i, "kind": kind, "t0": time.perf_counter()})
        self.op = i

    def end_op(self, t1: float) -> None:
        self.op = None
        rec = self.ops[-1]
        rec["t1"] = t1
        sc = self.spark.sparkContext
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(
            f"perfbench-op-{rec['op']}"))
        sc.setJobGroup("perfbench-idle", "perfbench")

    # --- wrapping -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn, layer: str, name: str, info=None,
              materialize: bool = False, skip=None):
        tracer = self

        def traced(*args, **kwargs):
            if tracer.op is None or (skip is not None and skip(args)):
                return fn(*args, **kwargs)
            stack = tracer._stack()
            # a worker thread's first span hangs under the main thread's
            # innermost open span (write_root's parallel node uploads)
            parent = (stack[-1] if stack else
                      tracer._main_stack[-1] if tracer._main_stack else None)
            sid = next(tracer._ids)
            stack.append(sid)
            err = None
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if materialize:
                    out = iter(list(out))
                return out
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append((sid, parent, tracer.op, layer, name, t0,
                                     t1, err, info(args) if info else None))
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, new)

    def _patch_methods(self, cls, names, layer: str, **kw) -> None:
        for n in names:
            self._patch(cls, n, self._wrap(getattr(cls, n), layer,
                                           f"{cls.__name__}.{n}", **kw))

    def install(self) -> None:
        from olympia_spark.catalog import defs
        from olympia_spark.catalog.catalog import Catalog
        from olympia_spark.catalog.storage import LocalStorage
        from olympia_spark.catalog.tree import Tree

        for n in STORAGE_OPS:
            info = None
            if n in ("write_atomic", "overwrite"):
                def info(a):
                    return (a[1].split("/", 1)[0], len(a[2]))
            self._patch(LocalStorage, n, self._wrap(
                getattr(LocalStorage, n), "catalog.storage",
                f"storage.{n}", info=info, materialize=(n == "list")))
        self._patch_methods(Tree, TREE_OPS, "catalog.tree")
        self._patch_methods(Catalog, TXN_OPS, "catalog.transactions")
        original = Catalog.update_table_files

        def update_table_files(cat, txn, ns, tbl, add_files, *a, **kw):
            if self.op is not None:
                action = a[1] if len(a) > 1 else kw["action_type"]
                self.data_writes.append((self.op, action.name, sum(
                    max(f.size_bytes, 0) for f in add_files)))
            return original(cat, txn, ns, tbl, add_files, *a, **kw)
        self._patch(Catalog, "update_table_files", update_table_files)
        # read_def/write_def are imported by name: rebind every copy
        for fname in ("read_def", "write_def"):
            fn = getattr(defs, fname)
            wrapped = self._wrap(fn, "catalog.defs", fname)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("olympia_spark")
                        and getattr(mod, fname, None) is fn):
                    self._patch(mod, fname, wrapped)
        from olympia_spark.engine import Engine
        from py4j.clientserver import JavaClient
        self._patch_methods(Engine, [n for n, v in vars(Engine).items()
                                     if not n.startswith("_")
                                     and isinstance(v, types.FunctionType)],
                            "engine")
        self._patch(JavaClient, "send_command", self._wrap(
            JavaClient.send_command, "py4j", "send_command",
            skip=lambda a: a[1].startswith(PY4J_GC)))
        df_cls, writer_cls = self._df_classes
        self._patch_methods(df_cls, DF_ACTIONS, "spark")
        self._patch_methods(writer_cls, WRITER_ACTIONS, "spark")

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            if old is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._undo.clear()

    @contextlib.contextmanager
    def installed(self):
        self.install()
        try:
            yield self
        finally:
            self.uninstall()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- metrics -----------------------------------------------------------------

def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tracer: Tracer, ops, untraced, traced, wl, fx) -> dict:
    """Per-layer metrics, normalised per op (and per read / write op where
    the split matters), from the traced pass; the tracing overhead is the
    traced pass's mean op time minus that of the untraced pass."""
    by_id = {s[SID]: s for s in tracer.spans}
    children: dict[int, list[tuple]] = {}
    for s in tracer.spans:
        if s[PARENT] is not None:
            children.setdefault(s[PARENT], []).append(s)

    def ancestors(s):
        while s[PARENT] is not None and s[PARENT] in by_id:
            s = by_id[s[PARENT]]
            yield s

    kind = {o["op"]: o["kind"] for o in tracer.ops}
    n = {"op": len(tracer.ops),
         "read_op": sum(1 for k in kind.values() if k == "read"),
         "write_op": sum(1 for k in kind.values() if k == "write")}
    # sums[(metric, op kind)]
    sums: dict[tuple[str, str], float] = {}

    def add(metric: str, op: int, v: float) -> None:
        for k in ("op", f"{kind[op]}_op"):
            sums[metric, k] = sums.get((metric, k), 0.0) + v

    commits = attempts = seal_failures = node_writes = aborts = 0
    top: dict[int, list] = {}
    for s in tracer.spans:
        op, layer, name = s[OP], s[LAYER], s[NAME]
        dur = s[T1] - s[T0]
        kids = [(max(c[T0], s[T0]), min(c[T1], s[T1]))
                for c in children.get(s[SID], ())]
        self_ms = (dur - _union(kids)) * 1e3
        anc = list(ancestors(s))
        if s[PARENT] is None or s[PARENT] not in by_id:
            top.setdefault(op, []).append((s[T0], s[T1]))
        under_action = any(a[LAYER] == "spark" for a in anc)
        if layer == "py4j":
            add("py4j.round_trips", op, 1)
            if not under_action:
                add("py4j.plan_ms", op, self_ms)
        elif layer == "spark":
            if not under_action:
                add("spark.action_ms", op, dur * 1e3)
        elif layer == "engine":
            add("engine.self_ms", op, self_ms)
        elif layer == "catalog.defs":
            add("catalog.defs.self_ms", op, self_ms)
        elif layer == "catalog.tree":
            add("catalog.tree.self_ms", op, self_ms)
            if name in ("Tree.load_root", "Tree.load_node"):
                add("catalog.tree.node_loads", op, 1)
            if name == "Tree.write_root" and any(
                    a[NAME] == "Catalog.commit" for a in anc):
                attempts += 1
        elif layer == "catalog.transactions":
            if name == "Catalog.commit":
                add("catalog.transactions.commit_ms", op, dur * 1e3)
                if s[ERR] == "CommitConflictError":
                    aborts += 1
                if any(c[NAME] == "Tree.write_root"
                       for c in children.get(s[SID], ())):
                    commits += 1
            else:
                add("catalog.transactions.begin_ms", op, dur * 1e3)
        elif layer == "catalog.storage":
            add("catalog.storage.busy_ms", op, dur * 1e3)
            verb = name.split(".", 1)[1]
            if verb in STORAGE_READS:
                add("catalog.storage.reads", op, 1)
            elif verb in ("write_atomic", "overwrite"):
                add("catalog.storage.writes", op, 1)
                add("catalog.storage.bytes_written", op, s[INFO][1])
                if verb == "write_atomic" and s[INFO][0] in ("node", "vn"):
                    node_writes += 1
                if s[ERR] == "StorageAtomicSealFailureError":
                    seal_failures += 1
    for o in tracer.ops:
        add("spark.jobs", o["op"], o["jobs"])
        wall = o["t1"] - o["t0"]
        add("trace.unattributed_ms", o["op"],
            (wall - _union(top.get(o["op"], []))) * 1e3)

    out: dict[str, tuple[float, str]] = {}
    split = {"catalog.storage.reads", "catalog.tree.node_loads",
             "catalog.tree.self_ms", "engine.self_ms", "py4j.round_trips",
             "py4j.plan_ms", "spark.jobs", "spark.action_ms",
             "trace.unattributed_ms"}
    per_op = ["catalog.storage.reads", "catalog.storage.writes",
              "catalog.storage.bytes_written", "catalog.storage.busy_ms",
              "catalog.tree.node_loads", "catalog.tree.self_ms",
              "catalog.defs.self_ms", "catalog.transactions.begin_ms",
              "catalog.transactions.commit_ms", "engine.self_ms",
              "py4j.round_trips", "py4j.plan_ms", "spark.jobs",
              "spark.action_ms", "trace.unattributed_ms"]
    for m in per_op:
        unit = ("ms" if m.endswith("_ms") else
                "B" if m.endswith("bytes_written") else "count")
        for k in (("op", "read_op", "write_op") if m in split else ("op",)):
            out[f"{m}_per_{k}"] = (sums.get((m, k), 0.0) / max(n[k], 1),
                                   unit)
    out["catalog.tree.node_writes_per_commit"] = (
        node_writes / max(commits, 1), "count")
    out["catalog.transactions.cas_attempts_per_commit"] = (
        attempts / max(commits, 1), "count")
    out["catalog.storage.seal_failures_per_commit"] = (
        seal_failures / max(commits, 1), "count")
    out["catalog.transactions.aborts"] = (float(aborts), "count")

    user_ops = {o["op"] for o in tracer.ops
                if ops[o["op"]].cls in wl.USER_INSERT_CLASSES}
    written = sum(b for _, _, b in tracer.data_writes)
    user = sum(b for op, act, b in tracer.data_writes
               if op in user_ops and act == "TABLE_INSERT")
    out["data.bytes_written_per_user_byte"] = (
        written / user if user else 0.0, "ratio")
    out.update(wl.layer_extras(fx))

    def mean_ms(p) -> float:
        return statistics.fmean(p.lat["read"] + p.lat["write"]) * 1e3
    over = mean_ms(traced) - mean_ms(untraced)
    out["trace.overhead_ms_per_op"] = (over, "ms")
    out["trace.overhead_share"] = (over / mean_ms(untraced), "ratio")
    out["trace.spans_per_op"] = (len(tracer.spans) / max(n["op"], 1),
                                 "count")
    return out
