"""``mv_refresh``: batches landing under two aggregate materialized views.

``lineitem`` at TPC-H sf0.05 size (300,000 rows) and ``orders`` (75,000
rows), generated from the seed, are catalog tables; two MVs aggregate
``lineitem``: a small GROUP BY ``l_returnflag`` with MIN/MAX, and a
~1,000-group GROUP BY ``l_suppkey``. Each batch cycle appends 6,000 rows
(a sample of sf0.01-sized rows with shifted keys); every fourth cycle
(1, 5, ...) also DELETEs a 250-order key range, which exercises the
retraction path. Then it REFRESHes both MVs, and every eighth cycle (3,
11, ...) runs ``compact_table``. After each cycle come six reads, two
each of an MV top-k, a filtered scan-aggregate and a ``lineitem`` JOIN
``orders`` aggregate. Every statement is one op. Spark execution,
parquet I/O and the MV subsystem dominate; the catalog is a small share.

The answer model is the generated data itself, in numpy arrays with an
"alive" mask: each read's answer and each MV's full recompute come from
it, independently of the program.
"""

from __future__ import annotations

import datetime
import os

import numpy as np

from perfbench.harness import Op, reachable_bytes, tree_bytes

N_LINES = 300_000             # sf0.05 lineitem
N_ORDERS = 75_000             # sf0.05 orders
SF001_LINES = 60_000          # the sf0.01 universe a batch samples
BATCH_ROWS = 6_000
DELETE_ORDERS = 250           # a DELETE removes this many orders' lines
CYCLES_PER_SECOND = 0.4       # nominal HEAD rate: sets the fixed op count
READS_PER_CYCLE = 6
CHECK_EVERY = 2               # MVs are checked after every 2nd cycle
EPOCH = datetime.date(1992, 1, 1)
FLAGS = np.array(["A", "N", "R"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
LINEITEM, ORDERS = "bench.lineitem", "bench.orders"
MV_FLAG, MV_SUPP = "bench.mv_flag", "bench.mv_supp"
MV_SQL = {
    MV_FLAG: ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty, "
              "MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship "
              f"FROM {LINEITEM} GROUP BY l_returnflag"),
    MV_SUPP: ("SELECT l_suppkey, COUNT(*) AS n, "
              f"SUM(l_extendedprice) AS revenue FROM {LINEITEM} "
              "GROUP BY l_suppkey"),
}
READ_CLASSES = ("topk", "scan_agg", "join_agg")


def _day(d: int) -> datetime.date:
    return EPOCH + datetime.timedelta(days=int(d))


def _lines(rng: np.random.Generator, orderkey: np.ndarray,
           linenumber: np.ndarray) -> dict:
    n = len(orderkey)
    qty = rng.integers(1, 51, n)
    return {"l_orderkey": orderkey.astype(np.int64),
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, 1_001, n),
            "l_linenumber": linenumber.astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": qty * rng.integers(90_000, 200_001, n),
            "l_discount": rng.integers(0, 11, n),
            "flag": rng.integers(0, 3, n),
            "ship": rng.integers(0, 2_500, n)}


class Model:
    """The table contents the benchmark expects, as numpy columns."""

    def __init__(self, base: dict, orders_date: np.ndarray,
                 orders_prio: np.ndarray):
        self.cols = {k: v.copy() for k, v in base.items()}
        self.alive = np.ones(len(base["l_orderkey"]), dtype=bool)
        self.orders_date = orders_date
        self.orders_prio = orders_prio

    def append(self, batch: dict) -> None:
        for k in self.cols:
            self.cols[k] = np.concatenate([self.cols[k], batch[k]])
        self.alive = np.concatenate(
            [self.alive, np.ones(len(batch["l_orderkey"]), dtype=bool)])

    def delete(self, lo: int, hi: int) -> int:
        ok = self.cols["l_orderkey"]
        hit = self.alive & (ok >= lo) & (ok <= hi)
        self.alive &= ~hit
        return int(hit.sum())

    def mv(self, name: str) -> set:
        c, a = self.cols, self.alive
        if name == MV_FLAG:
            out = set()
            for f in range(3):
                m = a & (c["flag"] == f)
                if m.any():
                    ship = c["ship"][m]
                    out.add((FLAGS[f], int(m.sum()),
                             int(c["l_quantity"][m].sum()),
                             _day(ship.min()), _day(ship.max())))
            return out
        supp = c["l_suppkey"][a]
        n = np.bincount(supp, minlength=1_001)
        rev = np.bincount(supp, weights=c["l_extendedprice"][a],
                          minlength=1_001)
        return {(int(s), int(n[s]), int(round(rev[s])))
                for s in np.nonzero(n)[0]}

    def read(self, op: Op) -> list:
        c, a = self.cols, self.alive
        if op.cls == "topk":
            rows = sorted(self.mv(MV_SUPP), key=lambda r: (-r[2], r[0]))
            return [(s, rev) for s, _, rev in rows[:10]]
        lo, hi = op.args["from"], op.args["from"] + op.args["days"] - 1
        if op.cls == "scan_agg":
            m = a & (c["ship"] >= lo) & (c["ship"] <= hi)
            groups, key = range(3), c["flag"]
            labels, value = FLAGS, c["l_quantity"]
        else:
            ok = c["l_orderkey"]
            joined = a & (ok <= len(self.orders_date))
            idx = np.where(joined, ok - 1, 0)
            od = self.orders_date[idx]
            m = joined & (od >= lo) & (od <= hi)
            groups, key = range(5), self.orders_prio[idx]
            labels, value = PRIORITIES, c["l_extendedprice"]
        out = []
        for g in groups:
            mg = m & (key == g)
            if mg.any():
                out.append((labels[g], int(mg.sum()), int(value[mg].sum())))
        return sorted(out)


class Fixture:
    def __init__(self, engine, root_dir: str, model: Model):
        self.engine = engine
        self.root_dir = root_dir
        self.model = model
        self.modes: list[tuple[str, str, int]] = []   # (tag, mode, delta)


class MvRefresh:
    name = "mv_refresh"
    USER_INSERT_CLASSES = frozenset({"append"})

    def __init__(self, work_dir: str, seed: int, seconds: int):
        self.work_dir = work_dir
        self.seed = seed
        self.cycles = max(4, round(CYCLES_PER_SECOND * seconds))
        rng = np.random.default_rng([seed, 0])
        i = np.arange(N_LINES)
        self.base = _lines(rng, i // 4 + 1, i % 4 + 1)
        self.orders_date = rng.integers(0, 2_400, N_ORDERS)
        self.orders_prio = rng.integers(0, 5, N_ORDERS)
        self.orders_cust = rng.integers(1, 15_001, N_ORDERS)
        self.spark = None
        self.batches: dict[int, tuple[dict, object]] = {}

    def attach(self, spark) -> None:
        """Build the input DataFrames once: every set-up writes the same
        ones, so set-up time is the program's, not the Arrow transfer's."""
        import pandas as pd
        self.spark = spark
        self.lineitem_df = self._frame(self.base)
        self.orders_df = spark.createDataFrame(pd.DataFrame({
            "o_orderkey": np.arange(1, N_ORDERS + 1),
            "o_custkey": self.orders_cust,
            "prio": self.orders_prio, "days": self.orders_date,
        })).selectExpr(
            "o_orderkey", "o_custkey",
            "element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', "
            "'4-NOT SPECIFIED', '5-LOW'), CAST(prio AS INT) + 1) "
            "AS o_orderpriority",
            f"date_add(DATE'{EPOCH}', CAST(days AS INT)) AS o_orderdate")

    def _frame(self, cols: dict):
        import pandas as pd
        return self.spark.createDataFrame(pd.DataFrame(cols)).selectExpr(
            "l_orderkey", "l_partkey", "l_suppkey",
            "CAST(l_linenumber AS INT) AS l_linenumber", "l_quantity",
            "l_extendedprice", "CAST(l_discount AS INT) AS l_discount",
            "element_at(array('A', 'N', 'R'), CAST(flag AS INT) + 1) "
            "AS l_returnflag",
            f"date_add(DATE'{EPOCH}', CAST(ship AS INT)) AS l_shipdate")

    def setup(self, i: int) -> Fixture:
        from olympia_spark.engine import Engine
        root_dir = os.path.join(self.work_dir, f"fixture{i}")
        eng = Engine(self.spark, root_dir)
        eng.sql("CREATE NAMESPACE bench")
        eng.write_table(self.lineitem_df, LINEITEM)
        eng.write_table(self.orders_df, ORDERS)
        for name, sql in MV_SQL.items():
            eng.sql(f"CREATE MATERIALIZED VIEW {name} AS {sql}")
        return Fixture(eng, root_dir,
                       Model(self.base, self.orders_date, self.orders_prio))

    def _batch(self, b: int) -> tuple[dict, object]:
        """Batch ``b``: BATCH_ROWS of the sf0.01 universe, keys shifted past
        every earlier batch. The DataFrame is built before timing starts:
        the program receives it ready-made."""
        if b not in self.batches:
            rng = np.random.default_rng([self.seed, 1, b])
            ids = np.sort(rng.choice(SF001_LINES, BATCH_ROWS, replace=False))
            cols = _lines(rng, 1_000_000 + b * 100_000 + ids // 4 + 1,
                          ids % 4 + 1)
            self.batches[b] = (cols, self._frame(cols))
        return self.batches[b]

    def _cycles(self, rng: np.random.Generator, n: int, tag: str,
                first_batch: int, deletes: set, compacts: set,
                slots: list) -> list[Op]:
        ops = []
        for c in range(n):
            b = first_batch + c
            self._batch(b)
            ops.append(Op("write", "append", {"tag": tag, "batch": b}))
            if c in deletes:
                lo = slots.pop() * DELETE_ORDERS + 1
                ops.append(Op("write", "delete", {
                    "tag": tag, "lo": lo, "hi": lo + DELETE_ORDERS - 1}))
            for mv in MV_SQL:
                ops.append(Op("write", "refresh", {
                    "tag": tag, "mv": mv,
                    "check": (c + 1) % CHECK_EVERY == 0 or c == n - 1}))
            if c in compacts:
                ops.append(Op("write", "compact", {"tag": tag}))
            # equal counts of each read class, in the same order on every
            # seed: only the read inputs vary
            for cls in READ_CLASSES * (READS_PER_CYCLE // len(READ_CLASSES)):
                ops.append(Op("read", cls, {
                    "tag": tag, "from": int(rng.integers(0, 2_300)),
                    "days": 90}))
        return ops

    def plan(self) -> list[Op]:
        rng = np.random.default_rng([self.seed, 2])
        n = self.cycles
        # which cycles delete or compact is the same on every seed; the
        # deleted key ranges are seeded
        slots = rng.choice(N_ORDERS // DELETE_ORDERS - 1, n, replace=False)
        return self._cycles(rng, n, "m", 1,
                            {c for c in range(n) if c % 4 == 1},
                            {c for c in range(n) if c % 8 == 3},
                            slots.tolist())

    def warmup_plan(self) -> list[Op]:
        # one full cycle with a delete, and reads of each class, on batch
        # 0 and the last key range, which the timed plan never uses
        rng = np.random.default_rng([self.seed, 3])
        return self._cycles(rng, 1, "w", 0, {0}, set(), [N_ORDERS //
                                                         DELETE_ORDERS - 1])

    def run(self, fx: Fixture, op: Op):
        eng, a = fx.engine, op.args
        if op.cls == "append":
            return eng.write_table(self.batches[a["batch"]][1], LINEITEM)
        if op.cls == "delete":
            return eng.sql(f"DELETE FROM {LINEITEM} WHERE l_orderkey "
                           f"BETWEEN {a['lo']} AND {a['hi']}").collect()
        if op.cls == "refresh":
            return eng.sql(f"REFRESH MATERIALIZED VIEW {a['mv']}").collect()
        if op.cls == "compact":
            return eng.compact_table(LINEITEM)
        if op.cls == "topk":
            return eng.sql(f"SELECT l_suppkey, revenue FROM {MV_SUPP} "
                           "ORDER BY revenue DESC, l_suppkey LIMIT 10"
                           ).collect()
        lo, hi = _day(a["from"]), _day(a["from"] + a["days"] - 1)
        if op.cls == "scan_agg":
            return eng.sql(
                "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q "
                f"FROM {LINEITEM} WHERE l_shipdate BETWEEN DATE'{lo}' AND "
                f"DATE'{hi}' GROUP BY l_returnflag").collect()
        return eng.sql(
            "SELECT o_orderpriority, COUNT(*) AS n, "
            f"SUM(l_extendedprice) AS revenue FROM {LINEITEM} JOIN {ORDERS} "
            f"ON l_orderkey = o_orderkey WHERE o_orderdate BETWEEN "
            f"DATE'{lo}' AND DATE'{hi}' GROUP BY o_orderpriority").collect()

    def _mv_rows(self, fx: Fixture, name: str) -> set:
        cols = ("l_returnflag, n, qty, first_ship, last_ship"
                if name == MV_FLAG else "l_suppkey, n, revenue")
        return {tuple(r) for r in
                fx.engine.sql(f"SELECT {cols} FROM {name}").collect()}

    def check(self, fx: Fixture, op: Op, result) -> str | None:
        model, a = fx.model, op.args
        if op.cls == "append":
            model.append(self.batches[a["batch"]][0])
            return None
        if op.cls == "delete":
            want = model.delete(a["lo"], a["hi"])
            got = result[0].rows_affected
            return None if got == want else f"deleted {got}, want {want}"
        if op.cls == "refresh":
            fx.modes.append((a["tag"], result[0].mode, result[0].delta_rows))
            if a["check"] and self._mv_rows(fx, a["mv"]) != model.mv(a["mv"]):
                return (f"{a['mv']} differs from a full recompute after a "
                        f"{result[0].mode} refresh")
            return None
        if op.cls == "compact":
            return None
        got = [tuple(r) for r in result]
        want = model.read(op)
        if op.cls != "topk":
            got = sorted(got)
        return None if got == want else f"{op.cls}: {got} != {want}"

    def final_check(self, fx: Fixture) -> list[str]:
        bad = [f"final {mv} differs from a full recompute" for mv in MV_SQL
               if self._mv_rows(fx, mv) != fx.model.mv(mv)]
        m = fx.model
        want = (int(m.alive.sum()), int(m.cols["l_orderkey"][m.alive].sum()))
        got = tuple(fx.engine.sql(
            f"SELECT COUNT(*), SUM(l_orderkey) FROM {LINEITEM}").collect()[0])
        if got != want:
            bad.append(f"final lineitem (rows, key sum) {got} != {want}")
        return bad

    def space(self, fx: Fixture) -> tuple[int, int]:
        return (tree_bytes(fx.root_dir),
                reachable_bytes(fx.engine.catalog, fx.root_dir))

    def _timed_modes(self, fx: Fixture) -> list[tuple[str, int]]:
        return [(mode, delta) for tag, mode, delta in fx.modes if tag == "m"]

    def details(self, fx: Fixture) -> dict:
        modes: dict[str, int] = {}
        for mode, _ in self._timed_modes(fx):
            modes[mode] = modes.get(mode, 0) + 1
        return {"refresh_modes": modes, "cycles": self.cycles,
                "rows_at_end": int(fx.model.alive.sum())}

    def layer_extras(self, fx: Fixture) -> dict:
        timed = self._timed_modes(fx)
        cat = fx.engine.catalog
        txn = cat.begin()
        files = [len(cat.describe_table(txn, "bench", t).data_files)
                 for t in cat.show_tables(txn, "bench")]
        return {
            "engine.mv_incremental_share": (
                sum(m == "incremental" for m, _ in timed) / len(timed),
                "ratio"),
            "engine.mv_delta_rows_per_refresh": (
                sum(d for _, d in timed) / len(timed), "count"),
            "data.files_per_table": (sum(files) / len(files), "count"),
        }

    def close(self) -> None:
        self.batches.clear()
