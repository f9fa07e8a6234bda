"""``sql_small``: single statements through ``Engine.sql`` on a small table.

A 15,000-row ``orders``-shaped table (the row count of TPC-H sf0.01
``orders``), generated from the seed and written as one data file. Reads
are point ``SELECT ... WHERE o_orderkey = k`` and a small ``GROUP BY``;
writes are a one-row ``INSERT ... VALUES``, ``UPDATE`` and ``DELETE`` by
key, and ``BEGIN; INSERT; INSERT; COMMIT``. Data volume is small: the SQL
front end, py4j plan construction and per-job scheduling dominate, and
every statement also begins a catalog snapshot and every write commits.

The answer model is a Python dict keyed by ``o_orderkey``.
"""

from __future__ import annotations

import datetime
import os
import random

from perfbench.harness import Op, exact_mix, reachable_bytes, tree_bytes

TABLE = "bench.orders"
N_ROWS = 15_000
OPS_PER_SECOND = 10           # HEAD rate on a quiet host: sets the op count
WARMUP_MIX = 60               # untimed: every write path a few times...
WARMUP_POINTS = 100           # ...then the cheapest statement until the
                              # JVM's JIT has settled
# Within the writes (fastest class first: insert, txn, delete, update) the
# median lands inside ``delete`` and the tail inside ``update``, not on a
# class boundary, where it would be one class's extreme sample.
SHARES = {"point": 0.45, "group": 0.05, "insert": 0.15, "txn": 0.05,
          "delete": 0.10, "update": 0.20}
KIND = {"point": "read", "group": "read", "insert": "write",
        "update": "write", "delete": "write", "txn": "write"}
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = datetime.date(1992, 1, 1)
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
           "o_orderdate", "o_orderpriority")


def _row(rng: random.Random) -> tuple:
    """(custkey, status, price in cents, date, priority)."""
    return (rng.randrange(1, 1501), rng.choice(STATUSES),
            rng.randrange(100_000, 50_000_000),
            EPOCH + datetime.timedelta(days=rng.randrange(2400)),
            rng.choice(PRIORITIES))


def _values(key: int, row: tuple) -> str:
    cust, status, price, date, prio = row
    return f"({key}, {cust}, '{status}', {price}, DATE'{date}', '{prio}')"


class Fixture:
    def __init__(self, engine, root_dir: str, model: dict):
        self.engine = engine
        self.root_dir = root_dir
        self.model = model


class SqlSmall:
    name = "sql_small"
    USER_INSERT_CLASSES = frozenset({"insert", "txn"})

    def __init__(self, work_dir: str, seed: int, seconds: int):
        self.work_dir = work_dir
        self.seed = seed
        self.n_ops = OPS_PER_SECOND * seconds
        rng = random.Random(seed)
        self.rows = {4 * i + 1: _row(rng) for i in range(N_ROWS)}
        self.spark = None

    def attach(self, spark) -> None:
        """Build the input DataFrame once: every set-up writes the same
        one, so set-up time is the program's, not the Arrow transfer's. It
        is one partition, so the table starts as one data file and every
        UPDATE or DELETE rewrites the same amount, whatever the key."""
        import pandas as pd
        self.spark = spark
        cols = list(zip(*self.rows.values()))
        pdf = pd.DataFrame({
            "o_orderkey": list(self.rows), "o_custkey": cols[0],
            "o_orderstatus": cols[1], "o_totalprice": cols[2],
            "days": [(d - EPOCH).days for d in cols[3]],
            "o_orderpriority": cols[4]})
        self.df = spark.createDataFrame(pdf).selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            f"date_add(DATE'{EPOCH}', CAST(days AS INT)) AS o_orderdate",
            "o_orderpriority").coalesce(1)

    def setup(self, i: int) -> Fixture:
        from olympia_spark.engine import Engine
        root_dir = os.path.join(self.work_dir, f"fixture{i}")
        eng = Engine(self.spark, root_dir)
        eng.sql("CREATE NAMESPACE bench")
        eng.write_table(self.df, TABLE)
        return Fixture(eng, root_dir, dict(self.rows))

    def _plan(self, rng: random.Random, n: int, first_key: int,
              order: int) -> list[Op]:
        next_key = first_key
        ops = []
        for cls in exact_mix(n, SHARES, order):
            if cls == "point":
                key = (4 * rng.randrange(N_ROWS) + 1 if rng.random() < 0.9
                       else rng.randrange(1, 4 * N_ROWS))
                ops.append(Op("read", cls, {"key": key}))
            elif cls == "group":
                ops.append(Op("read", cls,
                              {"priority": rng.choice(PRIORITIES)}))
            elif cls in ("insert", "txn"):
                rows = [(next_key + j, _row(rng))
                        for j in range(1 if cls == "insert" else 2)]
                next_key += len(rows)
                ops.append(Op("write", cls, {"rows": rows}))
            elif cls == "update":
                ops.append(Op("write", cls, {
                    "key": 4 * rng.randrange(N_ROWS) + 1,
                    "price": rng.randrange(100_000, 50_000_000),
                    "status": rng.choice(STATUSES)}))
            else:
                ops.append(Op("write", cls,
                              {"key": 4 * rng.randrange(N_ROWS) + 1}))
        return ops

    def plan(self) -> list[Op]:
        return self._plan(random.Random(self.seed + 1), self.n_ops, 100_000,
                          order=1)

    def warmup_plan(self) -> list[Op]:
        # op latency halves over the first ~100 statements as the JVM
        # compiles the planner's hot paths, and only after ~150 do the runs'
        # medians agree within a few percent. The same mix first (inserting
        # keys the timed plan never inserts), then point SELECTs, which
        # warm the shared planner paths at the lowest cost per statement.
        rng = random.Random(self.seed + 2)
        ops = self._plan(rng, WARMUP_MIX, 1_000_000, order=2)
        return ops + [Op("read", "point",
                         {"key": 4 * rng.randrange(N_ROWS) + 1})
                      for _ in range(WARMUP_POINTS)]

    def run(self, fx: Fixture, op: Op):
        sql = fx.engine.sql
        a = op.args
        if op.cls == "point":
            return sql(f"SELECT {', '.join(COLUMNS)} FROM {TABLE} "
                       f"WHERE o_orderkey = {a['key']}").collect()
        if op.cls == "group":
            return sql("SELECT o_orderstatus, COUNT(*) AS n, "
                       f"SUM(o_totalprice) AS total FROM {TABLE} "
                       f"WHERE o_orderpriority = '{a['priority']}' "
                       "GROUP BY o_orderstatus").collect()
        if op.cls == "insert":
            (key, row), = a["rows"]
            return sql(f"INSERT INTO {TABLE} VALUES {_values(key, row)}"
                       ).collect()
        if op.cls == "txn":
            sql("BEGIN")
            try:
                for key, row in a["rows"]:
                    sql(f"INSERT INTO {TABLE} VALUES {_values(key, row)}")
                return sql("COMMIT").collect()
            finally:
                if fx.engine.current_txn is not None:
                    fx.engine.rollback()
        if op.cls == "update":
            return sql(f"UPDATE {TABLE} SET o_totalprice = {a['price']}, "
                       f"o_orderstatus = '{a['status']}' "
                       f"WHERE o_orderkey = {a['key']}").collect()
        return sql(f"DELETE FROM {TABLE} WHERE o_orderkey = {a['key']}"
                   ).collect()

    def check(self, fx: Fixture, op: Op, result) -> str | None:
        model, a = fx.model, op.args
        if op.cls == "point":
            got = [tuple(r) for r in result]
            row = model.get(a["key"])
            want = [] if row is None else [(a["key"],) + row]
            return None if got == want else f"key {a['key']}: {got} != {want}"
        if op.cls == "group":
            got = sorted(tuple(r) for r in result)
            want: dict[str, list[int]] = {}
            for _, status, price, _, prio in model.values():
                if prio == a["priority"]:
                    acc = want.setdefault(status, [0, 0])
                    acc[0] += 1
                    acc[1] += price
            want_rows = sorted((s, n, t) for s, (n, t) in want.items())
            return None if got == want_rows else f"{got} != {want_rows}"
        if op.cls in ("insert", "txn"):
            model.update(a["rows"])
            return None
        present = a["key"] in model
        got = result[0].rows_affected
        if op.cls == "update" and present:
            cust, _, _, date, prio = model[a["key"]]
            model[a["key"]] = (cust, a["status"], a["price"], date, prio)
        elif op.cls == "delete" and present:
            del model[a["key"]]
        return None if got == int(present) else \
            f"{op.cls} key {a['key']}: {got} rows affected, want {int(present)}"

    def final_check(self, fx: Fixture) -> list[str]:
        got = {r[0]: tuple(r[1:]) for r in fx.engine.sql(
            f"SELECT {', '.join(COLUMNS)} FROM {TABLE}").collect()}
        if got == fx.model:
            return []
        diff = set(got.items()) ^ set(fx.model.items())
        return [f"final table differs from the model in {len(diff)} rows"]

    def space(self, fx: Fixture) -> tuple[int, int]:
        return (tree_bytes(fx.root_dir),
                reachable_bytes(fx.engine.catalog, fx.root_dir))

    def details(self, fx: Fixture) -> dict:
        return {"rows_at_end": len(fx.model)}

    def layer_extras(self, fx: Fixture) -> dict:
        cat = fx.engine.catalog
        tdef = cat.describe_table(cat.begin(), "bench", "orders")
        return {"engine.mv_incremental_share": (0.0, "ratio"),
                "engine.mv_delta_rows_per_refresh": (0.0, "count"),
                "data.files_per_table": (float(len(tdef.data_files)),
                                         "count")}

    def close(self) -> None:
        pass
