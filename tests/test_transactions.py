"""Transaction semantics: optimistic CAS, conflict matrix, snapshot
isolation, SERIALIZABLE read-write conflicts, distributed resume —
the contention coverage SURVEY §5 calls out as the reference's weak spot."""

from __future__ import annotations

import json

import pytest

from olympia_spark.catalog import (Catalog, CommitConflictError, TableDef)
from olympia_spark.catalog.actions import (NO_CONFLICT, RESOLVABLE,
                                           UNRESOLVABLE, Action, ActionType,
                                           analyze)
from olympia_spark.catalog.defs import DataFile, ISOLATION_SERIALIZABLE


@pytest.fixture()
def cat(tmp_path) -> Catalog:
    c = Catalog.create(str(tmp_path / "w"))
    txn = c.begin()
    c.create_namespace(txn, "ns1")
    c.create_table(txn, "ns1", "t1", _tdef())
    c.commit(txn)
    return c


def _tdef() -> TableDef:
    return TableDef(schema_json=json.dumps(
        {"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}]}))


# --- conflict matrix unit tests (AnalyzeActionConflicts.java:82-353) --------

K = "C===k"


@pytest.mark.parametrize("committed,pending,verdict", [
    (ActionType.TABLE_INSERT, ActionType.TABLE_INSERT, RESOLVABLE),
    (ActionType.TABLE_INSERT, ActionType.TABLE_UPDATE, RESOLVABLE),
    (ActionType.TABLE_INSERT, ActionType.TABLE_ALTER, RESOLVABLE),
    (ActionType.TABLE_UPDATE, ActionType.TABLE_INSERT, UNRESOLVABLE),
    (ActionType.TABLE_UPDATE, ActionType.TABLE_DELETE, UNRESOLVABLE),
    (ActionType.TABLE_DELETE, ActionType.TABLE_INSERT, RESOLVABLE),
    (ActionType.TABLE_ALTER, ActionType.TABLE_ALTER, UNRESOLVABLE),
    (ActionType.TABLE_ALTER_ADD_COLUMNS, ActionType.TABLE_ALTER,
     UNRESOLVABLE),
    (ActionType.TABLE_DROP, ActionType.TABLE_INSERT, UNRESOLVABLE),
    (ActionType.TABLE_DROP, ActionType.TABLE_ALTER, UNRESOLVABLE),
    (ActionType.TABLE_CREATE, ActionType.TABLE_CREATE, UNRESOLVABLE),
    (ActionType.NAMESPACE_CREATE, ActionType.NAMESPACE_CREATE, UNRESOLVABLE),
    (ActionType.NAMESPACE_ALTER, ActionType.NAMESPACE_ALTER, UNRESOLVABLE),
    (ActionType.VIEW_DROP, ActionType.VIEW_REPLACE, UNRESOLVABLE),
    (ActionType.TABLE_SELECT, ActionType.TABLE_INSERT, NO_CONFLICT),
    (ActionType.TABLE_INSERT, ActionType.TABLE_SELECT, NO_CONFLICT),
])
def test_conflict_matrix_snapshot(committed, pending, verdict):
    assert analyze(Action(pending, K), Action(committed, K),
                   "SNAPSHOT") == verdict


def test_conflict_matrix_different_keys_never_conflict():
    a = Action(ActionType.TABLE_ALTER, "C===a")
    b = Action(ActionType.TABLE_ALTER, "C===b")
    assert analyze(a, b, "SNAPSHOT") == NO_CONFLICT


def test_serializable_read_write_conflict():
    """SURVEY §2 A32: under SERIALIZABLE a committed write invalidates a
    pending read of the same table (left TODO in the reference)."""
    read = Action(ActionType.TABLE_SELECT, K)
    write = Action(ActionType.TABLE_INSERT, K)
    assert analyze(read, write, "SNAPSHOT") == NO_CONFLICT
    assert analyze(read, write, ISOLATION_SERIALIZABLE) == UNRESOLVABLE


# --- CAS loop end-to-end -----------------------------------------------------

def test_concurrent_inserts_merge_file_lists(cat):
    """INSERT ∥ INSERT on one table is resolvable: the loser's retry
    recomputes the def from current state and both file sets survive
    (docs/format.md "Catalog Commit Conflict Resolution")."""
    t1 = cat.begin()
    t2 = cat.begin()
    cat.update_table_files(t1, "ns1", "t1", [DataFile(path="data/a.parquet")],
                          [], ActionType.TABLE_INSERT)
    cat.update_table_files(t2, "ns1", "t1", [DataFile(path="data/b.parquet")],
                          [], ActionType.TABLE_INSERT)
    cat.commit(t1)
    cat.commit(t2)          # loses CAS, resolves, rolls forward
    txn = cat.begin()
    files = {f.path for f in cat.describe_table(txn, "ns1", "t1").data_files}
    assert files == {"data/a.parquet", "data/b.parquet"}
    assert cat.tree.find_latest_version() == 3   # two separate commits


def test_concurrent_alter_alter_is_unresolvable(cat):
    t1 = cat.begin()
    t2 = cat.begin()
    d1 = cat.describe_table(t1, "ns1", "t1")
    d1.properties["a"] = "1"
    cat.alter_table(t1, "ns1", "t1", d1)
    d2 = cat.describe_table(t2, "ns1", "t1")
    d2.properties["b"] = "2"
    cat.alter_table(t2, "ns1", "t1", d2)
    cat.commit(t1)
    with pytest.raises(CommitConflictError):
        cat.commit(t2)


def test_concurrent_drop_vs_insert_is_unresolvable(cat):
    t1 = cat.begin()
    t2 = cat.begin()
    cat.drop_table(t1, "ns1", "t1")
    cat.update_table_files(t2, "ns1", "t1", [DataFile(path="data/x.parquet")],
                          [], ActionType.TABLE_INSERT)
    cat.commit(t1)
    with pytest.raises(CommitConflictError):
        cat.commit(t2)


def test_concurrent_creates_different_objects_both_land(cat):
    t1 = cat.begin()
    t2 = cat.begin()
    cat.create_table(t1, "ns1", "left", _tdef())
    cat.create_table(t2, "ns1", "right", _tdef())
    cat.commit(t1)
    cat.commit(t2)          # no conflict — replays onto new root
    txn = cat.begin()
    assert set(cat.show_tables(txn, "ns1")) == {"left", "right", "t1"}


def test_serializable_txn_read_then_concurrent_write_aborts(cat):
    t1 = cat.begin(isolation_level=ISOLATION_SERIALIZABLE)
    # t1 reads t1's def (records TABLE_SELECT-ish read), then writes ns prop
    cat.describe_table(t1, "ns1", "t1")
    t1.record_read(Action(ActionType.TABLE_SELECT,
                          cat._tbl_key("ns1", "t1")))
    cat.create_table(t1, "ns1", "t_new", _tdef())
    # concurrent writer inserts into the table t1 read
    t2 = cat.begin()
    cat.update_table_files(t2, "ns1", "t1", [DataFile(path="data/z.parquet")],
                          [], ActionType.TABLE_INSERT)
    cat.commit(t2)
    with pytest.raises(CommitConflictError):
        cat.commit(t1)


def test_snapshot_isolation_reader_sees_begin_state(cat):
    reader = cat.begin()
    writer = cat.begin()
    cat.create_table(writer, "ns1", "t_late", _tdef())
    cat.commit(writer)
    # reader still sees its beginning snapshot
    assert cat.show_tables(reader, "ns1") == ["t1"]
    fresh = cat.begin()
    assert set(cat.show_tables(fresh, "ns1")) == {"t1", "t_late"}


def test_rollback_is_discard(cat):
    txn = cat.begin()
    cat.create_table(txn, "ns1", "tx", _tdef())
    del txn                  # ROLLBACK = discard in-memory transaction
    fresh = cat.begin()
    assert cat.show_tables(fresh, "ns1") == ["t1"]


def test_commit_twice_rejected(cat):
    txn = cat.begin()
    cat.create_table(txn, "ns1", "t2", _tdef())
    cat.commit(txn)
    from olympia_spark.catalog.errors import TransactionValueError
    with pytest.raises(TransactionValueError):
        cat.commit(txn)


def test_expired_ttl_rejected(cat):
    txn = cat.begin(ttl_millis=1)
    cat.create_table(txn, "ns1", "t2", _tdef())
    import time
    time.sleep(0.01)
    from olympia_spark.catalog.errors import TransactionValueError
    with pytest.raises(TransactionValueError):
        cat.commit(txn)


# --- distributed transactions (A5) ------------------------------------------

def test_dist_transaction_save_load_commit(cat):
    txn = cat.begin()
    cat.update_table_files(txn, "ns1", "t1",
                          [DataFile(path="data/d1.parquet")], [],
                          ActionType.TABLE_INSERT)
    path = cat.save_dist_transaction(txn)
    assert cat.dist_transaction_exists(txn.id)
    assert txn.id in cat.list_dist_transactions()
    assert path.startswith("def/dtxn/")

    # "another process": reload catalog + txn from storage
    cat2 = Catalog.load(cat.storage.root)
    resumed = cat2.load_dist_transaction(txn.id)
    assert resumed.id == txn.id
    cat2.commit(resumed)
    check = cat2.begin()
    files = {f.path for f in
             cat2.describe_table(check, "ns1", "t1").data_files}
    assert files == {"data/d1.parquet"}


def test_dist_transaction_resume_survives_cas_loss(cat):
    txn = cat.begin()
    cat.update_table_files(txn, "ns1", "t1",
                          [DataFile(path="data/mine.parquet")], [],
                          ActionType.TABLE_INSERT)
    cat.save_dist_transaction(txn)

    # a competing commit lands before the resumed txn commits
    other = cat.begin()
    cat.update_table_files(other, "ns1", "t1",
                          [DataFile(path="data/theirs.parquet")], [],
                          ActionType.TABLE_INSERT)
    cat.commit(other)

    cat2 = Catalog.load(cat.storage.root)
    resumed = cat2.load_dist_transaction(txn.id)
    cat2.commit(resumed)     # payload replay merges the file lists
    check = cat2.begin()
    files = {f.path for f in
             cat2.describe_table(check, "ns1", "t1").data_files}
    assert files == {"data/mine.parquet", "data/theirs.parquet"}


# --- statement transactions on an Engine -------------------------------------

@pytest.fixture()
def engine(spark, tmp_path):
    from olympia_spark.engine import Engine
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE ns")
    return eng


def _ks(engine, name):
    return sorted(r.k for r in engine.sql(f"SELECT k FROM {name}").collect())


def test_one_engine_two_threads_keep_every_insert(engine):
    """Each auto-commit statement owns its transaction, so two threads
    sharing one Engine commit all of their INSERTs."""
    import threading
    engine.sql("CREATE TABLE ns.t (k BIGINT)")
    errors = []

    def run(base):
        try:
            for i in range(10):
                engine.sql(f"INSERT INTO ns.t VALUES ({base + i})")
        except Exception as e:          # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(b,)) for b in (0, 10)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert _ks(engine, "ns.t") == list(range(20))


def test_failed_statement_inside_begin_publishes_nothing(engine):
    """A statement that raises inside BEGIN leaves the block as it was
    before the statement: COMMIT publishes the earlier INSERT, but
    neither the failed CTAS's table nor the failed replace's drop."""
    engine.sql("CREATE TABLE ns.b (k BIGINT)")
    engine.sql("INSERT INTO ns.b VALUES (7)")
    engine.sql("CREATE TABLE ns.a (k BIGINT)")
    engine.sql("BEGIN")
    engine.sql("INSERT INTO ns.a VALUES (1)")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        engine.sql("CREATE TABLE ns.c AS SELECT CAST('x' AS INT) AS k")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        engine.sql("CREATE OR REPLACE TABLE ns.b AS "
                   "SELECT CAST('y' AS INT) AS k")
    engine.sql("COMMIT")
    assert _ks(engine, "ns.a") == [1]
    assert _ks(engine, "ns.b") == [7]
    assert [r.table for r in engine.sql("SHOW TABLES IN ns").collect()
            ] == ["a", "b"]


def test_failed_statement_in_resumed_dist_txn_keeps_earlier_work(engine,
                                                                   spark):
    """A resumed handle's earlier ops replay only from payloads: a
    failed statement after the resume must undo just its own ops and
    raise its own error, and COMMIT still publishes the earlier work."""
    from olympia_spark.engine import Engine
    engine.sql("BEGIN")
    engine.sql("CREATE TABLE ns.d (k BIGINT)")
    tid = engine.begin_dist()
    engine.rollback()
    other = Engine(spark, engine.catalog.storage.root)
    other.resume_dist(tid)
    other.sql("INSERT INTO ns.d VALUES (1)")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        other.sql("CREATE TABLE ns.c AS SELECT CAST('x' AS INT) AS k")
    other.sql("COMMIT")
    assert _ks(other, "ns.d") == [1]
    assert [r.table for r in other.sql("SHOW TABLES IN ns").collect()
            ] == ["d"]


def test_failed_rebuild_leaves_transaction_as_it_was(cat):
    from olympia_spark.catalog.transactions import roll_back_to
    txn = cat.begin()
    cat.create_table(txn, "ns1", "t2", _tdef())
    cat.create_table(txn, "ns1", "t3", _tdef())

    def failing(t):
        raise OSError("replay failed")

    txn.ops[0] = failing
    before = (txn.running_root, txn.base_version, txn.write_actions,
              txn.ops)
    with pytest.raises(OSError, match="replay failed"):
        roll_back_to(txn, 1)
    assert (txn.running_root, txn.base_version, txn.write_actions,
            txn.ops) == before
    cat.commit(txn)
    assert set(cat.show_tables(cat.begin(), "ns1")) == {"t1", "t2", "t3"}


def test_statement_catalog_traffic(engine, monkeypatch):
    """Transactions begun and catalog versions added per statement
    class. The counts are those of the engine before statements owned
    their transactions: no statement begins or commits more than it
    did. A VALUES insert has no source to read, so it describes its
    target in the write's transaction and begins one fewer."""
    from olympia_spark.catalog.errors import CheckConstraintError
    engine.sql("CREATE TABLE ns.p (k BIGINT, v BIGINT, "
               "CONSTRAINT pos CHECK (v >= 0))")
    engine.sql("INSERT INTO ns.p VALUES (1, 10), (2, 20), (3, 30)")
    begins = []
    begin = type(engine.catalog).begin

    def counting_begin(cat, *a, **kw):
        begins.append(1)
        return begin(cat, *a, **kw)

    monkeypatch.setattr(type(engine.catalog), "begin", counting_begin)

    def traffic(*statements, fails=None):
        begins.clear()
        v0 = engine.catalog.tree.find_latest_version()
        for s in statements:
            if fails is None:
                engine.sql(s).collect()
            else:
                with pytest.raises(fails):
                    engine.sql(s)
        return len(begins), engine.catalog.tree.find_latest_version() - v0

    got = {
        "point select": traffic("SELECT v FROM ns.p WHERE k = 1"),
        "insert values": traffic("INSERT INTO ns.p VALUES (4, 40)"),
        "point update": traffic("UPDATE ns.p SET v = 0 WHERE k = 2"),
        "point delete": traffic("DELETE FROM ns.p WHERE k = 3"),
        "begin insert insert commit": traffic(
            "BEGIN", "INSERT INTO ns.p VALUES (5, 50)",
            "INSERT INTO ns.p VALUES (6, 60)", "COMMIT"),
        "create table": traffic("CREATE TABLE ns.q (k BIGINT)"),
        "create if not exists, existing": traffic(
            "CREATE TABLE IF NOT EXISTS ns.q (k BIGINT)"),
        "failing update": traffic("UPDATE ns.p SET v = -1 WHERE k = 1",
                                  fails=CheckConstraintError),
    }
    assert got == {
        "point select": (1, 0),
        "insert values": (2, 1),      # statement, compaction probe
        "point update": (1, 1),
        "point delete": (1, 1),
        "begin insert insert commit": (1, 1),
        "create table": (1, 1),
        "create if not exists, existing": (1, 0),
        "failing update": (1, 0),
    }
