"""Statement scope: every frame a statement's SQL reads is bound under a
name no other statement uses and dropped when the statement ends, so
statements on one SparkSession never see each other's frames, and
subqueries in UPDATE SET and MERGE clauses read the statement's
snapshot like every other reference."""

from __future__ import annotations

import threading

import pytest

from olympia_spark.engine import Engine


def _olympia_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("olympia__")]


@pytest.fixture()
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "warehouse"))
    eng.sql("CREATE NAMESPACE ns1")
    return eng


def test_two_engines_in_two_threads_read_their_own_tables(spark, tmp_path):
    """Two Engines on different warehouses share one session; each reads
    its own ns1.t from its own thread. With session-global view names
    (one name per ns.obj) a statement could read the other warehouse's
    frame between its registration and its spark.sql."""
    engines = []
    for i, rows in enumerate((3, 5)):
        eng = Engine(spark, str(tmp_path / f"wh{i}"))
        eng.sql("CREATE NAMESPACE ns1")
        eng.sql("CREATE TABLE ns1.t (k BIGINT)")
        eng.sql("INSERT INTO ns1.t VALUES "
                + ", ".join(f"({k})" for k in range(rows)))
        engines.append((eng, rows))
    wrong, errors = [], []

    def run(eng, rows):
        try:
            for _ in range(40):
                n = eng.sql("SELECT count(*) AS n FROM ns1.t").first().n
                if n != rows:
                    wrong.append(n)
        except Exception as e:          # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=a) for a in engines]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []


def test_update_set_scalar_subquery_reads_the_table(engine):
    engine.sql("CREATE TABLE ns1.uw (k BIGINT, w BIGINT)")
    engine.sql("INSERT INTO ns1.uw VALUES (1, 10), (2, 20), (3, 30)")
    assert engine.sql("UPDATE ns1.uw SET w = (SELECT max(w) FROM ns1.uw "
                      "WHERE k = 1) WHERE k = 2").first()[0] == 1
    assert sorted(tuple(r) for r in engine.sql(
        "SELECT k, w FROM ns1.uw").collect()) == [(1, 10), (2, 10), (3, 30)]


def test_update_set_subquery_with_subquery_predicate(engine):
    engine.sql("CREATE TABLE ns1.uw (k BIGINT, w BIGINT)")
    engine.sql("INSERT INTO ns1.uw VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql("UPDATE ns1.uw SET w = (SELECT min(w) FROM ns1.uw) "
               "WHERE k IN (SELECT k FROM ns1.uw WHERE w > 15)")
    assert sorted(tuple(r) for r in engine.sql(
        "SELECT k, w FROM ns1.uw").collect()) == [(1, 10), (2, 10), (3, 10)]


def test_merge_subqueries_in_when_condition_and_update_set(engine, spark):
    engine.sql("CREATE TABLE ns1.mt (k BIGINT, w BIGINT)")
    engine.sql("INSERT INTO ns1.mt VALUES (1, 10), (2, 20), (3, 30)")
    engine.sql("CREATE TABLE ns1.ms (k BIGINT, w BIGINT)")
    engine.sql("INSERT INTO ns1.ms VALUES (1, 1), (2, 2), (4, 4)")
    n = engine.sql(
        "MERGE INTO ns1.mt AS t USING ns1.ms AS s ON t.k = s.k "
        "WHEN MATCHED AND t.w < (SELECT max(w) FROM ns1.mt) - 15 "
        "THEN UPDATE SET w = (SELECT max(w) FROM ns1.mt) + s.w "
        "WHEN NOT MATCHED THEN INSERT (k, w) "
        "VALUES (s.k, (SELECT sum(w) FROM ns1.ms))").first()[0]
    assert n == 2
    assert sorted(tuple(r) for r in engine.sql(
        "SELECT k, w FROM ns1.mt").collect()) == \
        [(1, 31), (2, 20), (3, 30), (4, 7)]


def test_merge_schema_evolution_types_a_subquery_assignment(engine):
    """MERGE WITH SCHEMA EVOLUTION types a new column from its
    assignment; a subquery there binds its table like the rest of the
    statement, so the type can be inferred."""
    engine.sql("CREATE TABLE ns1.t (k BIGINT, w BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1, 10), (2, 20)")
    engine.sql("CREATE TABLE ns1.s (k BIGINT, w BIGINT)")
    engine.sql("INSERT INTO ns1.s VALUES (1, 5), (3, 7)")
    engine.sql("MERGE WITH SCHEMA EVOLUTION INTO ns1.t AS t "
               "USING ns1.s AS s ON t.k = s.k "
               "WHEN MATCHED THEN UPDATE SET z = (SELECT max(w) FROM ns1.s)")
    assert sorted(tuple(r) for r in engine.sql(
        "SELECT k, w, z FROM ns1.t").collect()) == [(1, 10, 7), (2, 20, None)]

def test_sql_temp_view_keeps_its_creation_snapshot(engine, spark):
    """CREATE TEMP VIEW (and CACHE TABLE ... AS) through Engine.sql make
    the user's own session view: it outlives the statement, stays
    readable after later statements, and reads the snapshot of its
    creation."""
    engine.sql("CREATE TABLE ns1.t (k BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1), (2)")
    try:
        engine.sql("CREATE TEMP VIEW uv AS SELECT k FROM ns1.t WHERE k > 0")
        engine.sql("CREATE OR REPLACE TEMPORARY VIEW uv2 (kk) AS "
                   "SELECT k FROM ns1.t")
        engine.sql("INSERT INTO ns1.t VALUES (3)")
        engine.sql("SELECT count(*) FROM ns1.t").collect()
        assert sorted(r.k for r in spark.sql("SELECT * FROM uv")
                      .collect()) == [1, 2]
        assert sorted(r.kk for r in engine.sql("SELECT * FROM uv2")
                      .collect()) == [1, 2]
        with pytest.raises(Exception, match="already exists"):
            engine.sql("CREATE TEMP VIEW uv AS SELECT k FROM ns1.t")
        engine.sql("CREATE OR REPLACE TEMP VIEW uv AS SELECT k FROM ns1.t")
        engine.sql("CREATE GLOBAL TEMP VIEW gv AS SELECT k FROM ns1.t")
        engine.sql("CACHE TABLE cv AS SELECT k FROM ns1.t")
        engine.sql("DELETE FROM ns1.t WHERE k = 3")
        assert spark.sql("SELECT count(*) AS n FROM uv").first().n == 3
        assert spark.sql("SELECT count(*) AS n FROM global_temp.gv"
                         ).first().n == 3
        assert spark.catalog.isCached("cv")
        assert spark.sql("SELECT count(*) AS n FROM cv").first().n == 3
    finally:
        spark.catalog.dropTempView("cv")
        spark.catalog.dropTempView("uv")
        spark.catalog.dropTempView("uv2")
        spark.catalog.dropGlobalTempView("gv")


def test_no_bound_name_outlives_its_statement(engine, spark):
    engine.sql("CREATE TABLE ns1.t (k BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1), (2), (3)")
    version = engine.catalog.tree.find_latest_version()
    engine.sql("CREATE VIEW ns1.v AS SELECT k FROM ns1.t WHERE k > 1")
    engine.sql("DELETE FROM ns1.t WHERE k IN (SELECT k FROM ns1.t "
               "WHERE k = 1)")
    engine.sql("DELETE FROM ns1.t WHERE k = (SELECT max(k) FROM ns1.v)")
    engine.sql("SELECT * FROM ns1.v JOIN ns1.t$files ON true").collect()
    assert engine.sql(f"SELECT count(*) FROM ns1.t VERSION AS OF {version}"
                      ).first()[0] == 3
    assert _olympia_views(spark) == []
    with pytest.raises(Exception):
        engine.sql("SELECT nope FROM ns1.t JOIN ns1.v ON true")
    assert _olympia_views(spark) == []
    assert [r.k for r in engine.sql("SELECT k FROM ns1.t").collect()] == [2]


def test_raw_literal_ending_in_backslash(engine):
    """In r'...' a backslash is not an escape: r'C:\\' ends at its second
    quote, and the table after it is still resolved."""
    engine.sql("CREATE TABLE ns1.t (k BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1)")
    assert engine.sql("SELECT r'C:\\' AS p, k FROM ns1.t").first() \
        == ("C:\\", 1)
    assert engine.sql('SELECT R"ns1.t\\" AS p FROM ns1.t').first().p \
        == "ns1.t\\"


def test_properties_literals_are_unescaped(engine):
    engine.sql("CREATE TABLE ns1.t (k BIGINT) "
               "TBLPROPERTIES ('a'='x, y', 'b'='it\\'s')")
    engine.sql("ALTER TABLE ns1.t SET TBLPROPERTIES "
               "('note'='it\\'s', 'x'='a''b', 'p'='1)2')")
    props = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "t").properties
    assert {k: props[k] for k in ("a", "b", "note", "x", "p")} == {
        "a": "x, y", "b": "it's", "note": "it's", "x": "a'b", "p": "1)2"}
    engine.sql("ALTER NAMESPACE ns1 SET PROPERTIES ('o''k'='v\\\\w', "
               "'gone'='1')")
    engine.sql("ALTER NAMESPACE ns1 UNSET PROPERTIES ('gone', 'none')")
    rows = dict(tuple(r) for r in engine.sql(
        "DESCRIBE NAMESPACE ns1").collect())
    assert rows.get("o'k") == "v\\w" and "gone" not in rows
