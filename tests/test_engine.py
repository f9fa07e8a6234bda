"""Engine tests: SQL front-end (A35/A36), read/write paths (§3.1/§3.2),
copy-on-write DML (B28-B30), views, multi-statement transactions."""

from __future__ import annotations

import pytest

from olympia_spark.catalog.errors import (CommitConflictError,
                                          TransactionValueError)
from olympia_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "warehouse"))
    eng.sql("CREATE NAMESPACE ns1")
    return eng


def _seed(engine: Engine, sf_dir: str, table: str = "events") -> None:
    from olympia_spark.tables import load
    df = load(engine.spark, sf_dir, table)
    engine.write_table(df, f"ns1.{table}")


def test_ddl_roundtrip(engine):
    engine.sql("CREATE TABLE ns1.t1 (id BIGINT, name STRING)")
    assert [r.table for r in engine.sql("SHOW TABLES IN ns1").collect()] \
        == ["t1"]
    rows = engine.sql("DESCRIBE TABLE ns1.t1").collect()
    assert [(r.col_name, r.data_type) for r in rows] == [
        ("id", "bigint"), ("name", "string")]
    engine.sql("DROP TABLE ns1.t1")
    assert engine.sql("SHOW TABLES IN ns1").count() == 0
    assert [r.namespace for r in engine.sql("SHOW NAMESPACES").collect()] \
        == ["ns1"]


def test_insert_values_and_select(engine):
    engine.sql("CREATE TABLE ns1.kv (k BIGINT, v STRING)")
    engine.sql("INSERT INTO ns1.kv VALUES (1, 'a'), (2, 'b')")
    engine.sql("INSERT INTO ns1.kv VALUES (3, 'c')")
    out = engine.sql("SELECT k, v FROM ns1.kv ORDER BY k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "a"), (2, "b"), (3, "c")]
    # each INSERT was one catalog commit → version advanced
    assert engine.catalog.tree.find_latest_version() >= 3


def test_ctas_and_passthrough_join(engine, sf_dir):
    _seed(engine, sf_dir)
    engine.sql("CREATE TABLE ns1.clicks AS "
               "SELECT * FROM ns1.events WHERE event_type = 'click'")
    n_clicks = engine.sql("SELECT COUNT(*) AS n FROM ns1.clicks").first().n
    direct = engine.sql("SELECT COUNT(*) AS n FROM ns1.events "
                        "WHERE event_type = 'click'").first().n
    assert n_clicks == direct > 0
    # pass-through with a self-join through the resolver
    j = engine.sql("""
        SELECT COUNT(*) AS n FROM ns1.clicks c
        JOIN ns1.events e ON c.event_id = e.event_id
    """).first().n
    assert j == n_clicks


def test_delete_copy_on_write(engine, sf_dir):
    _seed(engine, sf_dir)
    before = engine.read_table("ns1.events").count()
    kept_expected = engine.sql(
        "SELECT COUNT(*) AS n FROM ns1.events "
        "WHERE NOT (event_type = 'error')").first().n
    engine.sql("DELETE FROM ns1.events WHERE event_type = 'error'")
    after = engine.read_table("ns1.events").count()
    assert after == kept_expected < before
    # files were rewritten, never edited: old version still sees all rows
    v_old = engine.catalog.at_version(
        engine.catalog.tree.find_latest_version() - 1)
    assert engine.read_table("ns1.events", v_old).count() == before


def test_update_copy_on_write(engine, sf_dir):
    _seed(engine, sf_dir)
    total_before = engine.sql(
        "SELECT SUM(CAST(value AS DECIMAL(25,6))) AS s FROM ns1.events"
    ).first().s
    engine.sql("UPDATE ns1.events SET value = value * 2 "
               "WHERE event_type = 'click'")
    total_after = engine.sql(
        "SELECT SUM(CAST(value AS DECIMAL(25,6))) AS s FROM ns1.events"
    ).first().s
    # recompute the click total from the pre-update snapshot
    v_old = engine.catalog.at_version(
        engine.catalog.tree.find_latest_version() - 1)
    old = engine.read_table("ns1.events", v_old)
    from pyspark.sql import functions as F
    clicks_before = (old.filter("event_type = 'click'")
                     .agg(F.sum(F.col("value").cast("decimal(25,6)")))
                     .first()[0])
    assert total_after == total_before + clicks_before


def test_file_pruning_skips_files(engine):
    """DML must not rewrite files whose stats exclude the predicate."""
    spark = engine.spark
    # auto-compaction off: the 32-partition range writes would trip the
    # r9 small-file trigger and pack the very files this test prunes
    engine.sql("CREATE TABLE ns1.parts (id BIGINT, bucket STRING) "
               "TBLPROPERTIES ('auto.compact.threshold'='off')")
    for b in ("aa", "bb", "cc"):        # three separate inserts → files
        df = spark.range(100).selectExpr("id", f"'{b}' AS bucket")
        engine.write_table(df, "ns1.parts")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "parts")
    files_before = set(tdef.file_paths())
    assert len(files_before) >= 3
    engine.sql("DELETE FROM ns1.parts WHERE bucket = 'bb'")
    txn = engine.catalog.begin()
    tdef2 = engine.catalog.describe_table(txn, "ns1", "parts")
    untouched = files_before & set(tdef2.file_paths())
    # the aa and cc files were pruned by stats and survive unchanged
    assert len(untouched) >= 2
    assert engine.read_table("ns1.parts").count() == 200


def test_multi_statement_txn_atomic_and_rollback(engine, spark):
    engine.sql("BEGIN TRANSACTION")
    engine.sql("CREATE TABLE ns1.a (x BIGINT)")
    engine.sql("CREATE TABLE ns1.b (y BIGINT)")
    # another engine over the same warehouse can't see them yet
    other = Engine(spark, engine.catalog.storage.root)
    assert other.sql("SHOW TABLES IN ns1").count() == 0
    engine.sql("COMMIT TRANSACTION")
    assert other.sql("SHOW TABLES IN ns1").count() == 2

    engine.sql("BEGIN")
    engine.sql("CREATE TABLE ns1.c (z BIGINT)")
    engine.sql("ROLLBACK")
    assert engine.sql("SHOW TABLES IN ns1").count() == 2
    with pytest.raises(TransactionValueError):
        engine.sql("COMMIT")            # nothing in progress


def test_txn_conflict_between_engines(engine, spark):
    engine.sql("CREATE TABLE ns1.t (x BIGINT)")
    other = Engine(spark, engine.catalog.storage.root)
    engine.sql("BEGIN")
    other.sql("BEGIN")
    engine.sql("INSERT INTO ns1.t VALUES (1)")
    other.sql("INSERT INTO ns1.t VALUES (2)")
    engine.sql("COMMIT")
    other.sql("COMMIT")                 # INSERT∥INSERT resolves by merge
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 2


def test_views_expand_recursively(engine, sf_dir):
    _seed(engine, sf_dir)
    engine.sql("CREATE VIEW ns1.clicks_v AS "
               "SELECT event_id, value FROM ns1.events "
               "WHERE event_type = 'click'")
    engine.sql("CREATE VIEW ns1.big_clicks_v AS "
               "SELECT * FROM ns1.clicks_v WHERE value > 100")
    n = engine.sql("SELECT COUNT(*) AS n FROM ns1.big_clicks_v").first().n
    direct = engine.sql(
        "SELECT COUNT(*) AS n FROM ns1.events "
        "WHERE event_type = 'click' AND value > 100").first().n
    assert n == direct
    txn = engine.catalog.begin()
    vdef = engine.catalog.describe_view(txn, "ns1", "clicks_v")
    assert vdef.referenced_objects == ["ns1.events"]
    assert vdef.schema_json                     # schema captured


def test_sys_dtxns_virtual_table(engine):
    assert engine.sql("SHOW TABLES IN sys").first().table == "dtxns"
    assert engine.sql("SELECT COUNT(*) AS n FROM sys.dtxns").first().n == 0
    engine.sql("BEGIN")
    engine.sql("CREATE TABLE ns1.d (x BIGINT)")
    txn_id = engine.current_txn.id
    engine.begin_dist()
    rows = engine.sql(
        "SELECT txn_id FROM sys.dtxns ORDER BY txn_id").collect()
    assert [r.txn_id for r in rows] == [txn_id]
    engine.rollback()
    # resume in a "different process" and commit
    other = Engine(engine.spark, engine.catalog.storage.root)
    other.resume_dist(txn_id)
    other.sql("COMMIT")
    assert "d" in [r.table for r in
                   other.sql("SHOW TABLES IN ns1").collect()]


def test_insert_overwrite(engine):
    engine.sql("CREATE TABLE ns1.ow (k BIGINT)")
    engine.sql("INSERT INTO ns1.ow VALUES (1), (2)")
    engine.sql("INSERT OVERWRITE ns1.ow VALUES (9)")
    rows = engine.sql("SELECT k FROM ns1.ow").collect()
    assert [r.k for r in rows] == [9]
    # the pre-overwrite version still reads the old rows
    v = engine.catalog.tree.find_latest_version() - 1
    assert engine.sql(f"SELECT COUNT(*) AS n FROM ns1.ow "
                      f"VERSION AS OF {v}").first().n == 2


def test_create_database_sys_is_catalog_create(engine):
    """A36: CREATE DATABASE sys maps to catalog creation (idempotent
    here), not to a namespace named sys."""
    engine.sql("CREATE DATABASE sys")
    assert "sys" not in [r.namespace for r in
                         engine.sql("SHOW NAMESPACES").collect()]


def test_describe_namespace_sql(engine):
    engine.sql("ALTER NAMESPACE ns1 SET PROPERTIES ('a'='1')")
    rows = engine.sql("DESCRIBE NAMESPACE ns1").collect()
    assert [(r.key, r.value) for r in rows] == [("a", "1")]


def test_register_external_table(engine, sf_dir):
    """Adopt existing parquet without copying: TableDef points at the
    source files; queries and even DML-pruning stats work immediately."""
    import os
    path = os.path.join(sf_dir, "lineitem.parquet")
    engine.register_external_table("ns1.lineitem", path)
    n = engine.sql("SELECT COUNT(*) AS n FROM ns1.lineitem").first().n
    direct = engine.spark.read.parquet(path).count()
    assert n == direct > 0
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "lineitem")
    assert tdef.file_paths() == [path]
    assert tdef.data_files[0].num_rows == direct


def test_serializable_engine_read_write_conflict(engine, spark):
    engine.sql("CREATE TABLE ns1.rw (x BIGINT)")
    engine.sql("INSERT INTO ns1.rw VALUES (1)")
    ser = Engine(spark, engine.catalog.storage.root,
                 isolation_level="SERIALIZABLE")
    ser.sql("BEGIN")
    ser.sql("SELECT * FROM ns1.rw").collect()   # records TABLE_SELECT
    ser.sql("CREATE TABLE ns1.out (x BIGINT)")
    engine.sql("INSERT INTO ns1.rw VALUES (2)")  # concurrent write
    with pytest.raises(CommitConflictError):
        ser.sql("COMMIT")


def test_failed_commit_ends_the_block(engine, spark):
    """A COMMIT that loses its CAS ends the block, as in PostgreSQL: the
    next BEGIN works without a ROLLBACK, and none of the loser's rows
    were published."""
    engine.sql("CREATE TABLE ns1.fc (x BIGINT)")
    other = Engine(spark, engine.catalog.storage.root,
                   isolation_level="SERIALIZABLE")
    other.sql("BEGIN")
    other.sql("SELECT * FROM ns1.fc").collect()  # records TABLE_SELECT
    other.sql("INSERT INTO ns1.fc VALUES (1), (2)")
    engine.sql("INSERT INTO ns1.fc VALUES (3)")   # concurrent write
    with pytest.raises(CommitConflictError):
        other.sql("COMMIT")
    assert other.current_txn is None
    other.sql("BEGIN")
    other.sql("INSERT INTO ns1.fc VALUES (4)")
    other.sql("COMMIT")
    assert sorted(r.x for r in engine.sql(
        "SELECT x FROM ns1.fc").collect()) == [3, 4]


# --- MERGE: multiple / conditional WHEN clauses ------------------------------

def test_merge_multi_clause_conditional(engine, spark):
    """Clause-order semantics: the FIRST matched clause whose condition
    holds wins per row; conditional NOT MATCHED filters inserts."""
    engine.sql("CREATE TABLE ns1.mm (id BIGINT, v BIGINT)")
    engine.write_table(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                              "id BIGINT, v BIGINT"), "ns1.mm")
    engine.sql("""
        MERGE INTO ns1.mm t
        USING (SELECT * FROM VALUES (1, 100), (2, 200), (4, -1), (5, 500)
               AS v(id, v)) s
        ON t.id = s.id
        WHEN MATCHED AND s.v > 150 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v
        WHEN NOT MATCHED AND s.v > 0 THEN INSERT (id, v) VALUES (s.id, s.v)
    """)
    rows = {(r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM ns1.mm").collect()}
    # id=2 deleted (s.v=200>150); id=1 updated 10+100; id=3 untouched;
    # id=4 NOT inserted (s.v=-1); id=5 inserted
    assert rows == {(1, 110), (3, 30), (5, 500)}


def test_merge_update_and_delete_in_one_statement(engine, spark):
    """Round 2 silently dropped the DELETE when both WHEN MATCHED UPDATE
    and WHEN MATCHED DELETE appeared; both must now apply in order."""
    engine.sql("CREATE TABLE ns1.mud (id BIGINT, v BIGINT)")
    engine.write_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id BIGINT, v BIGINT"),
        "ns1.mud")
    engine.sql("""
        MERGE INTO ns1.mud t
        USING (SELECT * FROM VALUES (1, 0), (2, 1) AS v(id, flag)) s
        ON t.id = s.id
        WHEN MATCHED AND s.flag = 1 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = 99
    """)
    rows = {(r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM ns1.mud").collect()}
    assert rows == {(1, 99)}


def test_merge_unsupported_when_clause_raises(engine, spark):
    """An unrecognized WHEN variant must be a parse error, never silently
    dropped (dropping changes the merge's semantics)."""
    engine.sql("CREATE TABLE ns1.mx (id BIGINT)")
    engine.write_table(spark.range(3), "ns1.mx")
    with pytest.raises(ValueError, match="unsupported WHEN clause"):
        engine.sql("""
            MERGE INTO ns1.mx t USING (SELECT 1 AS id) s ON t.id = s.id
            WHEN NOT MATCHED THEN DELETE
        """)


def test_merge_not_matched_by_source(engine, spark):
    """Delta-style WHEN NOT MATCHED BY SOURCE: target rows absent from
    the source delete (or conditionally update), composing with the
    matched/not-matched families in one atomic merge — the full-sync
    mirror shape (upsert + prune stale rows in one statement)."""
    engine.sql("CREATE TABLE ns1.sync (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.sync VALUES (1, 10), (2, 20), (3, 30), "
               "(4, 40)")
    n = engine.sql("""
        MERGE INTO ns1.sync t
        USING (SELECT * FROM VALUES (1, 11), (5, 50) AS s(id, v)) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        WHEN NOT MATCHED BY SOURCE AND t.v >= 30 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1000
    """).first()[0]
    assert n >= 4          # 1 update + 1 insert + 1 delete + 1 bump
    rows = {(r.id, r.v) for r in
            engine.sql("SELECT id, v FROM ns1.sync").collect()}
    # id 1 updated from source, id 2 unmatched-by-source bump (+1000),
    # ids 3,4 unmatched with v>=30 deleted, id 5 inserted
    assert rows == {(1, 11), (2, 1020), (5, 50)}
    # assignment targets are validated for by-source clauses too
    with pytest.raises(ValueError, match="non-existent"):
        engine.merge("ns1.sync",
                     spark.createDataFrame([(1, 1)], "id long, v long"),
                     on="t.id = s.id",
                     not_matched_by_source_clauses=[
                         (None, "update", {"nope": "1"})])


def test_merge_source_fanout_raises_cardinality_error(engine, spark):
    """A target row matched by >1 source rows must raise, not silently
    duplicate the target row (SQL MERGE cardinality rule)."""
    from olympia_spark.catalog.errors import MergeCardinalityError
    engine.sql("CREATE TABLE ns1.mc (id BIGINT, v BIGINT)")
    engine.write_table(
        spark.createDataFrame([(1, 10)], "id BIGINT, v BIGINT"), "ns1.mc")
    dup = spark.createDataFrame([(1, 100), (1, 200)], "id BIGINT, v BIGINT")
    with pytest.raises(MergeCardinalityError):
        engine.merge("ns1.mc", dup, "t.id = s.id",
                     matched_update={"v": "s.v"})


def test_merge_partitioned_target_keeps_hive_layout(engine, spark):
    """Merge writes (rewrites AND inserts) must honor the table's declared
    partitioning so the new files keep partition-pruning."""
    import pyspark.sql.types as T
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("p", T.StringType()),
                           T.StructField("v", T.LongType())])
    engine.create_table("ns1.mp", schema, partition_by=["p"])
    engine.write_table(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], schema),
        "ns1.mp")
    src = spark.createDataFrame([(1, "a", 11), (3, "c", 30)], schema)
    engine.merge("ns1.mp", src, "t.id = s.id",
                 matched_update={"v": "s.v"},
                 not_matched_insert={"id": "s.id", "p": "s.p", "v": "s.v"})
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "mp")
    # every live file sits under a hive partition dir
    assert all("/p=" in f.path for f in tdef.data_files), \
        [f.path for f in tdef.data_files]
    rows = {(r.id, r.p, r.v) for r in engine.sql(
        "SELECT id, p, v FROM ns1.mp").collect()}
    assert rows == {(1, "a", 11), (2, "b", 20), (3, "c", 30)}


def test_merge_case_when_inside_update_and_condition(engine, spark):
    """The clause tokenizer must not mistake CASE WHEN ... THEN inside an
    assignment or clause condition for a WHEN MATCHED boundary."""
    engine.sql("CREATE TABLE ns1.mcw (id BIGINT, v BIGINT)")
    engine.write_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id BIGINT, v BIGINT"),
        "ns1.mcw")
    engine.sql("""
        MERGE INTO ns1.mcw t
        USING (SELECT * FROM VALUES (1, 5), (2, 50) AS v(id, w)) s
        ON t.id = s.id
        WHEN MATCHED AND (CASE WHEN s.w > 40 THEN true ELSE false END)
            THEN UPDATE SET v = CASE WHEN t.v > 15 THEN t.v + s.w
                                     ELSE 0 END
        WHEN MATCHED THEN UPDATE SET v = -1
    """)
    rows = {(r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM ns1.mcw").collect()}
    assert rows == {(1, -1), (2, 70)}


def test_optimize_table_sql(engine, spark):
    """OPTIMIZE TABLE compacts the file set through one catalog commit."""
    engine.sql("CREATE TABLE ns1.opt (x BIGINT)")
    for i in range(4):
        engine.sql(f"INSERT INTO ns1.opt VALUES ({i})")
    txn = engine.catalog.begin()
    n_before = len(engine.catalog.describe_table(txn, "ns1", "opt")
                   .data_files)
    assert n_before >= 4
    saved = engine.sql("OPTIMIZE TABLE ns1.opt").first().files_removed
    assert saved > 0
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "opt")
    assert len(tdef.data_files) < n_before
    assert sorted(r.x for r in engine.sql(
        "SELECT x FROM ns1.opt").collect()) == [0, 1, 2, 3]


def test_schema_bound_view_enforces_recorded_schema(engine, spark):
    """WITH SCHEMA BINDING semantics: compatible type drift casts back to
    the bound schema; structural drift (renamed column) raises instead of
    silently changing the view's shape."""
    import pyspark.sql.types as T
    engine.sql("CREATE TABLE ns1.vb (x BIGINT, y STRING)")
    engine.sql("INSERT INTO ns1.vb VALUES (1, 'a')")
    engine.create_view("ns1.v_bound", "SELECT x, y FROM ns1.vb",
                       schema_binding=True)
    assert engine.read_view("ns1.v_bound").schema["x"].dataType \
        == T.LongType()
    # compatible drift: x narrows to INT underneath → view casts back.
    # (REPLACE, not drop/re-add: a re-added name is rejected now — the
    # retired-physical-name tombstones — so drift arrives via a table
    # replacement, which starts a fresh physical namespace.)
    engine.sql("CREATE OR REPLACE TABLE ns1.vb (x INT, y STRING)")
    engine.sql("INSERT INTO ns1.vb VALUES (5, 'b')")
    out = engine.read_view("ns1.v_bound")
    assert out.schema["x"].dataType == T.LongType()
    assert {(r.x, r.y) for r in out.collect()} == {(5, "b")}
    # structural drift: y disappears → bound view read errors
    engine.sql("CREATE OR REPLACE TABLE ns1.vb (x INT, z STRING)")
    with pytest.raises(Exception):
        engine.read_view("ns1.v_bound").collect()
    # an unbound view over the same table just reflects the new shape
    engine.create_view("ns1.v_free", "SELECT x, z FROM ns1.vb")
    assert engine.read_view("ns1.v_free").columns == ["x", "z"]


def test_merge_multimatch_untouched_row_carries_through_once(engine, spark):
    """A target row matched by multiple source rows that NO clause selects
    is legal: it must survive exactly once (not duplicated per match, not
    a cardinality error) — and the outcome must not depend on file layout."""
    for layout, tbl in ((1, "mt1"), (2, "mt2")):
        engine.sql(f"CREATE TABLE ns1.{tbl} (id BIGINT, v BIGINT)")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id BIGINT, v BIGINT")
        engine.write_table(df.repartition(layout), f"ns1.{tbl}")
        src = spark.createDataFrame([(1, 1), (1, 2), (2, 500)],
                                    "id BIGINT, s BIGINT")
        engine.merge(f"ns1.{tbl}", src, "t.id = s.id",
                     matched_clauses=[("s.s > 100", "update", {"v": "s.s"})])
        rows = sorted((r.id, r.v) for r in engine.sql(
            f"SELECT id, v FROM ns1.{tbl}").collect())
        assert rows == [(1, 10), (2, 500)], (layout, rows)


def test_merge_multimatch_clause_selected_raises_any_layout(engine, spark):
    """The cardinality error fires when a clause would apply to a
    multi-matched row, in every file layout."""
    from olympia_spark.catalog.errors import MergeCardinalityError
    for layout, tbl in ((1, "mr1"), (2, "mr2")):
        engine.sql(f"CREATE TABLE ns1.{tbl} (id BIGINT, v BIGINT)")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id BIGINT, v BIGINT")
        engine.write_table(df.repartition(layout), f"ns1.{tbl}")
        src = spark.createDataFrame([(1, 200), (1, 300)],
                                    "id BIGINT, s BIGINT")
        with pytest.raises(MergeCardinalityError):
            engine.merge(f"ns1.{tbl}", src, "t.id = s.id",
                         matched_clauses=[
                             ("s.s > 100", "update", {"v": "s.s"})])


def test_merge_unknown_assignment_column_raises(engine, spark):
    """A typo'd UPDATE SET / INSERT column must be an analysis error, not
    a silent no-op that still rewrites files."""
    engine.sql("CREATE TABLE ns1.mu (id BIGINT, v BIGINT)")
    engine.write_table(spark.createDataFrame([(1, 10)],
                                             "id BIGINT, v BIGINT"),
                       "ns1.mu")
    src = spark.createDataFrame([(1, 2)], "id BIGINT, s BIGINT")
    with pytest.raises(ValueError, match="non-existent"):
        engine.merge("ns1.mu", src, "t.id = s.id",
                     matched_update={"vv": "s.s"})
    with pytest.raises(ValueError, match="non-existent"):
        engine.merge("ns1.mu", src, "t.id = s.id",
                     not_matched_insert={"id": "s.id", "zz": "s.s"})


def test_merge_assignment_evaluates_only_on_selected_rows(engine, spark):
    """An error-raising assignment expression must not fire on rows its
    clause does not select (clause-guarded lazy evaluation)."""
    engine.sql("CREATE TABLE ns1.ml (id BIGINT, v BIGINT)")
    engine.write_table(spark.createDataFrame([(1, 10), (2, 20)],
                                             "id BIGINT, v BIGINT"),
                       "ns1.ml")
    src = spark.createDataFrame([(1, 0), (2, 0)], "id BIGINT, s BIGINT")
    # clause selects no rows (s.s > 0 is false everywhere) — the
    # raise_error in its assignment must never evaluate
    engine.merge("ns1.ml", src, "t.id = s.id",
                 matched_clauses=[
                     ("s.s > 0", "update",
                      {"v": "CAST(raise_error('boom') AS BIGINT)"})])
    rows = sorted((r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM ns1.ml").collect())
    assert rows == [(1, 10), (2, 20)]


def test_schema_bound_view_incompatible_type_drift_raises(engine, spark):
    """Type drift a cast would silently NULL (bigint column re-added as
    string) must raise, not blanket-cast."""
    import pyspark.sql.types as T
    engine.sql("CREATE TABLE ns1.vt (x BIGINT)")
    engine.sql("INSERT INTO ns1.vt VALUES (1)")
    engine.create_view("ns1.v_typed", "SELECT x FROM ns1.vt",
                       schema_binding=True)
    engine.sql("CREATE OR REPLACE TABLE ns1.vt (x STRING)")
    with pytest.raises(ValueError, match="not losslessly castable"):
        engine.read_view("ns1.v_typed")


def test_merge_source_materialized_once(engine, spark):
    """The merge runs up to three jobs over the source (semi join,
    rewrite join, anti join). The source must be pinned once: a
    non-deterministic source would otherwise update against one snapshot
    and insert against another. The accumulator counts source-plan
    executions row by row — exactly one pass means one materialization."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    engine.sql("CREATE TABLE ns1.mt (k BIGINT, v DOUBLE)")
    engine.sql("INSERT INTO ns1.mt VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    acc = spark.sparkContext.accumulator(0)

    def tag(k):
        acc.add(1)
        return k

    tag_udf = F.udf(tag, LongType())
    src = (spark.range(2, 5)
           .select(tag_udf(F.col("id")).alias("k"),
                   (F.col("id") * 10.0).alias("v")))
    n = engine.merge("ns1.mt", src, on="t.k = s.k",
                     matched_update={"v": "s.v"},
                     not_matched_insert={"k": "s.k", "v": "s.v"})
    assert n == 3
    out = {r.k: r.v for r in engine.sql("SELECT k, v FROM ns1.mt").collect()}
    assert out == {1: 1.0, 2: 20.0, 3: 30.0, 4: 40.0}
    assert acc.value == 3


def test_merge_dedup_source_opt_in(engine, spark):
    """dedup_source_by resolves source fan-out deterministically (highest
    dedup_source_order value wins) instead of raising the cardinality
    error; omitting the order expression is rejected."""
    import pytest as _pytest

    from olympia_spark.catalog.errors import MergeCardinalityError

    engine.sql("CREATE TABLE ns1.ds (k BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.ds VALUES (1, 10), (2, 20)")
    dup_src = spark.createDataFrame(
        [(1, 100), (1, 300), (1, 200), (3, 5), (3, 7)], "k BIGINT, v BIGINT")
    with _pytest.raises(MergeCardinalityError):
        engine.merge("ns1.ds", dup_src, on="t.k = s.k",
                     matched_update={"v": "s.v"},
                     not_matched_insert={"k": "s.k", "v": "s.v"})
    with _pytest.raises(ValueError, match="dedup_source_order"):
        engine.merge("ns1.ds", dup_src, on="t.k = s.k",
                     matched_update={"v": "s.v"},
                     dedup_source_by=["k"])
    n = engine.merge("ns1.ds", dup_src, on="t.k = s.k",
                     matched_update={"v": "s.v"},
                     not_matched_insert={"k": "s.k", "v": "s.v"},
                     dedup_source_by=["k"], dedup_source_order="v")
    assert n == 2
    out = {r.k: r.v for r in engine.sql("SELECT k, v FROM ns1.ds").collect()}
    assert out == {1: 300, 2: 20, 3: 7}


def test_qualify_rewrite_aliased_and_inline(engine, spark):
    engine.sql("CREATE TABLE ns1.q (k BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.q VALUES (1, 10), (1, 20), (1, 30), "
               "(2, 5), (2, 50)")
    # inline window expression in QUALIFY
    rows = engine.sql(
        "SELECT k, v FROM ns1.q QUALIFY ROW_NUMBER() OVER "
        "(PARTITION BY k ORDER BY v DESC) = 1 ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 30), (2, 50)]
    assert {c for r in rows for c in r.asDict()} == {"k", "v"}  # no hidden
    # aliased window column referenced from QUALIFY, with trailing LIMIT
    rows = engine.sql(
        "SELECT k, v, RANK() OVER (PARTITION BY k ORDER BY v) AS r "
        "FROM ns1.q QUALIFY r <= 1 ORDER BY k LIMIT 1").collect()
    assert [(r.k, r.v, r.r) for r in rows] == [(1, 10, 1)]


def test_qualify_keyword_inside_literal_untouched(engine):
    engine.sql("CREATE TABLE ns1.ql (s STRING)")
    engine.sql("INSERT INTO ns1.ql VALUES ('QUALIFY me')")
    assert engine.sql("SELECT s FROM ns1.ql").first().s == "QUALIFY me"
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ql "
                      "WHERE s = 'QUALIFY me'").first().n == 1


def test_create_or_replace_table(engine, spark):
    engine.sql("CREATE TABLE ns1.orr (x BIGINT)")
    engine.sql("INSERT INTO ns1.orr VALUES (1), (2)")
    engine.sql("CREATE OR REPLACE TABLE ns1.orr AS SELECT 99 AS y")
    rows = engine.sql("SELECT y FROM ns1.orr").collect()
    assert [r.y for r in rows] == [99]
    # plain CREATE on an existing table still errors
    import pytest as _pytest
    from olympia_spark.catalog.errors import ObjectAlreadyExistsError
    with _pytest.raises(ObjectAlreadyExistsError):
        engine.sql("CREATE TABLE ns1.orr (z BIGINT)")


def test_insert_with_column_list(engine):
    engine.sql("CREATE TABLE ns1.cl (a BIGINT, b STRING, c DOUBLE)")
    engine.sql("INSERT INTO ns1.cl (c, a) VALUES (1.5, 7)")
    row = engine.sql("SELECT a, b, c FROM ns1.cl").first()
    assert (row.a, row.b, row.c) == (7, None, 1.5)
    engine.sql("INSERT INTO ns1.cl (a, b) SELECT 8, 'hi'")
    rows = {(r.a, r.b, r.c) for r in
            engine.sql("SELECT a, b, c FROM ns1.cl").collect()}
    assert rows == {(7, None, 1.5), (8, "hi", None)}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="do not exist"):
        engine.sql("INSERT INTO ns1.cl (nope) VALUES (1)")
    with _pytest.raises(ValueError, match="column"):
        engine.sql("INSERT INTO ns1.cl (a, b) SELECT 1")


def test_describe_history_alias(engine):
    engine.sql("CREATE TABLE ns1.h (x BIGINT)")
    engine.sql("INSERT INTO ns1.h VALUES (1)")
    n = engine.sql("DESCRIBE HISTORY ns1.h").count()
    assert n >= 2                       # create + insert versions


def test_qualify_inside_subquery_and_cte(engine, spark):
    """ADVICE r4: QUALIFY below the top level (subquery / CTE body) must
    be rewritten too, schema-preserving."""
    engine.sql("CREATE TABLE ns1.qn (k BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.qn VALUES (1, 10), (1, 20), (1, 30), "
               "(2, 5), (2, 50)")
    # subquery body with inline window QUALIFY
    rows = engine.sql(
        "SELECT k, v FROM (SELECT k, v FROM ns1.qn QUALIFY ROW_NUMBER() "
        "OVER (PARTITION BY k ORDER BY v DESC) = 1) t ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 30), (2, 50)]
    # SELECT * over the subquery: hidden projections must not leak out
    rows = engine.sql(
        "SELECT * FROM (SELECT k, v FROM ns1.qn QUALIFY ROW_NUMBER() "
        "OVER (PARTITION BY k ORDER BY v DESC) = 1) t ORDER BY k").collect()
    assert {c for r in rows for c in r.asDict()} == {"k", "v"}
    # CTE body with QUALIFY
    rows = engine.sql(
        "WITH best AS (SELECT k, v FROM ns1.qn QUALIFY ROW_NUMBER() "
        "OVER (PARTITION BY k ORDER BY v DESC) = 1) "
        "SELECT k, v FROM best ORDER BY k").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 30), (2, 50)]
    # nested + top-level QUALIFY in one statement
    rows = engine.sql(
        "SELECT k, v FROM (SELECT k, v FROM ns1.qn QUALIFY ROW_NUMBER() "
        "OVER (PARTITION BY k ORDER BY v DESC) <= 2) t "
        "QUALIFY RANK() OVER (ORDER BY v DESC) = 1").collect()
    assert [(r.k, r.v) for r in rows] == [(2, 50)]


def test_qualify_distinct_inline_window_raises(engine):
    """ADVICE r4: injecting hidden projections into a DISTINCT select list
    would change its cardinality — must raise a descriptive error, not
    silently mis-answer."""
    import pytest
    engine.sql("CREATE TABLE ns1.qd (k BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.qd VALUES (1, 10), (1, 10), (2, 5)")
    with pytest.raises(ValueError, match="DISTINCT"):
        engine.sql("SELECT DISTINCT k FROM ns1.qd QUALIFY ROW_NUMBER() "
                   "OVER (ORDER BY k) = 1")
    # DISTINCT with an already-projected window column still works
    rows = engine.sql(
        "SELECT DISTINCT k, RANK() OVER (PARTITION BY k ORDER BY v) AS r "
        "FROM ns1.qd QUALIFY r = 1 ORDER BY k").collect()
    assert [(r.k, r.r) for r in rows] == [(1, 1), (2, 1)]


def test_tablesample_deterministic_rewrite(engine, spark):
    """b65 surface: md5-bucket TABLESAMPLE is replayable, alias-aware,
    and never consumes a JOIN's ON clause."""
    import pytest
    engine.sql("CREATE TABLE ns1.ts (id BIGINT, grp BIGINT)")
    engine.sql("INSERT INTO ns1.ts VALUES " +
               ", ".join(f"({i}, {i % 3})" for i in range(200)))
    a = engine.sql("SELECT COUNT(*) AS n FROM ns1.ts "
                   "TABLESAMPLE (30 PERCENT ON id SEED 7)").first().n
    b = engine.sql("SELECT COUNT(*) AS n FROM ns1.ts "
                   "TABLESAMPLE (30 PERCENT ON id SEED 7)").first().n
    assert a == b and 0 < a < 200          # deterministic, proper subset
    c = engine.sql("SELECT COUNT(*) AS n FROM ns1.ts "
                   "TABLESAMPLE (30 PERCENT ON id SEED 8)").first().n
    assert (c, set()) != (a, None) and 0 < c < 200   # seed changes sample
    # qualified alias survives the rewrite
    r = engine.sql("SELECT t.grp, COUNT(*) AS n FROM ns1.ts "
                   "TABLESAMPLE (50 PERCENT ON id) t "
                   "GROUP BY t.grp ORDER BY t.grp").collect()
    assert len(r) == 3
    # sampled table joined with ON: the join condition must survive
    engine.sql("CREATE TABLE ns1.tg (grp BIGINT, name STRING)")
    engine.sql("INSERT INTO ns1.tg VALUES (0,'a'), (1,'b'), (2,'c')")
    j = engine.sql(
        "SELECT g.name, COUNT(*) AS n FROM ns1.ts "
        "TABLESAMPLE (50 PERCENT ON id SEED 1) s "
        "JOIN ns1.tg g ON s.grp = g.grp GROUP BY g.name ORDER BY g.name"
    ).collect()
    assert [r2.name for r2 in j] == ["a", "b", "c"]
    with pytest.raises(ValueError, match="PERCENT ON"):
        engine.sql("SELECT * FROM ns1.ts TABLESAMPLE (10 PERCENT)")


def test_view_stores_analyzed_plan_ir(engine, sf_dir):
    """ViewDef carries the Catalyst analyzed-plan JSON — the Spark-native
    analogue of the reference's serialized substrait ReadRel
    (proto/objects.proto:81-85): a resolved engine-level IR captured at
    creation, persisted through the def file."""
    import json as _json
    _seed(engine, sf_dir)
    engine.sql("CREATE VIEW ns1.ir_v AS "
               "SELECT event_type, COUNT(*) AS n FROM ns1.events "
               "GROUP BY event_type")
    txn = engine.catalog.begin()
    vdef = engine.catalog.describe_view(txn, "ns1", "ir_v")
    assert vdef.plan_ir_json, "analyzed plan IR missing"
    nodes = _json.loads(vdef.plan_ir_json)     # toJSON → list of nodes
    classes = " ".join(n.get("class", "") for n in nodes)
    assert "Aggregate" in classes              # resolved relational tree
    assert vdef.sql_text.startswith("SELECT")  # SQL text still present


def test_tablesample_inside_subquery_and_cte(engine):
    """Review round 5: the TABLESAMPLE rewrite must recurse into
    parenthesized subqueries and CTE bodies, like QUALIFY — depth-0-only
    left the documented syntax to die in Spark's parser."""
    engine.sql("CREATE TABLE ns1.tsq (id BIGINT)")
    engine.sql("INSERT INTO ns1.tsq VALUES " +
               ", ".join(f"({i})" for i in range(100)))
    flat = engine.sql("SELECT COUNT(*) AS n FROM ns1.tsq "
                      "TABLESAMPLE (40 PERCENT ON id SEED 3)").first().n
    nested = engine.sql(
        "SELECT COUNT(*) AS n FROM (SELECT id FROM ns1.tsq "
        "TABLESAMPLE (40 PERCENT ON id SEED 3)) x").first().n
    cte = engine.sql(
        "WITH s AS (SELECT id FROM ns1.tsq "
        "TABLESAMPLE (40 PERCENT ON id SEED 3)) "
        "SELECT COUNT(*) AS n FROM s").first().n
    assert flat == nested == cte and 0 < flat < 100


def test_insert_overwrite_replace_where(engine, spark):
    """Delta-style REPLACE WHERE: exactly the predicate slice is replaced
    in ONE commit (COW rewrite of matched files + new data files); rows
    outside the slice are untouched; inserted rows violating the
    predicate raise; plain INSERT OVERWRITE still replaces everything."""
    engine.sql("CREATE TABLE ns1.rw (id BIGINT, grp STRING, v BIGINT)")
    engine.sql("INSERT INTO ns1.rw VALUES "
               "(1, 'a', 10), (2, 'a', 20), (3, 'b', 30), (4, 'b', 40)")
    v_before = engine.catalog.tree.find_latest_version()
    n = engine.sql("INSERT OVERWRITE ns1.rw REPLACE WHERE grp = 'a' "
                   "SELECT * FROM VALUES (9, 'a', 90) AS x(id, grp, v)"
                   ).first()[0]
    assert n == 3                       # 2 replaced + 1 inserted
    rows = {(r.id, r.grp, r.v) for r in
            engine.sql("SELECT * FROM ns1.rw").collect()}
    assert rows == {(9, "a", 90), (3, "b", 30), (4, "b", 40)}
    # single commit: exactly one version advanced
    assert engine.catalog.tree.find_latest_version() == v_before + 1
    with pytest.raises(ValueError, match="do not satisfy"):
        engine.sql("INSERT OVERWRITE ns1.rw REPLACE WHERE grp = 'a' "
                   "SELECT * FROM VALUES (7, 'b', 70) AS x(id, grp, v)")
    with pytest.raises(ValueError, match="requires INSERT OVERWRITE"):
        engine.sql("INSERT INTO ns1.rw REPLACE WHERE grp = 'a' "
                   "SELECT * FROM VALUES (7, 'a', 70) AS x(id, grp, v)")


def test_merge_by_source_rejects_source_references(engine, spark):
    """A by-source row has no source columns (all-NULL left-join side):
    a source reference would silently skip the clause / write NULL, so
    it must raise like Delta's analysis error."""
    engine.sql("CREATE TABLE ns1.bsv (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.bsv VALUES (1, 10)")
    src = spark.createDataFrame([(2, 20)], "id long, v long")
    with pytest.raises(ValueError, match="target columns only"):
        engine.merge("ns1.bsv", src, on="t.id = s.id",
                     not_matched_by_source_clauses=[
                         (None, "update", {"v": "s.v"})])
    with pytest.raises(ValueError, match="target columns only"):
        engine.merge("ns1.bsv", src, on="t.id = s.id",
                     not_matched_by_source_clauses=[
                         ("s.v > 0", "delete", None)])


def test_merge_by_source_cardinality_error_is_typed(engine, spark):
    """With a by-source clause present, the cardinality guard fires in
    the count job — it must still surface as MergeCardinalityError, not
    a raw Py4J error."""
    from olympia_spark.catalog.errors import MergeCardinalityError

    engine.sql("CREATE TABLE ns1.bsc (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.bsc VALUES (1, 10), (2, 20)")
    fanout = spark.createDataFrame([(1, 1), (1, 2)], "id long, v long")
    with pytest.raises(MergeCardinalityError):
        engine.merge("ns1.bsc", fanout, on="t.id = s.id",
                     matched_clauses=[(None, "update", {"v": "s.v"})],
                     not_matched_by_source_clauses=[(None, "delete", None)])


def test_replace_where_subquery_predicate_splits_correctly(engine):
    """The REPLACE WHERE predicate/payload split must be paren- and
    literal-aware: `IN (SELECT ...)` predicates and literals containing
    keyword words must not be cut."""
    engine.sql("CREATE TABLE ns1.rws (id BIGINT, grp STRING)")
    engine.sql("INSERT INTO ns1.rws VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    engine.sql("CREATE TABLE ns1.rwf (grp STRING)")
    engine.sql("INSERT INTO ns1.rwf VALUES ('a')")
    engine.sql("INSERT OVERWRITE ns1.rws "
               "REPLACE WHERE grp IN (SELECT grp FROM ns1.rwf) "
               "SELECT * FROM VALUES (9, 'a') AS x(id, grp)")
    rows = {(r.id, r.grp) for r in
            engine.sql("SELECT * FROM ns1.rws").collect()}
    assert rows == {(9, "a"), (2, "b")}
    with pytest.raises(ValueError, match="no SELECT/VALUES payload"):
        engine.sql("INSERT OVERWRITE ns1.rws REPLACE WHERE grp = 'a'")


@pytest.mark.slow
def test_merge_by_source_unpersist_on_write_failure(engine, spark):
    """Round-6 ADVICE: if the write stage raises after the by-source
    count, the persisted staging block must still be released — a leak
    lives for the whole session otherwise."""
    engine.sql("CREATE TABLE ns1.bsl (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.bsl VALUES (1, 10), (2, 20)")
    src = spark.createDataFrame([(1, 11)], "id long, v long")
    real_write = engine._write_files

    def boom(*a, **kw):
        raise RuntimeError("injected write failure")

    engine._write_files = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            engine.merge("ns1.bsl", src, on="t.id = s.id",
                         matched_clauses=[(None, "update", {"v": "s.v"})],
                         not_matched_by_source_clauses=[
                             (None, "delete", None)])
    finally:
        engine._write_files = real_write
    # no cached RDD blocks left behind by the aborted merge
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0
    # and a successful merge still works and unpersists
    n = engine.merge("ns1.bsl", src, on="t.id = s.id",
                     matched_clauses=[(None, "update", {"v": "s.v"})],
                     not_matched_by_source_clauses=[(None, "delete", None)])
    assert n == 2
    assert jsc.getPersistentRDDs().size() == 0


def test_replace_where_empty_source_tracks_no_zero_row_files(engine):
    """Round-6 ADVICE: an insert side that writes no rows must not leave
    zero-row parquet files in table metadata (file-list bloat)."""
    engine.sql("CREATE TABLE ns1.rwz (id BIGINT, grp STRING)")
    engine.sql("INSERT INTO ns1.rwz VALUES (1, 'a'), (2, 'b')")
    engine.sql("INSERT OVERWRITE ns1.rwz REPLACE WHERE grp = 'a' "
               "SELECT * FROM VALUES (9, 'a') AS x(id, grp) WHERE id < 0")
    rows = {(r.id, r.grp) for r in
            engine.sql("SELECT * FROM ns1.rwz").collect()}
    assert rows == {(2, "b")}
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "rwz")
    assert all(f.num_rows > 0 for f in tdef.data_files), \
        [(f.path, f.num_rows) for f in tdef.data_files]


@pytest.mark.slow
def test_check_constraints_enforced_everywhere(engine, spark):
    """B78: ADD CONSTRAINT validates existing rows, then EVERY write
    path (INSERT, UPDATE, MERGE) enforces row-by-row inside the write
    job; NULL results pass (SQL semantics); clones inherit; columns
    referenced by a constraint can't be dropped or renamed."""
    from olympia_spark.catalog.errors import CheckConstraintError

    engine.sql("CREATE TABLE ns1.cc (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.cc VALUES (1, 10), (2, NULL)")
    engine.sql("ALTER TABLE ns1.cc ADD CONSTRAINT v_pos CHECK (v >= 0)")
    # valid insert passes; NULL passes (UNKNOWN is not FALSE)
    engine.sql("INSERT INTO ns1.cc VALUES (3, 0), (4, NULL)")
    # violating INSERT raises and commits NOTHING
    with pytest.raises(CheckConstraintError):
        engine.sql("INSERT INTO ns1.cc VALUES (5, -1)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.cc").first().n == 4
    # violating UPDATE (COW rewrite path) raises
    with pytest.raises(CheckConstraintError):
        engine.sql("UPDATE ns1.cc SET v = -5 WHERE id = 1")
    # violating MERGE raises
    src = spark.createDataFrame([(1, -7)], "id long, v long")
    with pytest.raises(CheckConstraintError):
        engine.merge("ns1.cc", src, on="t.id = s.id",
                     matched_update={"v": "s.v"})
    assert engine.sql("SELECT CAST(SUM(v) AS BIGINT) AS s "
                      "FROM ns1.cc").first().s == 10
    # adding a constraint the EXISTING data violates is refused
    with pytest.raises(CheckConstraintError, match="existing"):
        engine.sql("ALTER TABLE ns1.cc ADD CONSTRAINT v_big CHECK (v > 5)")
    # duplicate name refused; drop works; then the write passes
    with pytest.raises(ValueError, match="already exists"):
        engine.add_constraint("ns1.cc", "v_pos", "v >= 0")
    # columns under a constraint are pinned
    with pytest.raises(ValueError, match="referenced by CHECK"):
        engine.sql("ALTER TABLE ns1.cc DROP COLUMNS (v)")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        engine.sql("ALTER TABLE ns1.cc RENAME COLUMN v TO w")
    # SHOW CREATE TABLE surfaces the constraint
    ddl = engine.sql("SHOW CREATE TABLE ns1.cc").first().createtab_stmt
    assert "CONSTRAINT v_pos CHECK (v >= 0)" in ddl
    # clone inherits the invariant
    engine.sql("CREATE TABLE ns1.ccc SHALLOW CLONE ns1.cc")
    with pytest.raises(CheckConstraintError):
        engine.sql("INSERT INTO ns1.ccc VALUES (9, -1)")
    # drop releases enforcement
    engine.sql("ALTER TABLE ns1.cc DROP CONSTRAINT v_pos")
    engine.sql("INSERT INTO ns1.cc VALUES (5, -1)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.cc").first().n == 5


def test_generated_columns_hidden_partitioning(engine, spark):
    """B79: GENERATED ALWAYS AS columns are engine-owned — recomputed on
    every write (UPDATE to a source keeps them consistent), and
    partitioning by one is Iceberg-style hidden partitioning."""
    engine.sql("CREATE TABLE ns1.gc ("
               "id BIGINT, ts TIMESTAMP, "
               "event_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))"
               ") PARTITIONED BY (event_date)")
    engine.sql("INSERT INTO ns1.gc (id, ts) VALUES "
               "(1, TIMESTAMP '2024-01-01 10:00:00'), "
               "(2, TIMESTAMP '2024-01-02 23:59:59'), "
               "(3, TIMESTAMP '2024-01-02 00:00:00')")
    rows = {(r.id, str(r.event_date)) for r in
            engine.sql("SELECT id, event_date FROM ns1.gc").collect()}
    assert rows == {(1, "2024-01-01"), (2, "2024-01-02"),
                    (3, "2024-01-02")}
    # partition pruning: only the matching date's files are candidates
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "gc")
    cand = engine._candidate_files(tdef, "event_date = '2024-01-01'")
    assert len(cand) < len(tdef.data_files)
    # UPDATE of the SOURCE column recomputes the generated value
    engine.sql("UPDATE ns1.gc SET ts = TIMESTAMP '2024-03-05 01:00:00' "
               "WHERE id = 1")
    assert str(engine.sql("SELECT event_date FROM ns1.gc WHERE id = 1")
               .first().event_date) == "2024-03-05"
    # an explicit mismatched value is corrected, never persisted
    engine.sql("INSERT INTO ns1.gc VALUES "
               "(4, TIMESTAMP '2024-06-01 12:00:00', DATE '1999-01-01')")
    assert str(engine.sql("SELECT event_date FROM ns1.gc WHERE id = 4")
               .first().event_date) == "2024-06-01"
    # source column is pinned while the derivation exists
    with pytest.raises(ValueError, match="source of generated"):
        engine.sql("ALTER TABLE ns1.gc DROP COLUMNS (ts)")
    with pytest.raises(ValueError, match="generated column"):
        engine.sql("ALTER TABLE ns1.gc RENAME COLUMN event_date TO d")
    # SHOW CREATE round-trips the derivation
    ddl = engine.sql("SHOW CREATE TABLE ns1.gc").first().createtab_stmt
    assert "GENERATED ALWAYS AS (CAST(ts AS DATE))" in ddl
    # clone inherits it
    engine.sql("CREATE TABLE ns1.gcc SHALLOW CLONE ns1.gc")
    engine.sql("INSERT INTO ns1.gcc (id, ts) VALUES "
               "(9, TIMESTAMP '2025-05-05 05:05:05')")
    assert str(engine.sql("SELECT event_date FROM ns1.gcc WHERE id = 9")
               .first().event_date) == "2025-05-05"


def test_constraint_generated_review_seams(engine, spark):
    """Round-6 review on B78/B79: SHOW CREATE round-trips constraints,
    guards match case-insensitively, partition columns can't drop, and
    REPLACE WHERE validates POST-recompute generated values."""
    from olympia_spark.catalog.errors import CheckConstraintError

    engine.sql("CREATE TABLE ns1.rs (id BIGINT, v BIGINT, "
               "CONSTRAINT v_pos CHECK (v >= 0))")
    with pytest.raises(CheckConstraintError):
        engine.sql("INSERT INTO ns1.rs VALUES (1, -1)")
    # SHOW CREATE output is ACCEPTED BY THE ENGINE'S OWN PARSER
    ddl = engine.sql("SHOW CREATE TABLE ns1.rs").first().createtab_stmt
    engine.sql(ddl.replace("ns1.rs", "ns1.rs2"))
    with pytest.raises(CheckConstraintError):
        engine.sql("INSERT INTO ns1.rs2 VALUES (1, -1)")
    # case-insensitive dependency guard: constraint written with V
    engine.sql("CREATE TABLE ns1.ci (id BIGINT, v BIGINT)")
    engine.sql("ALTER TABLE ns1.ci ADD CONSTRAINT c1 CHECK (V >= 0)")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        engine.sql("ALTER TABLE ns1.ci DROP COLUMNS (v)")
    # partition columns can never drop (write would brick)
    engine.sql("CREATE TABLE ns1.pd (id BIGINT, p STRING) "
               "PARTITIONED BY (p)")
    with pytest.raises(ValueError, match="partition column"):
        engine.sql("ALTER TABLE ns1.pd DROP COLUMNS (p)")
    # REPLACE WHERE on a hidden-partitioned table: the predicate guard
    # sees RECOMPUTED values — a payload whose explicit generated value
    # lies inside the slice but whose ts puts it OUTSIDE must raise
    engine.sql("CREATE TABLE ns1.hw ("
               "id BIGINT, ts TIMESTAMP, "
               "event_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))"
               ") PARTITIONED BY (event_date)")
    engine.sql("INSERT INTO ns1.hw (id, ts) VALUES "
               "(1, TIMESTAMP '2024-01-01 08:00:00'), "
               "(2, TIMESTAMP '2024-02-01 08:00:00')")
    with pytest.raises(ValueError, match="do not satisfy"):
        engine.sql(
            "INSERT OVERWRITE ns1.hw "
            "REPLACE WHERE event_date = DATE '2024-01-01' "
            "SELECT 9 AS id, TIMESTAMP '2024-06-01 00:00:00' AS ts, "
            "DATE '2024-01-01' AS event_date")
    # and a payload that OMITS the generated column (NULL-filled) but
    # whose ts lands inside the slice passes
    engine.sql(
        "INSERT OVERWRITE ns1.hw "
        "REPLACE WHERE event_date = DATE '2024-01-01' "
        "SELECT 9 AS id, TIMESTAMP '2024-01-01 23:00:00' AS ts, "
        "CAST(NULL AS DATE) AS event_date")
    rows = {(r.id, str(r.event_date)) for r in
            engine.sql("SELECT id, event_date FROM ns1.hw").collect()}
    assert rows == {(9, "2024-01-01"), (2, "2024-02-01")}


def test_add_constraint_conflicts_with_concurrent_writes(engine, spark):
    """Round-6 review: ADD CONSTRAINT's validity claim is pinned to the
    snapshot it validated — it must be UNRESOLVABLE against concurrent
    table writes in both directions (a roll-forward would commit rows
    the constraint never saw, or a constraint the rows never met)."""
    from olympia_spark.catalog.errors import CommitConflictError

    engine.sql("CREATE TABLE ns1.cw (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.cw VALUES (1, 1)")
    other = Engine(spark, engine.catalog.storage.root)
    # direction (a): writer loses the CAS to a concurrent ADD CONSTRAINT
    engine.sql("BEGIN")
    other.sql("BEGIN")
    engine.sql("INSERT INTO ns1.cw VALUES (2, -5)")     # will violate
    other.sql("ALTER TABLE ns1.cw ADD CONSTRAINT v_pos CHECK (v >= 0)")
    other.sql("COMMIT")
    with pytest.raises(CommitConflictError):
        engine.sql("COMMIT")
    assert engine.current_txn is None
    # direction (b): constraint loses the CAS to a concurrent write
    eng3 = Engine(spark, engine.catalog.storage.root)
    eng3.sql("ALTER TABLE ns1.cw DROP CONSTRAINT v_pos")
    engine.sql("BEGIN")
    other.sql("BEGIN")
    other.sql("INSERT INTO ns1.cw VALUES (3, -9)")
    engine.sql("ALTER TABLE ns1.cw ADD CONSTRAINT v_pos CHECK (v >= 0)")
    other.sql("COMMIT")
    with pytest.raises(CommitConflictError):
        engine.sql("COMMIT")
    assert engine.current_txn is None


def test_create_table_round_trip_and_ddl_validation(engine):
    """Round-6 fourth review: SHOW CREATE round-trips WITH
    TBLPROPERTIES; a typo'd constraint column fails at DDL time; a
    column named like a type keyword is still droppable when the only
    'reference' is a cast target or typed literal."""
    engine.sql("CREATE TABLE ns1.tp (id BIGINT, v BIGINT, "
               "CONSTRAINT v_ok CHECK (v >= 0)) "
               "TBLPROPERTIES ('owner'='me', 'tier'='gold')")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "tp")
    assert tdef.properties["owner"] == "me"
    ddl = engine.sql("SHOW CREATE TABLE ns1.tp").first().createtab_stmt
    assert "TBLPROPERTIES" in ddl
    engine.sql(ddl.replace("ns1.tp", "ns1.tp2"))
    txn = engine.catalog.begin()
    t2 = engine.catalog.describe_table(txn, "ns1", "tp2")
    assert t2.properties["tier"] == "gold"
    assert t2.constraints == {"v_ok": "v >= 0"}
    # typo'd constraint column fails at CREATE, not at first INSERT
    with pytest.raises(ValueError, match="does not resolve"):
        engine.sql("CREATE TABLE ns1.bad (id BIGINT, "
                   "CONSTRAINT c CHECK (vv >= 0))")
    with pytest.raises(ValueError, match="does not resolve"):
        engine.sql("CREATE TABLE ns1.bad2 (id BIGINT, "
                   "d DATE GENERATED ALWAYS AS (CAST(tss AS DATE)))")
    # keyword-collision: a column named `date` alongside a generated
    # expr that only CASTs to DATE / uses a DATE literal is droppable
    engine.sql("CREATE TABLE ns1.kw (date STRING, ts TIMESTAMP, "
               "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    engine.sql("ALTER TABLE ns1.kw ADD CONSTRAINT recent "
               "CHECK (CAST(ts AS DATE) >= DATE '2000-01-01')")
    engine.sql("ALTER TABLE ns1.kw DROP COLUMNS (date)")   # not blocked
    with pytest.raises(ValueError, match="referenced by CHECK"):
        engine.sql("ALTER TABLE ns1.kw DROP COLUMNS (ts)")


def test_streaming_ingest_enforces_constraints(engine, spark, tmp_path):
    """B78's streaming claim, proven: a foreachBatch catalog ingest of a
    micro-batch violating a CHECK constraint fails the stream and
    commits NOTHING; a valid stream lands with generated columns
    computed."""
    import pyspark.sql.functions as F
    from olympia_spark.operators.streaming import catalog_ingest_sink

    src = str(tmp_path / "src")
    (spark.range(5).select(
        F.col("id").alias("event_id"),
        F.expr("timestamp '2024-01-01 00:00:00' + make_interval("
               "0,0,0,0,0,0,id)").alias("ts"),
        (F.col("id") - 2).cast("double").alias("value"))
     .write.parquet(src))
    stream_schema = spark.read.parquet(src).schema
    eng2 = Engine(spark, str(tmp_path / "swh"))
    eng2.sql("CREATE NAMESPACE stream")
    eng2.create_table("stream.events", stream_schema)
    eng2.sql("ALTER TABLE stream.events ADD CONSTRAINT v_pos "
             "CHECK (value >= 0)")
    stream = spark.readStream.schema(stream_schema).parquet(src)
    q = (stream.writeStream.foreachBatch(catalog_ingest_sink(eng2))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="OLYMPIA_CHECK|CheckConstraint"):
        q.awaitTermination(300)
    assert eng2.sql("SELECT COUNT(*) AS n FROM stream.events").first().n == 0
    # the valid slice streams in cleanly
    eng2.sql("ALTER TABLE stream.events DROP CONSTRAINT v_pos")
    eng2.sql("ALTER TABLE stream.events ADD CONSTRAINT v_ok "
             "CHECK (value >= -2)")
    q2 = (stream.writeStream.foreachBatch(catalog_ingest_sink(eng2))
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(300)
    assert eng2.sql("SELECT COUNT(*) AS n FROM stream.events").first().n == 5


def test_merge_with_schema_evolution(engine, spark):
    """B82 — Delta autoMerge: source columns missing from the target
    evolve the schema IN the merge commit; existing rows read NULL;
    without the flag an unknown-column assignment still raises; retired
    names stay rejected."""
    engine.sql("CREATE TABLE ns1.me (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.me VALUES (1, 10), (2, 20)")
    src = spark.createDataFrame([(1, 11, "gold"), (3, 33, "new")],
                                "id long, v long, tier string")
    # without evolution: assignment to the unknown column raises
    with pytest.raises(ValueError, match="non-existent"):
        engine.merge("ns1.me", src, on="t.id = s.id",
                     matched_update={"v": "s.v", "tier": "s.tier"})
    v_before = engine.catalog.tree.find_latest_version()
    n = engine.merge("ns1.me", src, on="t.id = s.id",
                     matched_update={"v": "s.v", "tier": "s.tier"},
                     not_matched_insert={"id": "s.id", "v": "s.v",
                                         "tier": "s.tier"},
                     schema_evolution=True)
    assert n == 2
    rows = {(r.id, r.v, r.tier) for r in
            engine.sql("SELECT id, v, tier FROM ns1.me").collect()}
    assert rows == {(1, 11, "gold"), (2, 20, None), (3, 33, "new")}
    # ONE commit carried both the evolution and the rows — no reader
    # could observe the column without the merge
    assert engine.catalog.tree.find_latest_version() == v_before + 1
    # SQL surface
    spark.createDataFrame([(2, 22, "silver", 7.5)],
                          "id long, v long, tier string, score double") \
        .createOrReplaceTempView("me_src2")
    engine.sql("MERGE WITH SCHEMA EVOLUTION INTO ns1.me AS t "
               "USING me_src2 AS s ON t.id = s.id "
               "WHEN MATCHED THEN UPDATE SET v = s.v, tier = s.tier, "
               "score = s.score")
    row = engine.sql("SELECT v, tier, score FROM ns1.me "
                     "WHERE id = 2").first()
    assert (row.v, row.tier, row.score) == (22, "silver", 7.5)
    assert engine.sql("SELECT score FROM ns1.me WHERE id = 1") \
        .first().score is None
    # an INCIDENTAL source column no clause references never evolves
    # the schema (Delta explicit-clause semantics — a stray staging
    # column must not permanently enter the table)
    stray = spark.createDataFrame([(7, 77, "x")],
                                  "id long, v long, _loaded_at string")
    engine.merge("ns1.me", stray, on="t.id = s.id",
                 not_matched_insert={"id": "s.id", "v": "s.v"},
                 schema_evolution=True)
    assert "_loaded_at" not in engine.sql(
        "SELECT * FROM ns1.me").columns
    # a retired physical name can never come back through evolution
    engine.sql("ALTER TABLE ns1.me DROP COLUMNS (score)")
    bad = spark.createDataFrame([(9, 9, "x", 1.0)],
                                "id long, v long, tier string, score double")
    with pytest.raises(ValueError, match="dropped column"):
        engine.merge("ns1.me", bad, on="t.id = s.id",
                     not_matched_insert={"id": "s.id", "v": "s.v",
                                         "score": "s.score"},
                     schema_evolution=True)


def test_merge_evolution_failure_publishes_nothing(engine, spark):
    """Round-6 review: a schema-evolution merge that FAILS (cardinality
    error after validation) must not leave the evolved column staged —
    committing the surrounding transaction publishes neither the column
    nor the rows."""
    from olympia_spark.catalog.errors import MergeCardinalityError

    engine.sql("CREATE TABLE ns1.mef (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.mef VALUES (1, 10)")
    dup = spark.createDataFrame([(1, 1, "a"), (1, 2, "b")],
                                "id long, v long, tag string")
    engine.sql("BEGIN")
    with pytest.raises(MergeCardinalityError):
        engine.merge("ns1.mef", dup, on="t.id = s.id",
                     matched_clauses=[(None, "update",
                                       {"v": "s.v", "tag": "s.tag"})],
                     schema_evolution=True)
    engine.sql("COMMIT")
    assert engine.sql("SELECT * FROM ns1.mef").columns == ["id", "v"]
    assert engine.sql("SELECT v FROM ns1.mef").first().v == 10


def test_merge_evolution_key_normalization_and_by_source(engine, spark):
    """Round-6 sixth review: 't.v'-style assignment keys target column
    v (never mint a column named 't.v'); by-source assignments with
    target references infer types; case-variant duplicates in one
    batch are rejected cleanly."""
    engine.sql("CREATE TABLE ns1.mk (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.mk VALUES (1, 10), (2, 20)")
    src = spark.createDataFrame([(1, 100)], "id long, v long")
    # alias-qualified key updates the EXISTING column — no new column
    engine.merge("ns1.mk", src, on="t.id = s.id",
                 matched_clauses=[(None, "update", {"t.v": "s.v"})],
                 schema_evolution=True)
    assert engine.sql("SELECT * FROM ns1.mk").columns == ["id", "v"]
    assert engine.sql("SELECT v FROM ns1.mk WHERE id = 1").first().v == 100
    # by-source evolution referencing TARGET columns infers the type
    engine.merge("ns1.mk", src, on="t.id = s.id",
                 not_matched_by_source_clauses=[
                     (None, "update", {"stale_v": "t.v"})],
                 schema_evolution=True)
    rows = {(r.id, r.stale_v) for r in
            engine.sql("SELECT id, stale_v FROM ns1.mk").collect()}
    assert rows == {(1, None), (2, 20)}
    # case-variant duplicates in one evolution batch: clean rejection
    dup = spark.createDataFrame([(9, 1, 2)], "id long, a long, b long")
    with pytest.raises(ValueError, match="duplicate new column"):
        engine.merge("ns1.mk", dup, on="t.id = s.id",
                     matched_clauses=[(None, "update", {"Tag": "s.a"})],
                     not_matched_clauses=[(None, {"id": "s.id",
                                                  "tag": "s.b"})],
                     schema_evolution=True)
    # non-target qualified names never mint columns
    with pytest.raises(ValueError, match="qualified column"):
        engine.merge("ns1.mk", src, on="t.id = s.id",
                     matched_clauses=[(None, "update", {"x.y": "s.v"})],
                     schema_evolution=True)


def test_partition_transform_sugar(engine, spark):
    """B83 — Iceberg-style partition transforms as first-class SQL:
    PARTITIONED BY (days(ts), bucket(N, c), truncate(W, c), years/
    months/hours) desugar into hidden generated columns computed at the
    writer chokepoint (spec "Partition Transforms"; value semantics:
    epoch-relative years/months/hours, DATE days, floor truncation)."""
    engine.sql("CREATE TABLE ns1.pt (id BIGINT, ts TIMESTAMP, s STRING)"
               " PARTITIONED BY (days(ts))")
    engine.sql("INSERT INTO ns1.pt (id, ts, s) VALUES "
               "(1, TIMESTAMP '2024-01-01 10:00:00', 'alpha'), "
               "(2, TIMESTAMP '2024-01-02 23:59:59', 'beta'), "
               "(3, TIMESTAMP '2024-01-02 00:00:00', 'gamma')")
    rows = {(r.id, str(r.ts_day)) for r in
            engine.sql("SELECT id, ts_day FROM ns1.pt").collect()}
    assert rows == {(1, "2024-01-01"), (2, "2024-01-02"),
                    (3, "2024-01-02")}
    # the transform column partition-prunes like any hidden partition
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "pt")
    assert tdef.partition_by == ["ts_day"]
    assert tdef.generated_columns == {"ts_day": "cast(ts as date)"}
    cand = engine._candidate_files(tdef, "ts_day = '2024-01-01'")
    assert len(cand) < len(tdef.data_files)

    # epoch-relative transforms (Iceberg spec values)
    engine.sql("CREATE TABLE ns1.pt2 (id BIGINT, ts TIMESTAMP) "
               "PARTITIONED BY (years(ts), months(ts), hours(ts))")
    engine.sql("INSERT INTO ns1.pt2 (id, ts) VALUES "
               "(1, TIMESTAMP '1970-01-01 02:30:00'), "
               "(2, TIMESTAMP '2024-03-05 01:00:00')")
    r = {x.id: x for x in engine.sql(
        "SELECT id, ts_year, ts_month, ts_hour FROM ns1.pt2").collect()}
    assert (r[1].ts_year, r[1].ts_month) == (0, 0)
    assert (r[2].ts_year, r[2].ts_month) == (54, 54 * 12 + 2)
    # hours since epoch: 1970-01-01T02:30 UTC-session → 2
    assert r[1].ts_hour == 2

    # truncate: string prefix + integral floor (negatives go DOWN)
    engine.sql("CREATE TABLE ns1.pt3 (id BIGINT, s STRING) "
               "PARTITIONED BY (truncate(3, s))")
    engine.sql("INSERT INTO ns1.pt3 (id, s) VALUES (1, 'abcdef'), "
               "(2, 'ab')")
    assert {(x.id, x.s_trunc) for x in engine.sql(
        "SELECT id, s_trunc FROM ns1.pt3").collect()} == \
        {(1, "abc"), (2, "ab")}
    engine.sql("CREATE TABLE ns1.pt4 (id BIGINT, v BIGINT) "
               "PARTITIONED BY (truncate(10, v))")
    engine.sql("INSERT INTO ns1.pt4 (id, v) VALUES (1, 17), (2, -3)")
    assert {(x.id, x.v_trunc) for x in engine.sql(
        "SELECT id, v_trunc FROM ns1.pt4").collect()} == \
        {(1, 10), (2, -10)}

    # bucket: stable hash in [0, N)
    engine.sql("CREATE TABLE ns1.pt5 (id BIGINT) "
               "PARTITIONED BY (bucket(4, id))")
    engine.sql("INSERT INTO ns1.pt5 VALUES (1), (2), (3), (100)")
    bks = [x.id_bucket for x in
           engine.sql("SELECT id_bucket FROM ns1.pt5").collect()]
    assert all(0 <= b < 4 for b in bks)

    # CTAS with a transform
    engine.sql("CREATE TABLE ns1.pt6 PARTITIONED BY (days(ts)) AS "
               "SELECT id, ts FROM ns1.pt")
    assert str(engine.sql("SELECT ts_day FROM ns1.pt6 WHERE id = 1")
               .first().ts_day) == "2024-01-01"

    # SHOW CREATE output desugared form is accepted by the parser
    ddl = engine.sql("SHOW CREATE TABLE ns1.pt").first().createtab_stmt
    engine.sql(ddl.replace("ns1.pt", "ns1.pt7"))
    engine.sql("INSERT INTO ns1.pt7 (id, ts, s) VALUES "
               "(9, TIMESTAMP '2025-05-05 05:05:05', 'x')")
    assert str(engine.sql("SELECT ts_day FROM ns1.pt7").first().ts_day) \
        == "2025-05-05"


def test_partition_transform_errors(engine, spark):
    import pytest as _pt
    with _pt.raises(ValueError, match="not in the table schema"):
        engine.sql("CREATE TABLE ns1.bad1 (id BIGINT) "
                   "PARTITIONED BY (days(nope))")
    with _pt.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE ns1.bad2 (id BIGINT, ts TIMESTAMP, "
                   "ts_day DATE) PARTITIONED BY (days(ts))")
    with _pt.raises(ValueError, match="width"):
        engine.sql("CREATE TABLE ns1.bad3 (id BIGINT) "
                   "PARTITIONED BY (bucket(0, id))")
    with _pt.raises(ValueError, match="string/integral"):
        engine.sql("CREATE TABLE ns1.bad4 (id BIGINT, d DOUBLE) "
                   "PARTITIONED BY (truncate(2, d))")


def test_partition_spec_evolution(engine, spark):
    """B86 — ALTER TABLE ADD/DROP PARTITION FIELD (Iceberg partition
    evolution): metadata-only spec change; pre-evolution files derive
    the transform column on read, new writes hive-partition by it."""
    engine.sql("CREATE TABLE ns1.pe (id BIGINT, ts TIMESTAMP)")
    engine.sql("INSERT INTO ns1.pe VALUES "
               "(1, TIMESTAMP '2024-01-01 10:00:00'), "
               "(2, TIMESTAMP '2024-01-02 09:00:00')")
    engine.sql("ALTER TABLE ns1.pe ADD PARTITION FIELD days(ts)")
    # OLD rows: ts_day must be DERIVED (not NULL-filled)
    rows = {(r.id, str(r.ts_day)) for r in
            engine.sql("SELECT id, ts_day FROM ns1.pe").collect()}
    assert rows == {(1, "2024-01-01"), (2, "2024-01-02")}
    # new writes hive-partition by the synthesized field
    engine.sql("INSERT INTO ns1.pe VALUES "
               "(3, TIMESTAMP '2024-02-01 00:00:00')")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "pe")
    assert tdef.partition_by == ["ts_day"]
    new_paths = [f.path for f in tdef.data_files if "ts_day=" in f.path]
    assert new_paths, [f.path for f in tdef.data_files]
    rows = {(r.id, str(r.ts_day)) for r in
            engine.sql("SELECT id, ts_day FROM ns1.pe").collect()}
    assert rows == {(1, "2024-01-01"), (2, "2024-01-02"),
                    (3, "2024-02-01")}
    # filters on the evolved field remain correct across both eras
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.pe "
                      "WHERE ts_day = DATE '2024-01-02'").first().n == 1
    # COW rewrite of an old row passes the writer chokepoint → the
    # rewritten file is hive-partitioned and the value recomputed
    engine.sql("UPDATE ns1.pe SET ts = TIMESTAMP '2024-03-09 05:00:00' "
               "WHERE id = 1")
    r = engine.sql("SELECT ts_day FROM ns1.pe WHERE id = 1").first()
    assert str(r.ts_day) == "2024-03-09"
    # errors: duplicate field / unknown drop
    with pytest.raises(ValueError, match="already a partition field"):
        engine.sql("ALTER TABLE ns1.pe ADD PARTITION FIELD days(ts)")
    with pytest.raises(ValueError, match="not a partition field"):
        engine.sql("ALTER TABLE ns1.pe DROP PARTITION FIELD bucket(4, id)")
    # DROP: future writes unpartitioned, column stays readable
    engine.sql("ALTER TABLE ns1.pe DROP PARTITION FIELD days(ts)")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "pe")
    assert tdef.partition_by == []
    assert "ts_day" in tdef.generated_columns     # void-transform analogue
    engine.sql("INSERT INTO ns1.pe VALUES "
               "(4, TIMESTAMP '2024-04-04 04:04:04')")
    rows = {(r.id, str(r.ts_day)) for r in
            engine.sql("SELECT id, ts_day FROM ns1.pe").collect()}
    assert rows == {(1, "2024-03-09"), (2, "2024-01-02"),
                    (3, "2024-02-01"), (4, "2024-04-04")}


def test_partition_evolution_plain_column_and_time_travel(engine, spark):
    engine.sql("CREATE TABLE ns1.pe2 (id BIGINT, cat STRING)")
    engine.sql("INSERT INTO ns1.pe2 VALUES (1, 'a'), (2, 'b')")
    engine.sql("ALTER TABLE ns1.pe2 ADD PARTITION FIELD cat")
    engine.sql("INSERT INTO ns1.pe2 VALUES (3, 'a')")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.pe2 "
                      "WHERE cat = 'a'").first().n == 2
    # time travel to before the evolution still reads the old spec
    hist = engine.sql("DESCRIBE HISTORY ns1.pe2").collect()
    assert len(hist) >= 3
    with pytest.raises(ValueError, match="not in the table schema"):
        engine.sql("ALTER TABLE ns1.pe2 ADD PARTITION FIELD nope")


def test_escaped_partition_values_read_prune_and_mutate_exactly(engine):
    """r9 second-pass fix: hive-ESCAPED partition values ('a:b' → dir
    src=a%3Ab → file_path src=a%253Ab) must (1) read back decoded
    through the double-encoded _metadata path, (2) compare like-for-
    like in stats pruning — the escaped stats form used to WRONGLY
    PRUNE the matching file, silently corrupting DML — and (3) mutate
    exactly the matching partition."""
    engine.sql("CREATE TABLE ns1.ep (id BIGINT, v DOUBLE, src STRING) "
               "PARTITIONED BY (src)")
    engine.sql("INSERT INTO ns1.ep VALUES (1, 1.0, 'a:b'), "
               "(2, 2.0, 'plain'), (3, 3.0, 'p=q'), (4, 4.0, '50%off'), "
               "(5, 5.0, 'a b'), (6, 6.0, 'a+b')")
    got = {r.src for r in engine.sql("SELECT src FROM ns1.ep").collect()}
    assert got == {"a:b", "plain", "p=q", "50%off", "a b", "a+b"}
    # predicate on the escaped value: the file must NOT be pruned away
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ep "
                      "WHERE src = 'a:b'").first().n == 1
    # DML through the same pruning path
    n = engine.sql("UPDATE ns1.ep SET v = 10.0 WHERE src = 'a:b'")
    rows = {r.src: r.v for r in
            engine.sql("SELECT src, v FROM ns1.ep").collect()}
    assert rows == {"a:b": 10.0, "plain": 2.0, "p=q": 3.0,
                    "50%off": 4.0, "a b": 5.0, "a+b": 6.0}
    engine.sql("DELETE FROM ns1.ep WHERE src = 'p=q'")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ep").first().n == 5
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ep "
                      "WHERE src = 'a b'").first().n == 1


def test_merge_into_escaped_partition_matches_files(engine, spark):
    """MERGE's file-match path shares the input_file_name URI-layer
    normalization: an upsert keyed into an escaped partition must
    rewrite the right file."""
    engine.sql("CREATE TABLE ns1.mep (id BIGINT, v DOUBLE, src STRING) "
               "PARTITIONED BY (src)")
    engine.sql("INSERT INTO ns1.mep VALUES (1, 1.0, 'a:b'), "
               "(2, 2.0, 'plain')")
    srcdf = spark.createDataFrame([(1, 99.0, "a:b")],
                                  "id LONG, v DOUBLE, src STRING")
    engine.merge("ns1.mep", srcdf, on="t.id = s.id",
                 matched_update={"v": "s.v"},
                 not_matched_insert={"id": "s.id", "v": "s.v",
                                     "src": "s.src"})
    rows = {r.id: r.v for r in
            engine.sql("SELECT id, v FROM ns1.mep").collect()}
    assert rows == {1: 99.0, 2: 2.0}


def test_explain_statement(engine):
    """EXPLAIN [FORMATTED|EXTENDED] <query> returns the Catalyst plan
    for the resolved engine query (catalog tables, views, rewrites all
    apply); DML under EXPLAIN refuses instead of executing."""
    engine.sql("CREATE TABLE ns1.ex (x BIGINT)")
    engine.sql("INSERT INTO ns1.ex VALUES (1), (2)")
    plan = engine.sql("EXPLAIN SELECT x FROM ns1.ex WHERE x > 1") \
        .collect()[0].plan
    assert "Physical Plan" in plan
    plan = engine.sql("EXPLAIN FORMATTED SELECT COUNT(*) AS n "
                      "FROM ns1.ex").collect()[0].plan
    assert "HashAggregate" in plan and "Scan" in plan
    import pytest as _pt
    with _pt.raises(ValueError, match="read queries"):
        engine.sql("EXPLAIN DELETE FROM ns1.ex WHERE x = 1")
    # nothing executed: both rows still there
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ex") \
        .collect()[0].n == 2


def test_explain_refuses_hidden_dml(engine):
    """Pass-4: Spark admits DML behind WITH/FROM prefixes — EXPLAIN
    must refuse instead of executing it through the recursion."""
    engine.sql("CREATE TABLE ns1.exg (x BIGINT)")
    engine.sql("INSERT INTO ns1.exg VALUES (1)")
    import pytest as _pt
    for stmt in ("EXPLAIN WITH c AS (SELECT 2 AS x) "
                 "INSERT INTO ns1.exg SELECT x FROM c",
                 "EXPLAIN FROM ns1.exg INSERT INTO ns1.exg SELECT x"):
        with _pt.raises(ValueError, match="read queries"):
            engine.sql(stmt)
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.exg") \
        .collect()[0].n == 1
    # a string literal containing 'insert' is NOT a DML keyword
    plan = engine.sql("EXPLAIN SELECT x FROM ns1.exg "
                      "WHERE 'insert' = 'insert'").collect()[0].plan
    assert "Physical Plan" in plan


def test_explain_tolerates_quoted_dml_names_and_comments(engine):
    """Pass-5: backtick-quoted identifiers named like DML keywords and
    comments mentioning them must not refuse a legitimate EXPLAIN."""
    engine.sql("CREATE TABLE ns1.exq (`delete` BIGINT)")
    engine.sql("INSERT INTO ns1.exq VALUES (1)")
    plan = engine.sql("EXPLAIN SELECT `delete` FROM ns1.exq "
                      "/* delete old rows later */").collect()[0].plan
    assert "Physical Plan" in plan


def test_explain_backtick_inside_literal_cannot_hide_dml(engine):
    """Pass-6: a backtick INSIDE a string literal must not cross-pair
    with a real backticked identifier and delete an intervening INSERT
    from the DML scan — the hidden DML refuses and nothing executes."""
    engine.sql("CREATE TABLE ns1.exh (a STRING)")
    engine.sql("INSERT INTO ns1.exh VALUES ('x')")
    import pytest as _pt
    with _pt.raises(ValueError, match="read queries"):
        engine.sql("EXPLAIN WITH q AS (SELECT 'x`y' AS a) "
                   "INSERT INTO ns1.exh SELECT `a` FROM q")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.exh") \
        .collect()[0].n == 1


def test_stream_mv_refresh_replay_idempotent(spark, tmp_path):
    """B32 × B151 (r15): the per-micro-batch MV refresh composes with
    the batch-id ingest marker into exactly-once end to end — a
    replayed batch's ingest is skipped by its marker and the refresh
    no-ops off its own watermark, leaving the MV state byte-identical.
    No refresh-side marker is needed: the watermark IS the cursor."""
    import pyspark.sql.functions as F
    from olympia_spark.operators.streaming import catalog_ingest_sink

    src = str(tmp_path / "src")
    (spark.range(6).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("event_type"),
        F.col("id").cast("double").alias("value"))
     .write.parquet(src))
    schema = spark.read.parquet(src).schema
    eng2 = Engine(spark, str(tmp_path / "swh"))
    eng2.sql("CREATE NAMESPACE stream")
    eng2.create_table("stream.events", schema)
    eng2.sql("CREATE MATERIALIZED VIEW stream.mv AS "
             "SELECT event_type, COUNT(*) AS n, SUM(value) AS sv "
             "FROM stream.events GROUP BY event_type")
    ingest = catalog_ingest_sink(eng2)
    reps: list[str] = []

    def sink(bdf, bid):
        ingest(bdf, bid)
        reps.append(eng2.refresh_materialized_view("stream.mv")
                    .collect()[0].mode)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert reps and all(m == "incremental" for m in reps), reps
    state = [tuple(r) for r in eng2.sql(
        "SELECT * FROM stream.mv ORDER BY event_type").collect()]
    assert state == [(str(i), 2, float(i) + i + 3) for i in range(3)]
    # crash-replay of the SAME batch: marker skips the ingest, the
    # refresh watermark sees no new version → noop, state unchanged
    sink(spark.read.parquet(src), 0)
    assert reps[-1] == "noop"
    assert [tuple(r) for r in eng2.sql(
        "SELECT * FROM stream.mv ORDER BY event_type").collect()] == state
