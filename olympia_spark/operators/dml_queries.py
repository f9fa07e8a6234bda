"""B28-B30 — DML through the catalog engine, oracle-checked.

Each query stands up a throwaway warehouse, seeds a catalog table from the
fixture parquet, runs real DML through ``Engine.sql`` (INSERT appends new
files + TABLE_INSERT commit; DELETE/UPDATE are copy-on-write rewrites of
only the affected files + TABLE_DELETE/TABLE_UPDATE commits — SURVEY §2
B28-B30, reference proto/actions.proto:77-92), then returns a checksum the
DuckDB oracle reproduces with pure SELECTs over the untouched source —
the post-DML state is a pure function of the input, which is what makes
mutation oracle-checkable.

The events fixture (smallest fact table) keeps the driver-gate runtime
sane; the machinery is identical at any scale because every step is a
Spark job over the tracked file list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympia_spark.operators.registry import dsum, query
from olympia_spark.tables import load


# One scratch Engine per (session, sf) shared by B28-B30 — each query seeds
# its OWN table (DML mutates it) but the warehouse, namespace, and catalog
# are set up once, so the driver gate pays the fixed cost once, not thrice.
_DML_ENGINES: dict[tuple[str, str], object] = {}


def _dml_engine(spark: SparkSession, sf: str):
    """The shared scratch engine WITHOUT any table seed — for queries
    that stand up their own tables (b151 pays no unused events write)."""
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir

    def build():
        eng = Engine(spark, scratch_dir("olympia_dml_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    return get_or_create(_DML_ENGINES, spark, sf, build)


def _engine_with_events(spark: SparkSession, sf: str, tbl: str):
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin()
    if eng.catalog.table_exists(txn, "ns1", tbl):
        eng.sql(f"DROP TABLE ns1.{tbl}")     # re-entry: reset mutated state
    eng.write_table(load(spark, sf, "events"), f"ns1.{tbl}")
    return eng


def _checksum(tbl: str) -> str:
    return ("SELECT COUNT(*) AS n_rows, "
            + dsum("value", "value_sum")
            + f" FROM ns1.{tbl}")


@query("b28_insert_append", oracle=f"""
SELECT COUNT(*) AS n_rows, {dsum('value', 'value_sum')}
FROM (SELECT value FROM events
      UNION ALL
      SELECT value + 1000 AS value FROM events WHERE event_type = 'click')
""")
def b28_insert(spark: SparkSession, sf: str) -> DataFrame:
    """B28 — INSERT appends parquet files atomically via TABLE_INSERT:
    the count reflects old+new rows only after the catalog commit."""
    eng = _engine_with_events(spark, sf, "events_ins")
    eng.sql("INSERT INTO ns1.events_ins "
            "SELECT event_id + 1000000 AS event_id, ts, user_id, event_type, "
            "value + 1000 AS value, props "
            "FROM ns1.events_ins WHERE event_type = 'click'")
    return eng.sql(_checksum("events_ins"))


@query("b29_delete_where", oracle=f"""
SELECT COUNT(*) AS n_rows, {dsum('value', 'value_sum')}
FROM events
WHERE NOT (event_type = 'error')
""")
def b29_delete(spark: SparkSession, sf: str) -> DataFrame:
    """B29 — DELETE WHERE as copy-on-write rewrite of affected files
    (stats-pruned candidates → input_file_name match → rewrite minus
    matching rows; TABLE_DELETE action)."""
    eng = _engine_with_events(spark, sf, "events_del")
    eng.sql("DELETE FROM ns1.events_del WHERE event_type = 'error'")
    return eng.sql(_checksum("events_del"))


@query("b30_update_set", oracle=f"""
SELECT COUNT(*) AS n_rows,
       {dsum("CASE WHEN event_type = 'click' THEN value * 2 ELSE value END",
             'value_sum')}
FROM events
""")
def b30_update(spark: SparkSession, sf: str) -> DataFrame:
    """B30 — UPDATE SET as copy-on-write rewrite carrying added+removed
    file lists (TABLE_UPDATE, proto/actions.proto:82-87)."""
    eng = _engine_with_events(spark, sf, "events_upd")
    eng.sql("UPDATE ns1.events_upd SET value = value * 2 "
            "WHERE event_type = 'click'")
    return eng.sql(_checksum("events_upd"))


@query("b33_merge_upsert", oracle=f"""
SELECT COUNT(*) AS n_rows, {dsum(
    "CASE WHEN event_type = 'click' THEN value + 100 ELSE value END",
    'value_sum')}
FROM (SELECT event_id, event_type, value FROM events
      UNION ALL
      SELECT event_id + 5000000 AS event_id, 'merged' AS event_type,
             1.5 AS value
      FROM events WHERE event_type = 'purchase')
""")
def b33_merge(spark: SparkSession, sf: str) -> DataFrame:
    """B33 — MERGE INTO (upsert): matched rows update copy-on-write (only
    files containing matches rewrite), not-matched source rows append as
    new files, one atomic TABLE_UPDATE commit. The source is a mix of
    existing keys (clicks → value bump) and fresh keys (purchase-derived
    ids far outside the existing range → inserts)."""
    eng = _engine_with_events(spark, sf, "events_mrg")
    eng.sql("""
        MERGE INTO ns1.events_mrg t
        USING (SELECT event_id,
                      CASE WHEN event_type = 'purchase'
                           THEN event_id + 5000000 ELSE event_id
                      END AS merge_id,
                      event_type, value
               FROM ns1.events_mrg
               WHERE event_type IN ('click', 'purchase')) s
        ON t.event_id = s.merge_id
        WHEN MATCHED THEN UPDATE SET value = t.value + 100
        WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
        VALUES (s.merge_id, 'merged', 1.5)
    """)
    return eng.sql(_checksum("events_mrg"))


_B33B_CASE = ("CASE WHEN event_type = 'click' AND value > 50 THEN value * 2 "
              "WHEN event_type = 'click' THEN value + 7 ELSE value END")


@query("b33b_merge_multi", oracle=f"""
SELECT COUNT(*) AS n_rows, {dsum(_B33B_CASE, 'value_sum')}
FROM (SELECT event_type, value FROM events WHERE event_type <> 'error'
      UNION ALL
      SELECT 'multi' AS event_type, 1.25 AS value
      FROM events WHERE event_type = 'purchase' AND value > 10)
""")
def b33b_merge_multi(spark: SparkSession, sf: str) -> DataFrame:
    """B33b — MERGE with multiple + conditional WHEN clauses (SQL
    clause-order semantics: first matching clause wins per row). Errors
    delete, big clicks double, other clicks bump, and only sufficiently
    valuable purchases insert — one statement, one atomic commit."""
    eng = _engine_with_events(spark, sf, "events_mm")
    eng.sql("""
        MERGE INTO ns1.events_mm t
        USING (SELECT CASE WHEN event_type = 'purchase'
                           THEN event_id + 5000000 ELSE event_id
                      END AS merge_id, event_type, value
               FROM ns1.events_mm
               WHERE event_type IN ('click', 'error', 'purchase')) s
        ON t.event_id = s.merge_id
        WHEN MATCHED AND s.event_type = 'error' THEN DELETE
        WHEN MATCHED AND s.value > 50 THEN UPDATE SET value = t.value * 2
        WHEN MATCHED THEN UPDATE SET value = t.value + 7
        WHEN NOT MATCHED AND s.value > 10 THEN INSERT
            (event_id, event_type, value) VALUES (s.merge_id, 'multi', 1.25)
    """)
    return eng.sql(_checksum("events_mm"))


@query("b58_table_changes", oracle=f"""
SELECT 'delete' AS change_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       {dsum('value', 'value_sum')}
FROM events
WHERE event_type = 'error'
   OR (event_type = 'click' AND value IS NOT NULL AND value <> 0)
UNION ALL
SELECT 'insert' AS change_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       {dsum('value * 2', 'value_sum')}
FROM events
WHERE event_type = 'click' AND value IS NOT NULL AND value <> 0
ORDER BY change_type
""")
def b58_table_changes(spark: SparkSession, sf: str) -> DataFrame:
    """B58 — change data feed between catalog versions: seed the table,
    UPDATE the clicks (value×2) and DELETE the errors, then ask the
    catalog for the row-level delta between the seeded and final
    versions. Copy-on-write rewrites whole files, but carried-through
    rows cancel via multiset difference, so the feed contains exactly
    the semantic changes — the UPDATE's delete+insert pairs and the
    DELETE's deletes — independent of physical file layout, at a cost of
    O(changed files). The oracle reconstructs the same delta from the
    untouched source; a click whose value is NULL or 0 doubles to ITSELF,
    so the rewrite emits an identical row that rightly cancels — the feed
    reports actual changes, not touched rows (the sf0.1 fixture has
    exactly such a row; the oracle must exclude it too)."""
    from pyspark.sql import functions as F

    eng = _engine_with_events(spark, sf, "events_cdf")
    v_seed = eng.catalog.tree.find_latest_version()
    eng.sql("UPDATE ns1.events_cdf SET value = value * 2 "
            "WHERE event_type = 'click'")
    eng.sql("DELETE FROM ns1.events_cdf WHERE event_type = 'error'")
    v_final = eng.catalog.tree.find_latest_version()
    changes = eng.table_changes("ns1.events_cdf", v_seed, v_final)
    return (changes.groupBy(F.col("_change_type").alias("change_type"))
            .agg(F.count("*").alias("n"),
                 F.sum("event_id").cast("bigint").alias("id_sum"),
                 F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
                  .alias("value_sum"))
            .orderBy("change_type"))


@query("b63_txn_multi_table", oracle=f"""
SELECT 'archive' AS tbl, COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       {dsum('value', 'value_sum')}
FROM events WHERE event_type = 'error'
UNION ALL
SELECT 'live' AS tbl, COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       {dsum('value', 'value_sum')}
FROM events WHERE event_type <> 'error'
ORDER BY tbl
""")
def b63_txn_multi_table(spark: SparkSession, sf: str) -> DataFrame:
    """B63 — multi-object multi-statement ACID transaction (A35, the
    reference's core bet) through the driver gate: BEGIN; copy the error
    rows into an archive table; delete them from the live table; COMMIT.
    Both mutations land in ONE catalog version — the conservation
    invariant (every row in exactly one table, nothing lost or doubled)
    holds because the commit is atomic, and the oracle reproduces the
    post-state from the untouched source. A reader between the
    statements would still see the pre-state: versions advance only at
    COMMIT."""
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir
    from olympia_spark.tables import load as _load

    def build():
        eng = Engine(spark, scratch_dir("olympia_txn_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_TXN_ENGINES, spark, sf, build)
    txn0 = eng.catalog.begin()
    for t in ("live", "archive"):
        if eng.catalog.table_exists(txn0, "ns1", t):
            eng.sql(f"DROP TABLE ns1.{t}")       # re-entry: reset state
    events = _load(spark, sf, "events")
    eng.write_table(events, "ns1.live")
    eng.create_table("ns1.archive", events.schema)
    v_before = eng.catalog.tree.find_latest_version()
    eng.sql("BEGIN")
    eng.sql("INSERT INTO ns1.archive SELECT * FROM ns1.live "
            "WHERE event_type = 'error'")
    eng.sql("DELETE FROM ns1.live WHERE event_type = 'error'")
    # both statements pending: the committed catalog still holds the
    # pre-state until COMMIT advances exactly one version
    eng.sql("COMMIT")
    assert eng.catalog.tree.find_latest_version() == v_before + 1, \
        "multi-statement txn must commit as ONE catalog version"
    return eng.sql(
        "SELECT 'archive' AS tbl, COUNT(*) AS n_rows, "
        "CAST(SUM(event_id) AS BIGINT) AS id_sum, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.archive "
        "UNION ALL "
        "SELECT 'live' AS tbl, COUNT(*) AS n_rows, "
        "CAST(SUM(event_id) AS BIGINT) AS id_sum, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.live "
        "ORDER BY tbl")


_TXN_ENGINES: dict[tuple[str, str], object] = {}


@query("b63b_txn_rollback", oracle=f"""
SELECT COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS id_sum,
       {dsum('value', 'value_sum')}
FROM events
""")
def b63b_txn_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """B63b — transaction abort: BEGIN; DELETE every row; UPDATE the
    rest; ROLLBACK — the table must read back byte-identical to the
    untouched source (the pending version root is discarded, no catalog
    version advances). The abort path is half of ACID; this gates it
    next to B63's commit path."""
    eng = _engine_with_events(spark, sf, "events_rb")
    v_before = eng.catalog.tree.find_latest_version()
    eng.sql("BEGIN")
    eng.sql("DELETE FROM ns1.events_rb WHERE event_type IS NOT NULL")
    eng.sql("INSERT INTO ns1.events_rb SELECT * FROM ns1.events_rb")
    eng.sql("ROLLBACK")
    assert eng.catalog.tree.find_latest_version() == v_before, \
        "ROLLBACK must not advance the catalog version"
    return eng.sql(
        "SELECT COUNT(*) AS n_rows, "
        "CAST(SUM(event_id) AS BIGINT) AS id_sum, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.events_rb")


@query("b68_clone_restore", oracle=f"""
SELECT 'fork' AS tbl, COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum, {dsum('value', 'value_sum')}
FROM events WHERE event_type <> 'error'
UNION ALL
SELECT 'src' AS tbl, COUNT(*) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_sum, {dsum('value', 'value_sum')}
FROM events
ORDER BY tbl
""")
def b68_clone_restore(spark: SparkSession, sf: str) -> DataFrame:
    """B68 — zero-copy SHALLOW CLONE + RESTORE TO VERSION through the
    driver gate: fork the table (no data copied — the clone's TableDef
    points at the same files), diverge BOTH tables with copy-on-write
    deletes, then RESTORE the source to its pre-delete version. The
    oracle reproduces the end state from the untouched fixture: src must
    be byte-equal to the original (restore reattached the historical
    files), fork must hold everything but the error rows (its COW delete
    never touched the shared files) — proving isolation of the fork AND
    reversibility of the source in one hash."""
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir

    def build():
        eng = Engine(spark, scratch_dir("olympia_clone_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_TXN_ENGINES, spark, sf, build)
    txn0 = eng.catalog.begin()
    for t in ("cr_src", "cr_fork"):
        if eng.catalog.table_exists(txn0, "ns1", t):
            eng.sql(f"DROP TABLE ns1.{t}")       # re-entry: reset state
    eng.write_table(load(spark, sf, "events"), "ns1.cr_src")
    v0 = eng.catalog.tree.find_latest_version()
    eng.sql("CREATE TABLE ns1.cr_fork SHALLOW CLONE ns1.cr_src")
    eng.sql("DELETE FROM ns1.cr_fork WHERE event_type = 'error'")
    eng.sql("DELETE FROM ns1.cr_src WHERE event_type = 'click'")
    eng.sql(f"RESTORE TABLE ns1.cr_src TO VERSION AS OF {v0}")
    return eng.sql(
        "SELECT 'fork' AS tbl, COUNT(*) AS n_rows, "
        "CAST(SUM(event_id) AS BIGINT) AS id_sum, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.cr_fork "
        "UNION ALL "
        "SELECT 'src' AS tbl, COUNT(*) AS n_rows, "
        "CAST(SUM(event_id) AS BIGINT) AS id_sum, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.cr_src "
        "ORDER BY tbl")


@query("b69_zorder_cluster", oracle=f"""
SELECT COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS id_sum,
       {dsum('value', 'value_sum')}
FROM events
WHERE user_id BETWEEN 100 AND 120 AND value >= 50
""")
def b69_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """B69 — OPTIMIZE ... ZORDER BY (Delta-style multi-dimensional
    clustering rewrite): the fixture lands in a deliberately random
    8-file layout, the z-order rewrite quantile-bins (user_id, value)
    into 16 equi-depth ranks each and range-partitions + sorts on the
    interleaved Morton code, and the post-rewrite probe filters on BOTH
    dimensions. Content preservation is what the oracle hashes (the
    probe is a pure function of the untouched source); the file-skipping
    contract — point/range predicates on EITHER column prune ≥half the
    files via the per-file [min,max] stats — is pinned by
    tests/test_engine_maintenance.py::test_zorder_clusters_and_prunes."""
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir

    def build():
        eng = Engine(spark, scratch_dir("olympia_zorder_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_DML_ENGINES, spark, (sf, "zorder"), build)
    txn = eng.catalog.begin()
    if eng.catalog.table_exists(txn, "ns1", "events_z"):
        eng.sql("DROP TABLE ns1.events_z")
    eng.write_table(load(spark, sf, "events").repartition(8),
                    "ns1.events_z")
    eng.compact_table("ns1.events_z", zorder_by=["user_id", "value"],
                      target_files=8)
    return eng.sql(
        "SELECT COUNT(*) AS n_rows, "
        "CAST(SUM(event_id) AS BIGINT) AS id_sum, "
        + dsum("value", "value_sum")
        + " FROM ns1.events_z "
        "WHERE user_id BETWEEN 100 AND 120 AND value >= 50")


@query("b70_analyze_stats", oracle="""
SELECT * FROM (
  SELECT 'event_id' AS column_name,
         COUNT(DISTINCT event_id) AS n_distinct,
         COUNT(*) - COUNT(event_id) AS n_nulls,
         CAST(MIN(event_id) AS DOUBLE) AS min_num,
         CAST(MAX(event_id) AS DOUBLE) AS max_num
  FROM events
  UNION ALL
  SELECT 'event_type', COUNT(DISTINCT event_type),
         COUNT(*) - COUNT(event_type),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM events
  UNION ALL
  SELECT 'user_id', COUNT(DISTINCT user_id),
         COUNT(*) - COUNT(user_id),
         CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
  FROM events
  UNION ALL
  SELECT 'value', COUNT(DISTINCT value), COUNT(*) - COUNT(value),
         CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
  FROM events)
ORDER BY column_name
""")
def b70_analyze(spark: SparkSession, sf: str) -> DataFrame:
    """B70 — ANALYZE TABLE ... COMPUTE STATISTICS + SHOW STATS: one
    aggregation pass collects row count / per-column ndv / nulls /
    numeric min-max and persists them on the TableDef as a versioned
    catalog property (an ALTER commit — stats time-travel with the
    table); SHOW STATS reads them back as a relation. The oracle
    recomputes every number from the untouched source, so the whole
    ANALYZE→persist→read-back loop is exact-hash-gated. These are the
    planner-facing TABLE stats (join sizing, broadcast decisions) —
    distinct from the per-file min/max pruning stats collected at write
    time."""
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir

    def build():
        eng = Engine(spark, scratch_dir("olympia_stats_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_DML_ENGINES, spark, (sf, "stats"), build)
    txn = eng.catalog.begin()
    if not eng.catalog.table_exists(txn, "ns1", "events_st"):
        eng.write_table(load(spark, sf, "events"), "ns1.events_st")
    eng.sql("ANALYZE TABLE ns1.events_st COMPUTE STATISTICS "
            "FOR COLUMNS event_id, user_id, event_type, value")
    return eng.sql("SHOW STATS FOR ns1.events_st")


@query("b73_dml_subquery", oracle=f"""
WITH kept AS (
  SELECT * FROM events
  WHERE user_id NOT IN (SELECT user_id FROM events
                        WHERE event_type = 'error')
     OR user_id IS NULL
), mx AS (
  SELECT MAX(value) AS m FROM kept
)
SELECT COUNT(*) AS n_rows,
       {dsum("CASE WHEN value >= m - 10 THEN value * 2 ELSE value END",
             'value_sum')}
FROM kept, mx
""")
def b73_dml_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """B73 — DML with subquery predicates: DELETE every event of any user
    who ever errored (IN-subquery over the target's own PRE-statement
    state) then UPDATE rows near the post-delete maximum (scalar
    subquery). Catalyst only admits predicate subqueries through the SQL
    path, so the engine registers the candidate-file frame as a view,
    resolves the inner table references against the same transaction
    snapshot, and subtracts/updates by bag semantics (exceptAll) — the
    oracle recomputes the final state from the untouched source with
    pure SELECTs. Exact comparisons only (MAX is exact; AVG-style
    accumulation-order-dependent thresholds are deliberately avoided)."""
    eng = _engine_with_events(spark, sf, "events_sq")
    eng.sql("DELETE FROM ns1.events_sq WHERE user_id IN "
            "(SELECT user_id FROM ns1.events_sq "
            "WHERE event_type = 'error')")
    eng.sql("UPDATE ns1.events_sq SET value = value * 2 WHERE value >= "
            "(SELECT MAX(value) FROM ns1.events_sq) - 10")
    return eng.sql(_checksum("events_sq"))


@query("b74_merge_by_source", oracle=f"""
SELECT COUNT(*) AS n_rows,
       {dsum("CASE WHEN event_type = 'click' THEN value + 1 "
             "ELSE value * 2 END", 'value_sum')}
FROM events
WHERE event_type <> 'error'
""")
def b74_merge_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """B74 — MERGE ... WHEN NOT MATCHED BY SOURCE (Delta 2.4 surface):
    the full-sync mirror shape — one atomic statement upserts from the
    source AND acts on every target row the source no longer carries.
    Clicks (the source set) bump, stale errors delete, everything else
    doubles; three clause families compose with first-match-wins
    ordering inside the single copy-on-write rewrite commit. By
    definition the by-source clauses inspect every target row, so the
    rewrite covers all files — exactly Delta's cost model for this
    clause."""
    eng = _engine_with_events(spark, sf, "events_bs")
    eng.sql("""
        MERGE INTO ns1.events_bs t
        USING (SELECT event_id FROM ns1.events_bs
               WHERE event_type = 'click') s
        ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET value = t.value + 1
        WHEN NOT MATCHED BY SOURCE AND t.event_type = 'error' THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET value = t.value * 2
    """)
    return eng.sql(_checksum("events_bs"))


@query("b75_replace_where", oracle=f"""
SELECT COUNT(*) AS n_rows,
       {dsum("CASE WHEN event_type = 'click' THEN value * 3 "
             "ELSE value END", 'value_sum')}
FROM events
""")
def b75_replace_where(spark: SparkSession, sf: str) -> DataFrame:
    """B75 — INSERT OVERWRITE ... REPLACE WHERE (Delta replaceWhere):
    atomically swap exactly one predicate slice — the daily-partition
    reload shape. The click slice is replaced by its tripled self (the
    source reads the PRE-statement table through the resolver) in ONE
    commit: COW rewrite keeps non-click rows of matched files, new files
    carry the replacement, stats-pruned files never rewrite. Inserted
    rows violating the predicate raise (Delta's constraint) — a
    violation would silently survive the next replace of another
    slice."""
    eng = _engine_with_events(spark, sf, "events_rw")
    eng.sql("""
        INSERT OVERWRITE ns1.events_rw REPLACE WHERE event_type = 'click'
        SELECT event_id, ts, user_id, event_type, value * 3 AS value, props
        FROM ns1.events_rw WHERE event_type = 'click'
    """)
    return eng.sql(_checksum("events_rw"))


@query("b77_describe_detail", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS num_rows,
       TRUE AS files_tracked,
       'PARQUET' AS format
FROM events
""")
def b77_describe_detail(spark: SparkSession, sf: str) -> DataFrame:
    """B77 — DESCRIBE DETAIL (Delta-style one-row physical inspection):
    file count, byte size, row count, format and partition spec straight
    from the TRACKED per-file stats — zero data scan (the num_rows the
    maintenance planner keys on must come from metadata, because at
    100 TB a COUNT(*) for monitoring is a full-table job). The oracle
    pins the metadata row count to the true COUNT(*) of the seeded
    fixture — the stats-vs-data consistency contract."""
    from pyspark.sql import functions as F
    eng = _engine_with_events(spark, sf, "events_dd")
    det = eng.sql("DESCRIBE DETAIL ns1.events_dd")
    return det.select(
        F.col("num_rows").cast("bigint").alias("num_rows"),
        (F.col("num_files") > 0).alias("files_tracked"),
        F.col("format"))


@query("b78_check_constraint", oracle=f"""
SELECT COUNT(*) AS n_rows,
       {dsum("CASE WHEN value >= 0 THEN value ELSE 0 END", 'value_sum')}
FROM events
""")
def b78_check_constraint(spark: SparkSession, sf: str) -> DataFrame:
    """B78 — CHECK constraints (Delta-style table invariants,
    beyond-reference): ADD CONSTRAINT validates existing rows with ONE
    aggregation job, then every write path (INSERT / COW rewrite /
    MERGE / COPY INTO / streaming — all funnel through the single
    writer chokepoint) enforces the predicate ROW-BY-ROW inside the
    write job itself — zero extra passes at any scale. This query
    clamps negatives via UPDATE, admits the `value >= 0` invariant,
    proves a violating INSERT commits NOTHING (error + unchanged
    checksum); the oracle reproduces the surviving state with pure
    SELECTs."""
    from olympia_spark.catalog.errors import CheckConstraintError
    eng = _engine_with_events(spark, sf, "events_ck")
    eng.sql("UPDATE ns1.events_ck SET value = 0 WHERE value < 0")
    eng.sql("ALTER TABLE ns1.events_ck ADD CONSTRAINT v_nonneg "
            "CHECK (value >= 0)")
    try:
        eng.sql("INSERT INTO ns1.events_ck VALUES "
                "(999999901, TIMESTAMP '2024-01-01 00:00:00', 1, "
                "'click', -5.0, '{}')")
        raise AssertionError("violating INSERT must raise")
    except CheckConstraintError:
        pass
    return eng.sql(_checksum("events_ck"))


@query("b79_generated_partition", oracle=f"""
SELECT CAST(ts AS DATE) AS event_date,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum('value', 'value_sum')}
FROM events
GROUP BY 1
ORDER BY 1
LIMIT 10
""")
def b79_generated_partition(spark: SparkSession, sf: str) -> DataFrame:
    """B79 — GENERATED ALWAYS AS + hidden partitioning (Iceberg
    transform-partitioning semantics, beyond-reference): the table
    declares ``event_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))``
    and partitions on it; the engine computes the column at the writer
    chokepoint, the hive layout stores it in paths, partition values
    become exact file stats, and a predicate on event_date
    PARTITION-PRUNES both scans and DML without the writer ever being
    told the date. The oracle recomputes the derivation from raw ts —
    proving the stored derived column matches its definition on every
    row."""
    from pyspark.sql import functions as F
    eng = _engine_with_gen_events(spark, sf)
    return (eng.sql("SELECT event_date, COUNT(*) AS n, "
                    "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)"
                    " AS value_sum "
                    "FROM ns1.events_gen GROUP BY event_date "
                    "ORDER BY event_date LIMIT 10")
            .select("event_date", F.col("n").cast("bigint").alias("n"),
                    "value_sum"))


def _engine_with_gen_events(spark: SparkSession, sf: str):
    from olympia_spark.operators._scratch import get_or_create, scratch_dir
    from olympia_spark.engine import Engine

    def build():
        eng = Engine(spark, scratch_dir("olympia_dmlg_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_DML_ENGINES, spark, sf + "#gen", build)
    txn = eng.catalog.begin()
    if eng.catalog.table_exists(txn, "ns1", "events_gen"):
        eng.sql("DROP TABLE ns1.events_gen")
    eng.sql("CREATE TABLE ns1.events_gen ("
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING, "
            "event_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))"
            ") PARTITIONED BY (event_date)")
    eng.write_table(load(spark, sf, "events"), "ns1.events_gen")
    return eng


@query("b81_rename_column", oracle=f"""
SELECT COUNT(*) AS n_rows, {dsum('value', 'amount_sum')},
       COUNT(DISTINCT event_type) AS n_types
FROM events
""")
def b81_rename_column(spark: SparkSession, sf: str) -> DataFrame:
    """A40 driver gate — metadata-only RENAME COLUMN via column
    mapping: rename value→amount (zero bytes move; files keep the
    creation name forever; reads/writes/stats translate through
    TableDef.column_mapping), then APPEND through the mapping (the new
    file stores the physical name) and read back through the logical
    one. The oracle reproduces the state from the untouched source —
    the rename must be invisible to the data, visible only to the
    name."""
    eng = _engine_with_events(spark, sf, "events_rn")
    eng.sql("ALTER TABLE ns1.events_rn RENAME COLUMN value TO amount")
    # append THROUGH the mapping: doubles nothing, inserts zero-sum pair
    eng.sql("INSERT INTO ns1.events_rn VALUES "
            "(999999801, TIMESTAMP '2024-01-01 00:00:00', 1, 'click', "
            "5.0, '{}'), "
            "(999999802, TIMESTAMP '2024-01-01 00:00:00', 1, 'click', "
            "-5.0, '{}')")
    eng.sql("DELETE FROM ns1.events_rn WHERE event_id >= 999999801")
    return eng.sql(
        "SELECT COUNT(*) AS n_rows, "
        "CAST(SUM(CAST(amount AS DECIMAL(25,6))) AS DOUBLE) AS amount_sum, "
        "COUNT(DISTINCT event_type) AS n_types FROM ns1.events_rn")


@query("b82_merge_schema_evolution", oracle=f"""
SELECT COUNT(*) AS n_rows, {dsum('value', 'value_sum')},
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS flagged
FROM events
""")
def b82_merge_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """B82 — MERGE WITH SCHEMA EVOLUTION (Delta autoMerge): the source
    carries a column the target lacks (`flag`); the merge adds it to
    the target schema IN the same commit as the rows — existing files
    simply lack the column and read NULL. Here clicks merge with
    flag=1, everything else reads NULL, and the oracle reproduces the
    flagged count from the raw source — proving both the evolution and
    the NULL-fill contract in one checksum."""
    from pyspark.sql import functions as F
    eng = _engine_with_events(spark, sf, "events_me")
    src = (load(spark, sf, "events")
           .filter("event_type = 'click'")
           .select("event_id", F.lit(1).cast("bigint").alias("flag")))
    eng.merge("ns1.events_me", src, on="t.event_id = s.event_id",
              matched_update={"flag": "s.flag"},
              schema_evolution=True)
    return eng.sql(
        "SELECT COUNT(*) AS n_rows, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum, "
        "CAST(SUM(COALESCE(flag, 0)) AS BIGINT) AS flagged "
        "FROM ns1.events_me")


@query("b83_partition_transforms", oracle="""
SELECT CAST(ts AS DATE) AS ts_day,
       substring(event_type, 1, 4) AS type_prefix,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
GROUP BY 1, 2 ORDER BY 1, 2
""")
def b83_partition_transforms(spark: SparkSession, sf: str) -> DataFrame:
    """B83 — Iceberg-style partition TRANSFORMS as first-class DDL
    (spec "Partition Transforms"; the reference's host stack reads
    transform-partitioned tables natively via Iceberg 1.8.1,
    spark/v3.5/build.gradle:38): ``PARTITIONED BY (days(ts),
    truncate(4, event_type))`` desugars into hidden generated columns
    computed at the writer chokepoint; the hive layout stores them in
    paths, partition values become exact file stats, and predicates on
    the transform columns partition-prune. The oracle recomputes both
    transform derivations from the raw fixture — proving every stored
    hidden value matches its definition."""
    from pyspark.sql import functions as F
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir

    def build():
        eng = Engine(spark, scratch_dir("olympia_dmlpt_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_DML_ENGINES, spark, sf + "#pt", build)
    txn = eng.catalog.begin()
    if eng.catalog.table_exists(txn, "ns1", "events_pt"):
        eng.sql("DROP TABLE ns1.events_pt")
    eng.sql("CREATE TABLE ns1.events_pt ("
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
            ") PARTITIONED BY (days(ts), truncate(4, event_type))")
    eng.write_table(load(spark, sf, "events"), "ns1.events_pt")
    return (eng.sql(
        "SELECT ts_day, event_type_trunc AS type_prefix, "
        "COUNT(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.events_pt "
        "WHERE ts_day BETWEEN DATE '2024-01-05' AND DATE '2024-01-09' "
        "GROUP BY ts_day, event_type_trunc "
        "ORDER BY ts_day, type_prefix")
        .select("ts_day", "type_prefix",
                F.col("n").cast("bigint").alias("n"), "value_sum"))


@query("b86_partition_evolution", oracle="""
SELECT CAST(ts AS DATE) AS ts_day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
GROUP BY 1 ORDER BY 1
""")
def b86_partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """B86 — partition-spec EVOLUTION (Iceberg spec "Partition
    Evolution": metadata-only spec change, existing files keep their
    layout, only new writes use the new spec): half the fixture is
    written UNPARTITIONED, the table then evolves to
    ``days(ts)`` hidden partitioning, and the second half writes
    hive-partitioned. The aggregate reads ACROSS both eras — the
    pre-evolution files derive ts_day on read from the generation
    expression, the post-evolution files reconstruct it from the hive
    layout and partition-prune. The oracle recomputes everything from
    the raw fixture, proving the two eras agree bit-for-bit."""
    from pyspark.sql import functions as F
    from olympia_spark.engine import Engine
    from olympia_spark.operators._scratch import get_or_create, scratch_dir

    def build():
        eng = Engine(spark, scratch_dir("olympia_dmlpe_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_DML_ENGINES, spark, sf + "#pe", build)
    txn = eng.catalog.begin()
    if eng.catalog.table_exists(txn, "ns1", "events_pe"):
        eng.sql("DROP TABLE ns1.events_pe")
    eng.sql("CREATE TABLE ns1.events_pe ("
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING)")
    ev = load(spark, sf, "events")
    eng.write_table(ev.filter("event_id % 2 = 0"), "ns1.events_pe")
    eng.sql("ALTER TABLE ns1.events_pe ADD PARTITION FIELD days(ts)")
    eng.write_table(ev.filter("event_id % 2 = 1"), "ns1.events_pe")
    return (eng.sql(
        "SELECT ts_day, COUNT(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS value_sum "
        "FROM ns1.events_pe "
        "WHERE ts_day BETWEEN DATE '2024-01-10' AND DATE '2024-01-14' "
        "GROUP BY ts_day ORDER BY ts_day")
        .select("ts_day", F.col("n").cast("bigint").alias("n"),
                "value_sum"))


@query("b95_show_partitions", oracle="""
SELECT event_type AS part_value,
       CAST(COUNT(*) AS BIGINT) AS num_rows
FROM events GROUP BY event_type ORDER BY event_type
""")
def b95_show_partitions(spark: SparkSession, sf: str) -> DataFrame:
    """B95 — SHOW PARTITIONS (Hive/Delta spelling, metadata-only): the
    partition inventory with per-partition row counts comes straight
    from the tracked [v, v] partition stats — ZERO data scan (the plan
    contract asserts no parquet relation; at 100 TB the maintenance
    planner's partition walk must not cost a table job). The oracle
    pins the metadata row counts to the true per-partition COUNT(*)
    of the raw fixture — the stats-vs-data consistency contract for
    hive layouts."""
    from pyspark.sql import functions as F
    from olympia_spark.operators._scratch import get_or_create, scratch_dir
    from olympia_spark.engine import Engine

    def build():
        eng = Engine(spark, scratch_dir("olympia_dmlp_"))
        eng.sql("CREATE NAMESPACE ns1")
        return eng

    eng = get_or_create(_DML_ENGINES, spark, sf + "#parts", build)
    txn = eng.catalog.begin(read_only=True)   # existence probe only
    if not eng.catalog.table_exists(txn, "ns1", "events_sp"):
        eng.write_table(load(spark, sf, "events"), "ns1.events_sp",
                        partition_by=["event_type"])
    return (eng.sql("SHOW PARTITIONS ns1.events_sp")
            .select(F.col("event_type").alias("part_value"),
                    F.col("num_rows"))
            .orderBy("part_value"))


@query("b97_row_policies", oracle="""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        WHERE value >= 0) AS n_visible,
       (SELECT CAST(SUM(user_id % 1000) AS BIGINT) FROM events
        WHERE value >= 0) AS masked_uid_sum,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_after_drop
""")
def b97_row_policies(spark: SparkSession, sf: str) -> DataFrame:
    """B97 — row filters + column masks (Databricks/Snowflake-style
    row-level security and redaction, beyond-reference): policies are
    table metadata enforced at the READER-FACING resolution chokepoint
    — SELECTs, views, MERGE/INSERT sources all see them; internal COW
    rewrites scan raw, so a filter can never destroy the rows it
    hides. This query sets filter (value >= 0) + mask (user_id %
    1000), reads the governed aggregate, then DROPS both policies and
    re-counts — proving the hidden rows survived untouched. The oracle
    reproduces all three numbers from the raw fixture."""
    from pyspark.sql import functions as F
    eng = _engine_with_events(spark, sf, "events_rp")
    eng.sql("ALTER TABLE ns1.events_rp SET ROW FILTER (value >= 0)")
    eng.sql("ALTER TABLE ns1.events_rp ALTER COLUMN user_id "
            "SET MASK (user_id % 1000)")
    governed = eng.sql(
        "SELECT COUNT(*) AS n_visible, "
        "CAST(SUM(user_id) AS BIGINT) AS masked_uid_sum "
        "FROM ns1.events_rp")
    eng.sql("ALTER TABLE ns1.events_rp DROP ROW FILTER")
    eng.sql("ALTER TABLE ns1.events_rp ALTER COLUMN user_id DROP MASK")
    after = eng.sql("SELECT COUNT(*) AS n_after_drop "
                    "FROM ns1.events_rp")
    return (governed.join(F.broadcast(after))
            .select(F.col("n_visible").cast("long").alias("n_visible"),
                    "masked_uid_sum",
                    F.col("n_after_drop").cast("long")
                    .alias("n_after_drop")))


# --- B151 materialized view with incremental refresh -------------------------

@query("b151_materialized_view", oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum('o_totalprice', 'revenue')},
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM (SELECT o_orderpriority, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderpriority, o_totalprice + 0.5 AS o_totalprice
      FROM orders WHERE o_orderstatus = 'F')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def b151_materialized_view(spark: SparkSession, sf: str) -> DataFrame:
    """B151 — materialized view with INCREMENTAL refresh (beyond-
    reference; the reference catalog carries only plain views,
    proto/objects.proto:79-85): CREATE MATERIALIZED VIEW persists an
    aggregation over orders with its refresh watermark; an append to
    the source then REFRESH consumes ONLY the change feed since that
    watermark (O(changed files), engine.refresh_materialized_view) and
    merges the delta aggregate into the stored aggregate-sized result —
    the refresh is asserted to take the incremental lane, so the
    driver-checked numbers are the MERGED ones, never a silent full
    recompute. The oracle reproduces the post-refresh state as a pure
    SELECT over source ∪ appended rows. SUM accumulates in exact
    DECIMAL inside the MV (double only at the output edge)."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    if eng.catalog.table_exists(txn, "ns1", "mv_rev"):
        eng.sql("DROP MATERIALIZED VIEW ns1.mv_rev")
    if eng.catalog.table_exists(txn, "ns1", "orders_mvsrc"):
        eng.sql("DROP TABLE ns1.orders_mvsrc")
    eng.write_table(load(spark, sf, "orders"), "ns1.orders_mvsrc")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_rev AS "
            "SELECT o_orderpriority, COUNT(*) AS n_orders, "
            "SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec, "
            "MAX(o_totalprice) AS max_price "
            "FROM ns1.orders_mvsrc GROUP BY o_orderpriority")
    eng.sql("INSERT INTO ns1.orders_mvsrc "
            "SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, "
            "o_orderstatus, o_totalprice + 0.5 AS o_totalprice, "
            "o_orderdate, o_orderpriority "
            "FROM ns1.orders_mvsrc WHERE o_orderstatus = 'F'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_rev").collect()[0]
    if rep.mode != "incremental":    # the lane IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT o_orderpriority, n_orders, "
        "CAST(rev_dec AS DOUBLE) AS revenue, max_price "
        "FROM ns1.mv_rev ORDER BY o_orderpriority")


# --- B151b AVG materialized view incremental refresh (r13) --------------------

@query("b151b_mv_avg_refresh", oracle="""
SELECT o_orderpriority,
       AVG(o_totalprice) AS avg_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
FROM (SELECT o_orderpriority, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderpriority, o_totalprice + 0.25 AS o_totalprice
      FROM orders WHERE o_orderstatus = 'O')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""")
def b151b_mv_avg_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151b — AVG on the MV INCREMENTAL lane (VERDICT r12 #3): AVG is
    not self-maintainable but decomposes exactly — the materialization
    stores hidden SUM/COUNT companion columns (inside the MV's parquet
    files, outside the declared schema) and the refresh merge
    recombines merged_sum/merged_cnt (engine._mv_companions /
    _mv_merge). The refresh is ASSERTED incremental, so the
    driver-checked avg values are the merged ones — companions adding
    across the watermark — never a silent full recompute. Oracle
    reproduces the post-refresh state as a pure SELECT over
    source ∪ appended rows."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    if eng.catalog.table_exists(txn, "ns1", "mv_avg"):
        eng.sql("DROP MATERIALIZED VIEW ns1.mv_avg")
    if eng.catalog.table_exists(txn, "ns1", "orders_avgsrc"):
        eng.sql("DROP TABLE ns1.orders_avgsrc")
    eng.write_table(load(spark, sf, "orders"), "ns1.orders_avgsrc")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_avg AS "
            "SELECT o_orderpriority, AVG(o_totalprice) AS avg_price, "
            "COUNT(*) AS n_orders, MIN(o_totalprice) AS min_price "
            "FROM ns1.orders_avgsrc GROUP BY o_orderpriority")
    eng.sql("INSERT INTO ns1.orders_avgsrc "
            "SELECT o_orderkey + 20000000 AS o_orderkey, o_custkey, "
            "o_orderstatus, o_totalprice + 0.25 AS o_totalprice, "
            "o_orderdate, o_orderpriority "
            "FROM ns1.orders_avgsrc WHERE o_orderstatus = 'O'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_avg").collect()[0]
    if rep.mode != "incremental":    # the lane IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT o_orderpriority, avg_price, n_orders, "
        "CAST(min_price AS DOUBLE) AS min_price "
        "FROM ns1.mv_avg ORDER BY o_orderpriority")


# --- B151d MV noop / FULL lanes driver gate (r13) -----------------------------

@query("b151d_mv_lanes", oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""")
def b151d_mv_lanes(spark: SparkSession, sf: str) -> DataFrame:
    """B151d — the MV NOOP and FULL lanes, driver-gated (b151/b151b
    gate the incremental lane): a refresh with no source change must
    probe 'noop' AND COMMIT NOTHING (stamping a watermark on the noop
    path would advance the catalog version and re-probe forever —
    memory blind-spot #1); REFRESH ... FULL is the user override that
    recomputes unconditionally. Both lanes asserted; the returned rows
    are the post-FULL materialization, oracle-checked against a plain
    aggregate over the unchanged source."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    if eng.catalog.table_exists(txn, "ns1", "mv_lanes"):
        eng.sql("DROP MATERIALIZED VIEW ns1.mv_lanes")
    if eng.catalog.table_exists(txn, "ns1", "orders_lanesrc"):
        eng.sql("DROP TABLE ns1.orders_lanesrc")
    eng.write_table(load(spark, sf, "orders"), "ns1.orders_lanesrc")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_lanes AS "
            "SELECT o_orderstatus, COUNT(*) AS n_orders, "
            "MAX(o_totalprice) AS max_price "
            "FROM ns1.orders_lanesrc GROUP BY o_orderstatus")
    ver = eng.catalog.history()[0]["version"]
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_lanes").collect()[0]
    if (rep.mode, rep.delta_rows) != ("noop", 0):
        raise AssertionError(f"expected noop refresh, got {rep}")
    if eng.catalog.history()[0]["version"] != ver:
        raise AssertionError("noop refresh committed a version")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_lanes FULL") \
        .collect()[0]
    if rep.mode != "full":
        raise AssertionError(f"expected full refresh, got {rep}")
    return eng.sql(
        "SELECT o_orderstatus, n_orders, "
        "CAST(max_price AS DOUBLE) AS max_price "
        "FROM ns1.mv_lanes ORDER BY o_orderstatus")


# --- B151c multi-source UNION ALL materialized view (r13) ---------------------

@query("b151c_mv_union_refresh", oracle="""
WITH store AS (
  SELECT o_orderpriority AS pri, o_totalprice AS amt FROM orders
), web0 AS (
  SELECT o_orderpriority AS pri, o_totalprice + 1.0 AS amt
  FROM orders WHERE o_orderstatus = 'O'
), web AS (
  SELECT pri, amt FROM web0
  UNION ALL
  SELECT pri, amt + 0.5 AS amt FROM web0 WHERE pri = '1-URGENT'
)
SELECT pri,
       CAST(COUNT(*) AS BIGINT) AS n_sales,
       CAST(SUM(CAST(amt AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       AVG(amt) AS avg_amt
FROM (SELECT pri, amt FROM store
      UNION ALL
      SELECT pri, amt FROM web WHERE amt > 1000)
GROUP BY pri
ORDER BY pri
""")
def b151c_mv_union_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151c — MULTI-SOURCE incremental refresh (VERDICT r12 #4): an
    aggregation over a UNION ALL of projection/filter branches over TWO
    source tables (the channel-report shape, cf. b126) refreshes
    O(delta) PER SOURCE — an append to one channel consumes only that
    source's change feed through ITS branch (engine._mv_plan's union
    lane / _mv_apply_query); the unchanged channel contributes nothing. The
    refresh is ASSERTED incremental; AVG rides its SUM/COUNT companions
    and SUM accumulates in exact DECIMAL. The oracle reproduces the
    post-refresh state as a pure SELECT over both channels ∪ the
    appended rows."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_channels", "sales_store", "sales_web"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    o = load(spark, sf, "orders")
    eng.write_table(
        o.select(F.col("o_orderpriority").alias("pri"),
                 F.col("o_totalprice").alias("amt")), "ns1.sales_store")
    eng.write_table(
        o.filter("o_orderstatus = 'O'")
        .select(F.col("o_orderpriority").alias("pri"),
                (F.col("o_totalprice") + 1.0).alias("amt")),
        "ns1.sales_web")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_channels AS "
            "SELECT pri, COUNT(*) AS n_sales, "
            "SUM(CAST(amt AS DECIMAL(25,6))) AS rev_dec, "
            "AVG(amt) AS avg_amt FROM "
            "(SELECT pri, amt FROM ns1.sales_store "
            "UNION ALL "
            "SELECT pri, amt FROM ns1.sales_web WHERE amt > 1000) u "
            "GROUP BY pri")
    eng.sql("INSERT INTO ns1.sales_web "
            "SELECT pri, amt + 0.5 AS amt FROM ns1.sales_web "
            "WHERE pri = '1-URGENT'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_channels") \
        .collect()[0]
    if rep.mode != "incremental":    # the per-source lane IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT pri, n_sales, CAST(rev_dec AS DOUBLE) AS revenue, "
        "avg_amt FROM ns1.mv_channels ORDER BY pri")


# --- B151e broadcast-dim JOIN materialized view (r14) --------------------------

@query("b151e_mv_join_refresh", oracle="""
WITH base AS (
  SELECT o_orderpriority AS pri, o_totalprice AS amt,
         o_orderstatus AS st FROM orders
), f AS (
  SELECT pri, amt FROM base
  UNION ALL
  SELECT pri, amt + 0.75 AS amt FROM base WHERE st = 'F'
), d AS (
  SELECT DISTINCT pri,
         CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'hot'
              ELSE 'std' END AS band
  FROM base
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(amt AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       CAST(AVG(CAST(amt AS DECIMAL(25,6))) AS DOUBLE) AS avg_amt
FROM f JOIN d ON f.pri = d.pri
GROUP BY band
ORDER BY band
""")
def b151e_mv_join_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151e — the fact-JOIN-small-dim MV shape on the INCREMENTAL lane
    (VERDICT r13 #1, engine._mv_plan's join lane): the most common
    dashboard MV after plain GROUP BY — ``fact JOIN dim GROUP BY
    dim.attr``.
    Under an append-only FACT delta with an UNCHANGED dim, the refresh
    consumes ONLY the fact's change feed and joins it to the dim at the
    pinned version — exact for inner joins because (F ∪ ΔF) ⋈ D =
    (F ⋈ D) ∪ (ΔF ⋈ D) — then merges with the standard group-key
    machinery. The refresh is ASSERTED incremental, so the
    driver-checked numbers are the delta-joined merged ones; SUM and
    AVG ride exact DECIMAL companions. The oracle reproduces the
    post-refresh state as a pure SELECT over fact ∪ appended rows
    joined to the same dim expression."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_bands", "ord_fact", "ord_dim"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    o = load(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("amt"),
        F.col("o_orderstatus").alias("st"))
    eng.write_table(o, "ns1.ord_fact")
    eng.write_table(
        o.select("pri").distinct().withColumn(
            "band", F.when(F.col("pri").isin("1-URGENT", "2-HIGH"),
                           "hot").otherwise("std")), "ns1.ord_dim")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_bands AS "
            "SELECT d.band AS band, COUNT(*) AS n_orders, "
            "SUM(CAST(f.amt AS DECIMAL(25,6))) AS rev_dec, "
            "AVG(CAST(f.amt AS DECIMAL(25,6))) AS avg_dec "
            "FROM ns1.ord_fact f JOIN ns1.ord_dim d ON f.pri = d.pri "
            "GROUP BY d.band")
    eng.sql("INSERT INTO ns1.ord_fact "
            "SELECT pri, amt + 0.75 AS amt, st FROM ns1.ord_fact "
            "WHERE st = 'F'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_bands").collect()[0]
    if rep.mode != "incremental":    # the join lane IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT band, n_orders, CAST(rev_dec AS DOUBLE) AS revenue, "
        "CAST(avg_dec AS DOUBLE) AS avg_amt "
        "FROM ns1.mv_bands ORDER BY band")


# --- B151f retraction (DELETE-subtracting) materialized view (r14) -------------

@query("b151f_mv_retraction_refresh", oracle="""
SELECT o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       CAST(AVG(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS avg_amt
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY o_orderpriority
ORDER BY pri
""")
def b151f_mv_retraction_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151f — the MV RETRACTION lane (VERDICT r13 #2): a DELETE on the
    source refreshes O(changed files) with the deleted rows SUBTRACTED
    through the signed change feed — SUM/COUNT are exactly subtractable
    and AVG rides its SUM/COUNT companions; only MIN/MAX plans still
    downgrade to full (pinned by pytest). The refresh is ASSERTED
    incremental after a bulk DELETE, so the driver-checked numbers are
    the subtracted ones, never a silent full recompute; a hidden
    per-group row count drops groups whose every row was deleted. SUM
    and AVG accumulate in exact DECIMAL so the subtraction is exact.
    The oracle reproduces the post-delete state as a plain aggregate
    over the surviving rows."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    if eng.catalog.table_exists(txn, "ns1", "mv_retr"):
        eng.sql("DROP MATERIALIZED VIEW ns1.mv_retr")
    if eng.catalog.table_exists(txn, "ns1", "orders_delsrc"):
        eng.sql("DROP TABLE ns1.orders_delsrc")
    eng.write_table(load(spark, sf, "orders"), "ns1.orders_delsrc")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_retr AS "
            "SELECT o_orderpriority, COUNT(*) AS n_orders, "
            "SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec, "
            "AVG(CAST(o_totalprice AS DECIMAL(25,6))) AS avg_dec "
            "FROM ns1.orders_delsrc GROUP BY o_orderpriority")
    eng.sql("DELETE FROM ns1.orders_delsrc WHERE o_orderstatus = 'F'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_retr").collect()[0]
    if rep.mode != "incremental" or rep.delta_rows == 0:
        # the retraction lane IS the operator: deletes must consume the
        # change feed, not trigger a recompute
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT o_orderpriority AS pri, n_orders, "
        "CAST(rev_dec AS DOUBLE) AS revenue, "
        "CAST(avg_dec AS DOUBLE) AS avg_amt "
        "FROM ns1.mv_retr ORDER BY pri")


# --- B151g LEFT-JOIN (fact-preserving) materialized view (r14) ------------------

@query("b151g_mv_left_join_refresh", oracle="""
WITH base AS (
  SELECT o_orderpriority AS pri, o_totalprice AS amt,
         o_orderstatus AS st FROM orders
), f AS (
  SELECT pri, amt FROM base
  UNION ALL
  SELECT pri, amt + 0.5 AS amt FROM base WHERE st = 'P'
), d AS (
  SELECT DISTINCT pri,
         CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'hot'
              ELSE 'std' END AS band
  FROM base
  WHERE pri <> '5-LOW'
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(amt AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM f LEFT JOIN d ON f.pri = d.pri
GROUP BY band
ORDER BY band NULLS FIRST
""")
def b151g_mv_left_join_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151g — the LEFT JOIN MV shape on the INCREMENTAL lane (r14,
    extends b151e): LEFT joins are fact-PRESERVING, so a fact-side
    append is additive exactly like INNER — (F ∪ ΔF) ⟕ D =
    (F ⟕ D) ∪ (ΔF ⟕ D) — including appended rows with NO dim match,
    which merge into the NULL-padded group (eqNullSafe group-key
    merge). The dim here deliberately omits one priority so the
    NULL group is ALWAYS populated and driver-checked. Only the
    preserved side may be the delta (a dim append would retract
    NULL-padded rows — pinned to full by pytest). The refresh is
    ASSERTED incremental; the oracle reproduces the post-refresh state
    over fact ∪ appended rows LEFT-joined to the same dim expression."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_lbands", "ord_lfact", "ord_ldim"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    o = load(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("amt"),
        F.col("o_orderstatus").alias("st"))
    eng.write_table(o, "ns1.ord_lfact")
    eng.write_table(
        o.filter(F.col("pri") != "5-LOW").select("pri").distinct()
        .withColumn("band", F.when(F.col("pri").isin(
            "1-URGENT", "2-HIGH"), "hot").otherwise("std")),
        "ns1.ord_ldim")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_lbands AS "
            "SELECT d.band AS band, COUNT(*) AS n_orders, "
            "SUM(CAST(f.amt AS DECIMAL(25,6))) AS rev_dec "
            "FROM ns1.ord_lfact f LEFT JOIN ns1.ord_ldim d "
            "ON f.pri = d.pri GROUP BY d.band")
    eng.sql("INSERT INTO ns1.ord_lfact "
            "SELECT pri, amt + 0.5 AS amt, st FROM ns1.ord_lfact "
            "WHERE st = 'P'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_lbands").collect()[0]
    if rep.mode != "incremental":    # the LEFT-join lane IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT band, n_orders, CAST(rev_dec AS DOUBLE) AS revenue "
        "FROM ns1.mv_lbands ORDER BY band NULLS FIRST")


# --- B151h CASCADE refresh of stacked materialized views (r14) ------------------

@query("b151h_mv_cascade_refresh", oracle="""
WITH src AS (
  SELECT o_orderpriority AS pri, o_totalprice AS amt,
         o_orderstatus AS st FROM orders
  UNION ALL
  SELECT o_orderpriority AS pri, o_totalprice + 2.0 AS amt,
         o_orderstatus AS st FROM orders WHERE o_orderstatus = 'O'
), l1 AS (
  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(amt AS DECIMAL(25,6))) AS rev_dec
  FROM src GROUP BY pri
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pri,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(rev_dec) AS DOUBLE) AS revenue
FROM l1
""")
def b151h_mv_cascade_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151h — CASCADE refresh of STACKED materialized views (r14):
    mv_l2 aggregates mv_l1 which aggregates the source; after a source
    append, ONE ``REFRESH … CASCADE`` refreshes leaves-first — BOTH
    lanes are asserted incremental (mv_l2 consumes mv_l1's
    COW-overwrite change feed, which exceptAll-cancellation nets down
    to only the CHANGED groups — O(changed groups), never O(mv_l1)).
    The driver-checked numbers are the twice-merged ones. The oracle
    reproduces the final state as a two-level aggregate over
    source ∪ appended rows."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_l2", "mv_l1", "ord_csrc"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    o = load(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("amt"),
        F.col("o_orderstatus").alias("st"))
    eng.write_table(o, "ns1.ord_csrc")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_l1 AS "
            "SELECT pri, COUNT(*) AS n_orders, "
            "SUM(CAST(amt AS DECIMAL(25,6))) AS rev_dec "
            "FROM ns1.ord_csrc GROUP BY pri")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_l2 AS "
            "SELECT COUNT(*) AS n_pri, SUM(n_orders) AS n_orders, "
            "SUM(rev_dec) AS rev_dec FROM ns1.mv_l1")
    eng.sql("INSERT INTO ns1.ord_csrc "
            "SELECT pri, amt + 2.0 AS amt, st FROM ns1.ord_csrc "
            "WHERE st = 'O'")
    reps = {r.view: r.mode for r in eng.sql(
        "REFRESH MATERIALIZED VIEW ns1.mv_l2 CASCADE").collect()}
    if reps != {"ns1.mv_l1": "incremental",
                "ns1.mv_l2": "incremental"}:
        raise AssertionError(
            f"expected both cascade lanes incremental, got {reps}")
    return eng.sql(
        "SELECT n_pri, n_orders, CAST(rev_dec AS DOUBLE) AS revenue "
        "FROM ns1.mv_l2")


# --- B151i expression-GROUP-BY-key materialized view (r15) ---------------------

@query("b151i_mv_expr_key_refresh", oracle="""
WITH src AS (
  SELECT ts, value FROM events
  UNION ALL
  SELECT ts + INTERVAL 1 DAY AS ts, value + 0.25 AS value
  FROM events WHERE event_type = 'click'
)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM src GROUP BY CAST(date_trunc('day', ts) AS DATE)
ORDER BY day
""")
def b151i_mv_expr_key_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151i — the EXPRESSION GROUP BY key MV shape on the incremental
    lane (VERDICT r14 #2, engine._mv_plan / _mv_group_select):
    ``GROUP BY date_trunc('day', ts)`` is THE dashboard bucket; the MV's key
    column stores the expression's VALUE (under its alias) and the
    refresh re-emits the SAME expression over the change feed, so a
    daily-append fact refreshes O(one day's files) — the
    continuous-aggregate shape of B35 made incremental. The session-tz
    stamp still force-fulls on zone drift (date_trunc is
    zone-dependent). The refresh is ASSERTED incremental; the oracle
    reproduces the post-refresh state over events ∪ the appended
    day-shifted click rows."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_daily", "ev_dsrc"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    eng.write_table(
        load(spark, sf, "events").select("ts", "value",
                                         F.col("event_type").alias("et")),
        "ns1.ev_dsrc")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_daily AS "
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "COUNT(*) AS n_events, "
            "SUM(CAST(value AS DECIMAL(25,6))) AS val_dec "
            "FROM ns1.ev_dsrc "
            "GROUP BY CAST(date_trunc('day', ts) AS DATE)")
    eng.sql("INSERT INTO ns1.ev_dsrc "
            "SELECT ts + INTERVAL 1 DAY AS ts, value + 0.25 AS value, "
            "et FROM ns1.ev_dsrc WHERE et = 'click'")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_daily").collect()[0]
    if rep.mode != "incremental":    # the expression-key lane IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT day, n_events, CAST(val_dec AS DOUBLE) AS total_value "
        "FROM ns1.mv_daily ORDER BY day")


# --- B151j HAVING materialized view (r15) --------------------------------------

@query("b151j_mv_having_refresh", oracle="""
WITH src AS (
  SELECT o_orderpriority AS pri, o_totalprice - 151200.0 AS amt,
         o_orderstatus AS st FROM orders
), post AS (
  SELECT pri, amt FROM src WHERE st <> 'F'
  UNION ALL
  SELECT pri, amt + 10.0 AS amt FROM src WHERE st = 'O'
), agg AS (
  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(amt AS DECIMAL(25,6))) AS rev_dec
  FROM post GROUP BY pri
)
SELECT pri, n_orders, CAST(rev_dec AS DOUBLE) AS net_amt
FROM agg WHERE rev_dec > 0 ORDER BY pri
""")
def b151j_mv_having_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151j — the HAVING MV lane (VERDICT r14 #5,
    engine._mv_having_out): the stored table keeps ALL groups (full
    state — SUM/COUNT companions + hidden row count), and the HAVING
    predicate — rewritten over the OUTPUT columns — applies at the read
    chokepoint, so groups cross the visibility boundary in EITHER
    direction under the INCREMENTAL lane (the standard MV trick; the
    crafted crossing pin lives in tests/test_materialized_views.py).
    Amounts are centered (−151200) so per-group signed sums sit near
    zero and the ``> 0`` gate is a live boundary at any SF. Both the
    append AND the delete refresh are ASSERTED incremental; the oracle
    recomputes the post-state aggregate WITH the HAVING from scratch."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_hv", "h_src"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    eng.write_table(
        load(spark, sf, "orders").select(
            F.col("o_orderpriority").alias("pri"),
            (F.col("o_totalprice") - 151200.0).alias("amt"),
            F.col("o_orderstatus").alias("st")),
        "ns1.h_src")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_hv AS "
            "SELECT pri, COUNT(*) AS n_orders, "
            "SUM(CAST(amt AS DECIMAL(25,6))) AS rev_dec "
            "FROM ns1.h_src GROUP BY pri "
            "HAVING SUM(CAST(amt AS DECIMAL(25,6))) > 0")
    eng.sql("INSERT INTO ns1.h_src "
            "SELECT pri, amt + 10.0 AS amt, st FROM ns1.h_src "
            "WHERE st = 'O'")
    rep1 = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_hv").collect()[0]
    eng.sql("DELETE FROM ns1.h_src WHERE st = 'F'")
    rep2 = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_hv").collect()[0]
    if rep1.mode != "incremental" or rep2.mode != "incremental":
        # the HAVING lane IS the operator — appends AND retractions
        # must both ride the signed feed, never a silent recompute
        raise AssertionError(f"expected incremental, got {rep1} {rep2}")
    return eng.sql(
        "SELECT pri, n_orders, CAST(rev_dec AS DOUBLE) AS net_amt "
        "FROM ns1.mv_hv ORDER BY pri")


# --- B151k both-sides-changed JOIN materialized view (r15) ---------------------

@query("b151k_mv_both_sides_refresh", oracle="""
WITH base AS (
  SELECT o_orderpriority AS pri, o_totalprice AS amt,
         o_orderstatus AS st FROM orders
), f AS (
  SELECT pri, amt FROM base
  UNION ALL
  SELECT 'X-NEW' AS pri, amt + 1.5 AS amt FROM base WHERE st = 'F'
), d AS (
  SELECT DISTINCT pri,
         CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'hot'
              ELSE 'std' END AS band
  FROM base
  UNION ALL
  SELECT 'X-NEW' AS pri, 'new' AS band
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(amt AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM f JOIN d ON f.pri = d.pri
GROUP BY band
ORDER BY band
""")
def b151k_mv_both_sides_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """B151k — BOTH join sides changed in ONE refresh window (VERDICT
    r14 #3): the INNER join is multilinear, so the refresh telescopes
    into one term per changed slot — ΔF joins the dim at the PRE
    (watermark) version, then ΔD joins the fact at the POST version,
    which folds the ΔF ⋈ ΔD cross term exactly once. The fixture makes
    that cross term LIVE: the appended fact rows carry a brand-new
    priority that matches ONLY the appended dim row, so a one-sided
    delta would miss them entirely and a double-counting expansion
    would count them twice — the driver-checked numbers pin both
    failure modes. The refresh is ASSERTED incremental; the oracle
    reproduces the post state over (fact ∪ ΔF) ⋈ (dim ∪ ΔD)."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_kbands", "ord_kfact", "ord_kdim"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    o = load(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("amt"),
        F.col("o_orderstatus").alias("st"))
    eng.write_table(o, "ns1.ord_kfact")
    eng.write_table(
        o.select("pri").distinct().withColumn(
            "band", F.when(F.col("pri").isin("1-URGENT", "2-HIGH"),
                           "hot").otherwise("std")), "ns1.ord_kdim")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_kbands AS "
            "SELECT d.band AS band, COUNT(*) AS n_orders, "
            "SUM(CAST(f.amt AS DECIMAL(25,6))) AS rev_dec "
            "FROM ns1.ord_kfact f JOIN ns1.ord_kdim d ON f.pri = d.pri "
            "GROUP BY d.band")
    # BOTH sides move before ONE refresh
    eng.sql("INSERT INTO ns1.ord_kfact "
            "SELECT 'X-NEW' AS pri, amt + 1.5 AS amt, st "
            "FROM ns1.ord_kfact WHERE st = 'F'")
    eng.sql("INSERT INTO ns1.ord_kdim VALUES ('X-NEW', 'new')")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_kbands").collect()[0]
    if rep.mode != "incremental":    # the two-sided expansion IS the operator
        raise AssertionError(f"expected incremental refresh, got {rep}")
    return eng.sql(
        "SELECT band, n_orders, CAST(rev_dec AS DOUBLE) AS revenue "
        "FROM ns1.mv_kbands ORDER BY band")


# --- B151l MIN/MAX retraction via group-scoped recompute (r15) -----------------

@query("b151l_mv_minmax_retraction", oracle="""
SELECT o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS mn_amt,
       CAST(MAX(o_totalprice) AS DOUBLE) AS mx_amt
FROM orders
WHERE o_totalprice <= 400000.0
GROUP BY o_orderpriority
ORDER BY pri
""")
def b151l_mv_minmax_retraction(spark: SparkSession, sf: str) -> DataFrame:
    """B151l — MIN/MAX retraction via GROUP-SCOPED recompute (VERDICT
    r14 #4, engine._mv_groupwise_recompute): a DELETE that removes the
    extreme rows of a MIN/MAX MV used to force a FULL recompute; now
    only the TOUCHED groups re-aggregate, under a ``pri IN (…)``
    literal predicate pushed to the source scan (stats/partition-
    prunable — O(matching files) at a partitioned 100 TB fact), and
    splice over the stored rows. The bulk DELETE here removes the
    top-price tail of EVERY priority, so every group's MAX is
    un-extremed and the runner-up must come back exactly. The refresh
    is ASSERTED incremental (never a silent full recompute); the
    oracle reproduces the post-delete aggregate over the surviving
    rows."""
    eng = _dml_engine(spark, sf)
    txn = eng.catalog.begin(read_only=True)
    for t in ("mv_mm", "mm_src"):
        if eng.catalog.table_exists(txn, "ns1", t):
            kind = "MATERIALIZED VIEW" if t.startswith("mv_") else "TABLE"
            eng.sql(f"DROP {kind} ns1.{t}")
    eng.write_table(
        load(spark, sf, "orders").select(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_totalprice").alias("amt")),
        "ns1.mm_src")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv_mm AS "
            "SELECT pri, COUNT(*) AS n_orders, MIN(amt) AS mn_amt, "
            "MAX(amt) AS mx_amt FROM ns1.mm_src GROUP BY pri")
    eng.sql("DELETE FROM ns1.mm_src WHERE amt > 400000.0")
    rep = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv_mm").collect()[0]
    if rep.mode != "incremental" or rep.delta_rows == 0:
        # the group-scoped lane IS the operator: un-extreming deletes
        # must NOT silently recompute the whole view
        raise AssertionError(f"expected group-scoped refresh, got {rep}")
    return eng.sql(
        "SELECT pri, n_orders, CAST(mn_amt AS DOUBLE) AS mn_amt, "
        "CAST(mx_amt AS DOUBLE) AS mx_amt "
        "FROM ns1.mv_mm ORDER BY pri")
