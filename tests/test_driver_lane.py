"""The driver lane of the write path, and stats pruning over its files.

A frame that optimizes to a LocalRelation (INSERT ... VALUES, pandas-built
inputs, the engine's local frames) is written by the driver with pyarrow
instead of a Spark write job. Each equivalence test writes the same frame
through both lanes (the Spark lane forced by stubbing the driver lane
out) and compares what the catalog records: file count, per-file row
counts in file order, ``DataFile.stats`` and the rows ``read_table``
returns.

The pruning tests pin that ``_candidate_files`` keys each comparison on
the column's declared type: a DML statement never misses a row Spark's
predicate matches.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest

from olympia_spark import driver_write
from olympia_spark.catalog.errors import CheckConstraintError
from olympia_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("driver_lane") / "wh"))
    eng.sql("CREATE NAMESPACE ns")
    return eng


def _files(engine, name):
    """(rows, stats) per tracked file, in commit and part-file order."""
    ns, tbl = name.split(".")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), ns, tbl)
    return [(f.num_rows, f.stats) for f in tdef.data_files]


def _dictionary_encoded(engine, name):
    """Per tracked file, the leaf columns stored with a dictionary."""
    import pyarrow.parquet as pq
    out = []
    for path in _paths(engine, name):
        with engine.catalog.storage.open_ranged(path) as f:
            md = pq.ParquetFile(f).metadata
        out.append([c.path_in_schema for g in range(md.num_row_groups)
                    for c in map(md.row_group(g).column,
                                 range(md.num_columns))
                    if c.dictionary_page_offset is not None])
    return out


def _rows(engine, name):
    return sorted(map(repr, engine.read_table(name).collect()))


def _rows_per_file(engine, name):
    """Per tracked file, its rows in file order, as Spark reads them."""
    return [list(map(repr, engine.spark.read.parquet(
        engine._abs(p)).collect())) for p in _paths(engine, name)]


def _same_through_both_lanes(engine, lane, name, write, lanes=None):
    """Run ``write(table)`` into ``<name>_d`` on the driver lane and into
    ``<name>_s`` on the Spark lane; assert the two tables agree. The
    writes of ``<name>_d`` take ``lanes`` (default: all ``"local"``)."""
    with lane() as taken:
        write(f"{name}_d")
    assert taken and taken == (lanes or ["local"] * len(taken)), taken
    with lane(spark_lane=True):
        write(f"{name}_s")
    driver, spark_files = _files(engine, f"{name}_d"), _files(
        engine, f"{name}_s")
    assert driver == spark_files
    assert _rows(engine, f"{name}_d") == _rows(engine, f"{name}_s")
    assert _rows_per_file(engine, f"{name}_d") == _rows_per_file(
        engine, f"{name}_s")
    assert _dictionary_encoded(engine, f"{name}_d") == _dictionary_encoded(
        engine, f"{name}_s")
    return driver


MATRIX = """SELECT * FROM VALUES
  (1, CAST(1 AS TINYINT), CAST(2 AS SMALLINT), 3, CAST(4 AS BIGINT),
   CAST('NaN' AS DOUBLE), CAST(1.5 AS FLOAT), CAST(9.75 AS DECIMAL(30,2)),
   'abc', X'0102', true, DATE'1500-01-01', TIMESTAMP'2024-01-01 10:00:00',
   array(1, 2), map('a', 1), named_struct('x', 1, 'y', 'z')),
  (2, CAST(5 AS TINYINT), CAST(6 AS SMALLINT), 7, CAST(8 AS BIGINT),
   CAST(2.0 AS DOUBLE), CAST(-1.5 AS FLOAT), CAST(10.00 AS DECIMAL(30,2)),
   'b', X'03', false, DATE'2024-01-09', TIMESTAMP'1400-01-02 10:00:00',
   array(3), map('b', 2), named_struct('x', 2, 'y', NULL)),
  (3, CAST(-7 AS TINYINT), NULL, -9, CAST(10 AS BIGINT),
   CAST(-1.0 AS DOUBLE), NULL, NULL, NULL, NULL, NULL, NULL, NULL,
   array(), map('c', 3), NULL),
  (4, NULL, CAST(8 AS SMALLINT), NULL, NULL, CAST('NaN' AS DOUBLE),
   CAST(0.25 AS FLOAT), CAST(-3.10 AS DECIMAL(30,2)), 'zz', X'', true,
   DATE'0001-01-01', TIMESTAMP'2024-06-01 00:00:00', NULL, NULL,
   named_struct('x', NULL, 'y', 'q')),
  (5, CAST(9 AS TINYINT), CAST(-2 AS SMALLINT), 11, CAST(-4 AS BIGINT),
   CAST(3.5 AS DOUBLE), CAST(2.5 AS FLOAT), CAST(0.01 AS DECIMAL(30,2)),
   '', X'ff', false, DATE'9999-12-31', TIMESTAMP'1970-01-01 00:00:00',
   array(4, 5, 6), map(), named_struct('x', 3, 'y', ''))
  AS t(k, i8, i16, i32, i64, dbl, flt, dec30, s, b, bo, dt, ts, arr, m, st)"""


def test_type_matrix_is_the_same_through_both_lanes(engine, spark, lane):
    files = _same_through_both_lanes(
        engine, lane, "ns.matrix",
        lambda name: engine.write_table(spark.sql(MATRIX), name))
    parallelism = engine._driver_lane_settings[1]
    assert [n for n, _s in files] == [
        (i + 1) * 5 // min(5, parallelism) - i * 5 // min(5, parallelism)
        for i in range(min(5, parallelism))]
    # a NaN leaves no stats behind on either lane
    for _n, stats in files:
        assert all(v == v for pair in stats.values() for v in pair)


def test_ntz_and_empty_frames_are_the_same_through_both_lanes(engine,
                                                              spark, lane):
    _same_through_both_lanes(
        engine, lane, "ns.ntz",
        lambda name: engine.write_table(spark.sql(
            "SELECT * FROM VALUES (1, TIMESTAMP_NTZ'2024-01-01 10:00:00'), "
            "(2, TIMESTAMP_NTZ'1500-01-02 00:00:00') AS t(k, ntz)"), name))
    files = _same_through_both_lanes(
        engine, lane, "ns.empty",
        lambda name: engine.write_table(spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS k WHERE 1 = 0"), name))
    assert files == [(0, {})]


def test_pandas_frames_take_the_lane_with_sparks_encodings(engine, spark,
                                                          lane):
    """A pandas-built frame is a LocalRelation. Each column is
    dictionary-encoded where Spark's writer keeps a dictionary (few
    distinct values) and PLAIN where it falls back (many)."""
    import numpy as np
    import pandas as pd
    n = 4_000
    frame = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(n, dtype=np.int64),
        "grp": np.arange(n) % 3,
        "flag": np.where(np.arange(n) % 2 == 0, "A", "N"),
        "note": [f"row {i}" for i in range(n)],
        "x": np.arange(n) / 7.0,
    }))
    _same_through_both_lanes(
        engine, lane, "ns.pd", lambda name: engine.write_table(frame, name))
    assert _dictionary_encoded(engine, "ns.pd_d")[0] == ["grp", "flag"]


@pytest.mark.parametrize("key, value", [
    ("spark.sql.parquet.datetimeRebaseModeInRead", "LEGACY"),
    ("spark.sql.parquet.int96TimestampConversion", "true"),
    ("spark.sql.parquet.compression.codec", "zstd"),
])
def test_sessions_the_lane_cannot_match_keep_the_spark_write(spark, key,
                                                             value):
    # a driver-lane file has no Spark version key: a LEGACY reader would
    # rebase its ancient dates, and INT96 conversion would shift its
    # timestamps, where Spark's own files are read as written
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        assert driver_write.settings(spark) is None
    finally:
        spark.conf.set(key, old)
    assert driver_write.settings(spark) is not None


def test_small_decimals_keep_the_spark_write(engine, spark, lane):
    # pyarrow cannot store DECIMAL(p <= 18) as an integer the way Spark
    # does, so the lane declines; the integer-backed stats decode
    with lane() as taken:
        engine.sql("CREATE TABLE ns.dec (k INT, p DECIMAL(10,2))")
        engine.sql("INSERT INTO ns.dec VALUES (1, 3.50), (2, -12.25)")
    assert taken == ["spark"]
    assert [r.p for r in engine.sql(
        "SELECT p FROM ns.dec ORDER BY k").collect()] == [
        Decimal("3.50"), Decimal("-12.25")]
    stats = sorted(s["p"] for _n, s in _files(engine, "ns.dec"))
    assert stats == [["-12.25", "-12.25"], ["3.50", "3.50"]]


def test_frames_spark_refuses_to_write_keep_its_error(engine, spark, lane):
    with lane() as taken, pytest.raises(Exception,
                                        match="COLUMN_ALREADY_EXISTS"):
        engine.write_table(spark.sql("SELECT 1 AS a, 2 AS A"), "ns.dup")
    assert taken == ["spark"]


def test_values_insert_writes_one_file_per_row(engine, lane):
    def insert(name):
        engine.sql(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        engine.sql(f"INSERT INTO {name} VALUES (1, 'a'), (2, 'b')")
    files = _same_through_both_lanes(engine, lane, "ns.two", insert)
    assert [n for n, _s in files] == [1, 1]


def test_values_insert_inside_begin_commit(engine, lane):
    def block(name):
        engine.sql(f"CREATE TABLE {name} (k BIGINT)")
        engine.sql("BEGIN")
        engine.sql(f"INSERT INTO {name} VALUES (1)")
        engine.sql(f"INSERT INTO {name} VALUES (2), (3)")
        engine.sql("COMMIT")
    _same_through_both_lanes(engine, lane, "ns.blk", block)
    assert [r.k for r in engine.sql(
        "SELECT k FROM ns.blk_d ORDER BY k").collect()] == [1, 2, 3]


def test_generated_and_renamed_columns(engine, lane):
    def write(name):
        engine.sql(f"CREATE TABLE {name} (k BIGINT, v BIGINT, "
                   f"g BIGINT GENERATED ALWAYS AS (v * 10))")
        engine.sql(f"ALTER TABLE {name} RENAME COLUMN k TO key")
        engine.sql(f"INSERT INTO {name} (key, v) VALUES (1, 5), (2, 7)")
    files = _same_through_both_lanes(engine, lane, "ns.gen", write)
    # stats sit under the physical (creation) name
    assert sorted(s["k"] for _n, s in files) == [[1, 1], [2, 2]]
    assert sorted((r.key, r.v, r.g) for r in engine.sql(
        "SELECT * FROM ns.gen_d").collect()) == [(1, 5, 50), (2, 7, 70)]


@pytest.mark.parametrize("spark_lane", [False, True])
def test_check_violation_leaves_table_and_disk_unchanged(engine, lane,
                                                          spark_lane):
    name = f"ns.chk_{int(spark_lane)}"
    engine.sql(f"CREATE TABLE {name} (k BIGINT, v BIGINT, "
               f"CONSTRAINT pos CHECK (v >= 0))")
    engine.sql(f"INSERT INTO {name} VALUES (1, 10)")
    before = _files(engine, name)
    data = os.path.join(engine.catalog.storage.root, "data", "ns",
                        name.split(".")[1])
    on_disk = sorted(os.listdir(data))
    with lane(spark_lane), pytest.raises(CheckConstraintError):
        engine.sql(f"INSERT INTO {name} VALUES (2, 20), (3, -1)")
    assert _files(engine, name) == before
    assert sorted(os.listdir(data)) == on_disk
    assert _rows(engine, name) == ["Row(k=1, v=10)"]


def test_spark_lane_writes_no_success_marker(engine, spark, lane):
    with lane(spark_lane=True):
        engine.write_table(spark.range(3), "ns.marker")
    data = os.path.join(engine.catalog.storage.root, "data", "ns", "marker")
    names = [n for d in os.listdir(data) for n in os.listdir(
        os.path.join(data, d))]
    assert names and not [n for n in names if "SUCCESS" in n]


def _engine_on(spark, tmp_path, plane):
    """An engine on a fresh fake object store, data plane ``plane``."""
    from olympia_spark.catalog.storage import S3Storage
    from tests.fake_s3 import FakeS3Client
    storage = S3Storage("bucket", plane, client=FakeS3Client(),
                        cache_dir=str(tmp_path / plane))
    eng = Engine(spark, storage, data_plane=plane)
    eng.sql("CREATE NAMESPACE ns")
    return eng


def test_object_store_lanes(spark, tmp_path, lane):
    """Spool lane: the driver writes into the local cache and the shared
    upload publishes. Direct lane: the driver puts the objects itself
    (Spark has no s3a filesystem here, so only the driver lane can write
    there) and the stats come from ranged footer reads."""
    spool = _engine_on(spark, tmp_path, "spool")
    ins = "INSERT INTO {} VALUES (1, 'a'), (2, NULL), (3, 'c')"
    for name, spark_lane in (("ns.d", False), ("ns.s", True)):
        spool.sql(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        with lane(spark_lane) as taken:
            spool.sql(ins.format(name))
        assert taken == ["spark" if spark_lane else "local"]
    assert _files(spool, "ns.d") == _files(spool, "ns.s")
    assert _rows(spool, "ns.d") == _rows(spool, "ns.s")
    assert {p for p in spool.catalog.storage.list("data/ns/d/")} == {
        p for p in _paths(spool, "ns.d")}

    direct = _engine_on(spark, tmp_path, "direct")
    direct.sql("CREATE TABLE ns.d (k BIGINT, v STRING)")
    with lane() as taken:
        direct.sql(ins.format("ns.d"))
    assert taken == ["local"]
    assert _files(direct, "ns.d") == _files(spool, "ns.d")
    assert sorted(direct.catalog.storage.list("data/ns/d/")) == sorted(
        _paths(direct, "ns.d"))
    assert not os.path.exists(tmp_path / "direct" / "data")


def _paths(engine, name):
    ns, tbl = name.split(".")
    return engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), ns, tbl).file_paths()


# --- one-split copy-on-write rewrites ---------------------------------------
#
# A rewrite of one file no larger than one scan split is one Spark task:
# the driver gathers its rows (one toArrow job) and writes the one file
# that task would, with no output committer.

REWRITES = {
    "delete": lambda engine, name: engine.sql(
        f"DELETE FROM {name} WHERE k = 3"),
    "update": lambda engine, name: engine.sql(
        f"UPDATE {name} SET s = 'new', dbl = dbl * 2, ts = NULL "
        f"WHERE k = 2"),
    "replace_where": lambda engine, name: engine.replace_where(
        name, engine.spark.sql(MATRIX).where("k = 4"), "k = 4"),
}


def _data_tree(engine, name):
    """Every dir and file under the table's data dir."""
    root = os.path.join(engine.catalog.storage.root, "data",
                        *name.split("."))
    return sorted(os.path.relpath(os.path.join(d, x), root)
                  for d, dirs, names in os.walk(root) for x in dirs + names)


@pytest.mark.parametrize("dml", sorted(REWRITES))
def test_rewrites_are_the_same_through_both_lanes(engine, spark, lane, dml):
    def write(name):
        engine.write_table(spark.sql(MATRIX).coalesce(1), name)
        REWRITES[dml](engine, name)
    # replace_where's inserted rows are a persisted frame: Spark writes them
    lanes = ["spark", "collected"] + ["spark"] * (dml == "replace_where")
    files = _same_through_both_lanes(engine, lane, f"ns.rw_{dml}", write,
                                     lanes)
    assert sum(n for n, _s in files) == (4 if dml == "delete" else 5)
    for arm in "sd":
        rewritten = _paths(engine, f"ns.rw_{dml}_{arm}")[0]
        assert os.path.basename(rewritten).startswith("part-00000-")
    # the driver's rewrite dir holds its one file: no committer dirs,
    # no .crc files
    listing = os.listdir(os.path.dirname(engine._abs(rewritten)))
    assert listing == [os.path.basename(rewritten)]


def test_large_var_types_are_written_as_plain_ones(engine, spark, lane):
    """With ``useLargeVarTypes`` Spark hands ``toArrow`` large strings and
    binaries, nested ones too; the rewrite still writes Spark's file."""
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        _same_through_both_lanes(
            engine, lane, "ns.large",
            lambda name: (engine.write_table(spark.sql(MATRIX).coalesce(1),
                                             name),
                          REWRITES["update"](engine, name)),
            ["spark", "collected"])
    finally:
        spark.conf.set(key, old)


def test_rewrite_lane_runs_no_spark_write(engine, spark, lane, monkeypatch):
    engine.write_table(spark.range(10).coalesce(1), "ns.nowrite")
    before = _data_tree(engine, "ns.nowrite")
    monkeypatch.setattr(type(spark.range(1)), "write", property(
        lambda df: pytest.fail("a Spark write job ran")))
    with lane() as taken:
        engine.sql("UPDATE ns.nowrite SET id = -1 WHERE id = 4")
    assert taken == ["collected"]
    (path,) = _paths(engine, "ns.nowrite")
    new_dir = os.path.relpath(os.path.dirname(path), "data/ns/nowrite")
    assert sorted(set(_data_tree(engine, "ns.nowrite")) - set(before)) == [
        new_dir, os.path.join(new_dir, os.path.basename(path))]
    assert sorted(r.id for r in engine.read_table("ns.nowrite").collect()) \
        == [-1, 0, 1, 2, 3, 5, 6, 7, 8, 9]


@pytest.mark.parametrize("spark_lane", [False, True])
def test_check_violation_in_a_rewrite_changes_nothing(engine, spark, lane,
                                                     spark_lane):
    name = f"ns.rchk_{int(spark_lane)}"
    engine.sql(f"CREATE TABLE {name} (k BIGINT, v BIGINT, "
               f"CONSTRAINT pos CHECK (v >= 0))")
    engine.write_table(spark.range(1, 11).selectExpr(
        "id AS k", "id * 10 AS v").coalesce(1), name)
    before, on_disk = _files(engine, name), _data_tree(engine, name)
    with lane(spark_lane) as taken, pytest.raises(CheckConstraintError):
        engine.sql(f"UPDATE {name} SET v = -1 WHERE k = 3")
    assert taken == ["spark" if spark_lane else "collected"]
    assert _files(engine, name) == before
    assert _data_tree(engine, name) == on_disk
    assert len(_rows(engine, name)) == 10


@pytest.mark.parametrize("key", ["spark.sql.files.openCostInBytes",
                                 "spark.sql.files.maxPartitionBytes"])
def test_a_file_above_one_split_keeps_the_spark_write(engine, spark, lane,
                                                      key):
    name = f"ns.split_{key.rsplit('.', 1)[1].lower()}"
    engine.write_table(spark.range(100).coalesce(1), name)
    old = spark.conf.get(key)

    def rewrite_at_limit(over: int):
        (size,) = [f.size_bytes for f in engine.catalog.describe_table(
            engine.catalog.begin(read_only=True), *name.split(".")
        ).data_files]
        spark.conf.set(key, str(size - over))
        with lane() as taken:
            engine.sql(f"UPDATE {name} SET id = id + 1000 WHERE id = 7")
        return taken
    try:
        assert rewrite_at_limit(over=0) == ["collected"]
        assert rewrite_at_limit(over=1) == ["spark"]
    finally:
        spark.conf.set(key, old)
    assert len(_rows(engine, name)) == 100


def test_partitioned_bucketed_and_subquery_rewrites_keep_the_spark_write(
        engine, spark, lane):
    engine.sql("CREATE TABLE ns.rp (k BIGINT, p STRING) PARTITIONED BY (p)")
    engine.write_table(spark.range(1, 11).selectExpr(
        "id AS k", "'a' AS p").coalesce(1), "ns.rp")
    engine.sql("CREATE TABLE ns.rb (k BIGINT, v BIGINT) "
               "CLUSTERED BY (k) INTO 4 BUCKETS")
    engine.write_table(spark.createDataFrame([(2, 20)], "k BIGINT, v BIGINT"),
                       "ns.rb")
    engine.write_table(spark.range(1, 11).selectExpr("id AS k").coalesce(1),
                       "ns.rq")
    with lane() as taken:
        engine.sql("DELETE FROM ns.rp WHERE k = 3")
        engine.sql("UPDATE ns.rb SET v = 0 WHERE k = 2")
        # a subquery plans a join: its shuffle spreads the rows over tasks
        engine.sql("DELETE FROM ns.rq WHERE k IN (SELECT k FROM ns.rp "
                   "WHERE k < 3)")
    assert taken == ["spark"] * 3
    assert sorted(r.k for r in engine.read_table("ns.rq").collect()) == \
        list(range(3, 11))


def test_object_store_rewrites(spark, tmp_path, lane):
    """Spool lane: the driver writes the rewrite into the local cache and
    the shared upload publishes it. Direct lane: the driver puts the
    object itself; Spark's scans read copies the test fetches, since
    there is no s3a filesystem here."""
    spool = _engine_on(spark, tmp_path, "spool")
    direct = _engine_on(spark, tmp_path, "direct")
    direct._scan_uris = direct._ensure_local
    dml = ("UPDATE {} SET v = 'x' WHERE k = 2", "DELETE FROM {} WHERE k = 3")
    for eng, name, spark_lane in ((spool, "ns.d", False),
                                  (spool, "ns.s", True),
                                  (direct, "ns.d", False)):
        eng.sql(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        eng.sql(f"INSERT INTO {name} VALUES (1, 'a'), (2, NULL), (3, 'c'), "
                f"(4, 'd'), (5, NULL), (6, 'f')")
        written = set(_paths(eng, name))
        with lane(spark_lane) as taken:
            for stmt in dml:
                eng.sql(stmt.format(name))
                written |= set(_paths(eng, name))
        assert taken == ["spark" if spark_lane else "collected"] * 2
        prefix = f"data/{name.replace('.', '/')}/"
        assert set(eng.catalog.storage.list(prefix)) == written
    assert _files(spool, "ns.d") == _files(spool, "ns.s")
    assert _files(direct, "ns.d") == _files(spool, "ns.d")
    assert _rows(direct, "ns.d") == _rows(spool, "ns.s") == [
        "Row(k=1, v='a')", "Row(k=2, v='x')", "Row(k=4, v='d')",
        "Row(k=5, v=None)", "Row(k=6, v='f')"]


# --- stats pruning keyed on the declared type --------------------------------


def _one_file(engine, spark, name, ddl, rows_sql):
    engine.sql(f"CREATE TABLE {name} ({ddl})")
    engine.write_table(spark.sql(rows_sql).coalesce(1), name)
    assert len(_files(engine, name)) == 1


def test_wide_decimal_delete_compares_numbers(engine, spark):
    _one_file(engine, spark, "ns.wide", "k INT, p DECIMAL(30,2)",
              "SELECT * FROM VALUES (1, CAST(9.50 AS DECIMAL(30,2))), "
              "(2, CAST(9.75 AS DECIMAL(30,2))), "
              "(3, CAST(10.00 AS DECIMAL(30,2))) AS t(k, p)")
    assert _files(engine, "ns.wide")[0][1]["p"] == ["9.50", "10.00"]
    got = engine.sql("DELETE FROM ns.wide WHERE p = '9.75'").collect()
    assert got[0].rows_affected == 1
    assert [r.k for r in engine.sql(
        "SELECT k FROM ns.wide ORDER BY k").collect()] == [1, 3]


def test_noncanonical_date_literal_never_prunes(engine, spark):
    _one_file(engine, spark, "ns.days", "k INT, dt DATE",
              "SELECT * FROM VALUES (1, DATE'2024-01-09'), "
              "(2, DATE'2024-01-10') AS t(k, dt)")
    assert _files(engine, "ns.days")[0][1]["dt"] == ["2024-01-09",
                                                     "2024-01-10"]
    got = engine.sql("DELETE FROM ns.days WHERE dt = '2024-1-9'").collect()
    assert got[0].rows_affected == 1


def test_nan_rows_are_never_pruned_away(engine, spark, lane):
    # every file holds a 2.0 and a NaN: Spark's footer says max = NaN,
    # the driver's records no x stats (Arrow's max would say 2.0)
    n = engine._driver_lane_settings[1]
    rows = ("SELECT * FROM VALUES " + ", ".join(
        f"({i}, CAST('{'NaN' if i % 2 else 2.0}' AS DOUBLE))"
        for i in range(2 * n)) + " AS t(k, x)")
    with lane(spark_lane=True):
        _one_file(engine, spark, "ns.nan_s", "k INT, x DOUBLE", rows)
    engine.sql("CREATE TABLE ns.nan_d (k INT, x DOUBLE)")
    with lane() as taken:
        engine.write_table(spark.sql(rows), "ns.nan_d")
    assert taken == ["local"]
    assert all("x" not in s for _n, s in _files(engine, "ns.nan_d"))
    got = engine.sql("DELETE FROM ns.nan_s WHERE x = 2.0").collect()
    assert got[0].rows_affected == n
    got = engine.sql("DELETE FROM ns.nan_d WHERE x > 5").collect()
    assert got[0].rows_affected == n       # NaN sorts above every number


def test_integer_date_and_decimal_predicates_still_prune(engine, spark):
    engine.sql("CREATE TABLE ns.pr (k BIGINT, dt DATE, p DECIMAL(30,2))")
    for i in range(3):
        engine.write_table(spark.sql(
            f"SELECT CAST({i * 10} + id AS BIGINT) AS k, "
            f"date_add(DATE'2024-01-01', {i * 10} + CAST(id AS INT)) AS dt, "
            f"CAST({i * 10} + id AS DECIMAL(30,2)) AS p "
            f"FROM range(5)").coalesce(1), "ns.pr")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns", "pr")
    by_k = {f.stats["k"][0]: f.path for f in tdef.data_files}

    def cands(predicate):
        return {k for k, p in by_k.items()
                if p in engine._candidate_files(tdef, predicate)}
    assert cands("k = 12") == {10}
    assert cands("k >= 1.4e1") == {10, 20}
    assert cands("dt = '2024-01-23'") == {20}
    assert cands("p < 9.5") == {0}
    assert cands("p = '21'") == {20}
    assert cands("dt = '2024-1-23'") == {0, 10, 20}
