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

import contextlib
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


@contextlib.contextmanager
def lane(spark_lane: bool = False):
    """Record which lane each write takes; ``spark_lane`` forces Spark's."""
    taken: list[bool] = []
    write_local = Engine._write_local

    def spy(self, df, rel_dir):
        took = not spark_lane and write_local(self, df, rel_dir)
        taken.append(took)
        return took
    with pytest.MonkeyPatch.context() as m:
        m.setattr(Engine, "_write_local", spy)
        yield taken


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


def _same_through_both_lanes(engine, name, write):
    """Run ``write(table)`` into ``<name>_d`` on the driver lane and into
    ``<name>_s`` on the Spark lane; assert the two tables agree."""
    with lane() as taken:
        write(f"{name}_d")
    assert taken and all(taken), "driver lane not taken"
    with lane(spark_lane=True):
        write(f"{name}_s")
    driver, spark_files = _files(engine, f"{name}_d"), _files(
        engine, f"{name}_s")
    assert driver == spark_files
    assert _rows(engine, f"{name}_d") == _rows(engine, f"{name}_s")
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


def test_type_matrix_is_the_same_through_both_lanes(engine, spark):
    files = _same_through_both_lanes(
        engine, "ns.matrix",
        lambda name: engine.write_table(spark.sql(MATRIX), name))
    parallelism = engine._driver_lane_settings[1]
    assert [n for n, _s in files] == [
        (i + 1) * 5 // min(5, parallelism) - i * 5 // min(5, parallelism)
        for i in range(min(5, parallelism))]
    # a NaN leaves no stats behind on either lane
    for _n, stats in files:
        assert all(v == v for pair in stats.values() for v in pair)


def test_ntz_and_empty_frames_are_the_same_through_both_lanes(engine,
                                                              spark):
    _same_through_both_lanes(
        engine, "ns.ntz",
        lambda name: engine.write_table(spark.sql(
            "SELECT * FROM VALUES (1, TIMESTAMP_NTZ'2024-01-01 10:00:00'), "
            "(2, TIMESTAMP_NTZ'1500-01-02 00:00:00') AS t(k, ntz)"), name))
    files = _same_through_both_lanes(
        engine, "ns.empty",
        lambda name: engine.write_table(spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS k WHERE 1 = 0"), name))
    assert files == [(0, {})]


def test_pandas_frames_take_the_lane_with_sparks_encodings(engine, spark):
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
        engine, "ns.pd", lambda name: engine.write_table(frame, name))
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


def test_small_decimals_keep_the_spark_write(engine, spark):
    # pyarrow cannot store DECIMAL(p <= 18) as an integer the way Spark
    # does, so the lane declines; the integer-backed stats decode
    with lane() as taken:
        engine.sql("CREATE TABLE ns.dec (k INT, p DECIMAL(10,2))")
        engine.sql("INSERT INTO ns.dec VALUES (1, 3.50), (2, -12.25)")
    assert taken == [False]
    assert [r.p for r in engine.sql(
        "SELECT p FROM ns.dec ORDER BY k").collect()] == [
        Decimal("3.50"), Decimal("-12.25")]
    stats = sorted(s["p"] for _n, s in _files(engine, "ns.dec"))
    assert stats == [["-12.25", "-12.25"], ["3.50", "3.50"]]


def test_frames_spark_refuses_to_write_keep_its_error(engine, spark):
    with lane() as taken, pytest.raises(Exception,
                                        match="COLUMN_ALREADY_EXISTS"):
        engine.write_table(spark.sql("SELECT 1 AS a, 2 AS A"), "ns.dup")
    assert taken == [False]


def test_values_insert_writes_one_file_per_row(engine):
    def insert(name):
        engine.sql(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        engine.sql(f"INSERT INTO {name} VALUES (1, 'a'), (2, 'b')")
    files = _same_through_both_lanes(engine, "ns.two", insert)
    assert [n for n, _s in files] == [1, 1]


def test_values_insert_inside_begin_commit(engine):
    def block(name):
        engine.sql(f"CREATE TABLE {name} (k BIGINT)")
        engine.sql("BEGIN")
        engine.sql(f"INSERT INTO {name} VALUES (1)")
        engine.sql(f"INSERT INTO {name} VALUES (2), (3)")
        engine.sql("COMMIT")
    _same_through_both_lanes(engine, "ns.blk", block)
    assert [r.k for r in engine.sql(
        "SELECT k FROM ns.blk_d ORDER BY k").collect()] == [1, 2, 3]


def test_generated_and_renamed_columns(engine):
    def write(name):
        engine.sql(f"CREATE TABLE {name} (k BIGINT, v BIGINT, "
                   f"g BIGINT GENERATED ALWAYS AS (v * 10))")
        engine.sql(f"ALTER TABLE {name} RENAME COLUMN k TO key")
        engine.sql(f"INSERT INTO {name} (key, v) VALUES (1, 5), (2, 7)")
    files = _same_through_both_lanes(engine, "ns.gen", write)
    # stats sit under the physical (creation) name
    assert sorted(s["k"] for _n, s in files) == [[1, 1], [2, 2]]
    assert sorted((r.key, r.v, r.g) for r in engine.sql(
        "SELECT * FROM ns.gen_d").collect()) == [(1, 5, 50), (2, 7, 70)]


@pytest.mark.parametrize("spark_lane", [False, True])
def test_check_violation_leaves_table_and_disk_unchanged(engine, spark_lane):
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


def test_spark_lane_writes_no_success_marker(engine, spark):
    with lane(spark_lane=True):
        engine.write_table(spark.range(3), "ns.marker")
    data = os.path.join(engine.catalog.storage.root, "data", "ns", "marker")
    names = [n for d in os.listdir(data) for n in os.listdir(
        os.path.join(data, d))]
    assert names and not [n for n in names if "SUCCESS" in n]


def test_object_store_lanes(spark, tmp_path):
    """Spool lane: the driver writes into the local cache and the shared
    upload publishes. Direct lane: the driver puts the objects itself
    (Spark has no s3a filesystem here, so only the driver lane can write
    there) and the stats come from ranged footer reads."""
    from olympia_spark.catalog.storage import S3Storage
    from tests.fake_s3 import FakeS3Client

    def engine_on(plane):
        client = FakeS3Client()
        storage = S3Storage("bucket", plane, client=client,
                            cache_dir=str(tmp_path / plane))
        eng = Engine(spark, storage, data_plane=plane)
        eng.sql("CREATE NAMESPACE ns")
        return eng, client

    spool, _ = engine_on("spool")
    ins = "INSERT INTO {} VALUES (1, 'a'), (2, NULL), (3, 'c')"
    for name, spark_lane in (("ns.d", False), ("ns.s", True)):
        spool.sql(f"CREATE TABLE {name} (k BIGINT, v STRING)")
        with lane(spark_lane) as taken:
            spool.sql(ins.format(name))
        assert taken == [not spark_lane]
    assert _files(spool, "ns.d") == _files(spool, "ns.s")
    assert _rows(spool, "ns.d") == _rows(spool, "ns.s")
    assert {p for p in spool.catalog.storage.list("data/ns/d/")} == {
        p for p in _paths(spool, "ns.d")}

    direct, client = engine_on("direct")
    direct.sql("CREATE TABLE ns.d (k BIGINT, v STRING)")
    with lane() as taken:
        direct.sql(ins.format("ns.d"))
    assert taken == [True]
    assert _files(direct, "ns.d") == _files(spool, "ns.d")
    assert sorted(direct.catalog.storage.list("data/ns/d/")) == sorted(
        _paths(direct, "ns.d"))
    assert not os.path.exists(tmp_path / "direct" / "data")


def _paths(engine, name):
    ns, tbl = name.split(".")
    return engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), ns, tbl).file_paths()


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


def test_nan_rows_are_never_pruned_away(engine, spark):
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
    assert taken == [True]
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
