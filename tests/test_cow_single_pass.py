"""Single-pass copy-on-write DML: when stats pruning leaves one file and
the predicate is plain and deterministic, DELETE/UPDATE skip the
match-finding job and count the matches inside the rewrite job (an
Observation on the scan it already runs). Everything else stays on the
count-first path. A one-file rewrite no larger than one scan split is
gathered and written by the driver (the ``"collected"`` lane), so that
job is a ``toArrow``. Job counts are exact statusTracker counts per job
group (``spark_jobs``)."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from olympia_spark.catalog.errors import CheckConstraintError
from olympia_spark.engine import Engine
from tests.conftest import spark_jobs


@pytest.fixture()
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE ns")
    return eng


def _one_file_table(engine, spark, n=100, name="ns.t"):
    engine.sql(f"CREATE TABLE {name} (k BIGINT, v BIGINT)")
    engine.write_table(spark.range(1, n + 1).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")).coalesce(1),
        name)


def _rows(engine, name="ns.t"):
    return sorted(tuple(r) for r in
                  engine.sql(f"SELECT k, v FROM {name}").collect())


def _tree(root):
    """Every file and directory under ``root`` with a content digest —
    equal snapshots mean a byte-identical warehouse."""
    out = {}
    for d, dirs, names in os.walk(root):
        for x in dirs:
            out[os.path.relpath(os.path.join(d, x), root)] = "dir"
        for x in names:
            with open(os.path.join(d, x), "rb") as f:
                out[os.path.relpath(os.path.join(d, x), root)] = \
                    hashlib.sha1(f.read()).hexdigest()
    return out


def _spy_counts(engine, monkeypatch):
    """Record the count ``_touched_files`` hands the rewrite: None is the
    single pass, an int is the count-first path."""
    seen = []
    orig = engine._touched_files

    def spy(*a, **kw):
        files, n = orig(*a, **kw)
        seen.append(n)
        return files, n

    monkeypatch.setattr(engine, "_touched_files", spy)
    return seen


def test_point_delete_and_update_run_one_job(engine, spark, lane):
    _one_file_table(engine, spark)
    with lane() as taken, spark_jobs(spark) as jobs:
        got = engine.sql("DELETE FROM ns.t WHERE k = 7").collect()
    assert got[0].rows_affected == 1
    assert jobs.n == 1
    with lane() as taken2, spark_jobs(spark) as jobs:
        got = engine.sql("UPDATE ns.t SET v = -1 WHERE k = 8").collect()
    assert got[0].rows_affected == 1
    assert jobs.n == 1
    assert taken + taken2 == ["collected", "collected"]
    want = [(k, -1 if k == 8 else 10 * k) for k in range(1, 101) if k != 7]
    assert _rows(engine) == want
    assert len(engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns", "t").data_files) == 1


def test_two_candidates_count_first(engine, spark, monkeypatch):
    """Overlapping file ranges leave two stats candidates: one job finds
    the file that holds the match, so only that file is rewritten."""
    engine.sql("CREATE TABLE ns.t (k BIGINT, v BIGINT)")
    engine.write_table(spark.createDataFrame(
        [(1, 1), (10, 10)], "k BIGINT, v BIGINT").coalesce(1), "ns.t")
    engine.write_table(spark.createDataFrame(
        [(2, 2), (9, 9)], "k BIGINT, v BIGINT").coalesce(1), "ns.t")
    before = {f.path for f in engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns", "t").data_files}
    seen = _spy_counts(engine, monkeypatch)
    with spark_jobs(spark) as jobs:
        got = engine.sql("DELETE FROM ns.t WHERE k = 9").collect()
    assert got[0].rows_affected == 1
    assert seen == [1]
    assert jobs.n >= 2                  # the match count, then the write
    after = {f.path for f in engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns", "t").data_files}
    assert len(before & after) == 1     # the file without a match stays
    assert _rows(engine) == [(1, 1), (2, 2), (10, 10)]


def test_zero_match_point_delete_leaves_warehouse_identical(engine, spark,
                                                            tmp_path):
    _one_file_table(engine, spark)
    before = _tree(tmp_path / "wh")
    with spark_jobs(spark) as jobs:
        got = engine.sql("DELETE FROM ns.t WHERE k = 5000").collect()
    assert got[0].rows_affected == 0
    assert jobs.n <= 1
    assert _tree(tmp_path / "wh") == before
    assert len(_rows(engine)) == 100


def test_zero_match_delete_in_range_discards_the_driver_rewrite(
        engine, spark, tmp_path, lane):
    """The file's stats admit k = 50 AND v = 15, so the single pass
    gathers and writes a copy, observes 0 matches and deletes it."""
    _one_file_table(engine, spark)
    before = _tree(tmp_path / "wh")
    version = engine.catalog.tree.find_latest_version()
    with lane() as taken, spark_jobs(spark) as jobs:
        got = engine.sql("DELETE FROM ns.t WHERE k = 50 AND v = 15").collect()
    assert taken == ["collected"]
    assert got[0].rows_affected == 0
    assert jobs.n == 1
    assert engine.catalog.tree.find_latest_version() == version
    assert _tree(tmp_path / "wh") == before


def test_zero_match_update_commits_nothing(engine, spark, tmp_path, lane):
    """k = 2 is inside the file's [1, 3] range but matches no row: the
    single pass writes a copy, observes 0 and discards it."""
    engine.sql("CREATE TABLE ns.t (k BIGINT, v BIGINT)")
    engine.write_table(spark.createDataFrame(
        [(1, 1), (3, 3)], "k BIGINT, v BIGINT").coalesce(1), "ns.t")
    before = _tree(tmp_path / "wh")
    version = engine.catalog.tree.find_latest_version()
    with lane() as taken:
        got = engine.sql("UPDATE ns.t SET v = 0 WHERE k = 2").collect()
    assert taken == ["collected"]
    assert got[0].rows_affected == 0
    assert engine.catalog.tree.find_latest_version() == version
    assert _tree(tmp_path / "wh") == before


def test_subquery_and_rand_stay_count_first(engine, spark, monkeypatch):
    _one_file_table(engine, spark)
    engine.sql("CREATE TABLE ns.s (k BIGINT)")
    engine.write_table(spark.createDataFrame([(3,), (4,)], "k BIGINT"),
                       "ns.s")
    seen = _spy_counts(engine, monkeypatch)
    got = engine.sql(
        "DELETE FROM ns.t WHERE k IN (SELECT k FROM ns.s)").collect()
    assert got[0].rows_affected == 2
    got = engine.sql(
        "UPDATE ns.t SET v = 0 WHERE k = 5 AND rand() >= 0").collect()
    assert got[0].rows_affected == 1
    # the same shapes without the subquery / rand() take the single pass
    got = engine.sql("DELETE FROM ns.t WHERE k = 6").collect()
    assert got[0].rows_affected == 1
    assert seen == [2, 1, None]
    rows = dict(_rows(engine))
    assert 3 not in rows and 4 not in rows and 6 not in rows
    assert rows[5] == 0 and len(rows) == 97


def test_check_violation_in_single_pass_changes_nothing(engine, spark,
                                                        tmp_path, lane):
    _one_file_table(engine, spark)
    engine.sql("ALTER TABLE ns.t ADD CONSTRAINT pos CHECK (v > 0)")
    before = _tree(tmp_path / "wh")
    version = engine.catalog.tree.find_latest_version()
    with lane() as taken, pytest.raises(CheckConstraintError):
        engine.sql("UPDATE ns.t SET v = -1 WHERE k = 3")
    assert taken == ["collected"]
    assert engine.catalog.tree.find_latest_version() == version
    assert _tree(tmp_path / "wh") == before
    assert _rows(engine) == [(k, 10 * k) for k in range(1, 101)]


@pytest.mark.parametrize("pred", ["k < 1000", "true"])
def test_delete_all_rows_leaves_no_zero_row_file(engine, spark, tmp_path,
                                                 pred, lane):
    """``true`` folds the DELETE filter to false, and the optimizer drops
    the observed scan from the plan: the count still comes out exact."""
    _one_file_table(engine, spark)
    with lane() as taken:
        got = engine.sql(f"DELETE FROM ns.t WHERE {pred}").collect()
    assert taken == ["collected"]
    assert got[0].rows_affected == 100
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns", "t")
    assert tdef.data_files == []
    assert _rows(engine) == []
    # the old file is still on disk (time travel); no new parquet file
    parquet = [n for _d, _s, names in os.walk(tmp_path / "wh" / "data")
               for n in names if n.endswith(".parquet")]
    assert len(parquet) == 1


def test_partition_delete_empties_its_partition(engine, spark):
    """Deleting every row of a one-file partition: the rebalance stage
    has no output, AQE drops it with the observed scan, and the count
    still comes out exact."""
    engine.sql("CREATE TABLE ns.p (k BIGINT, p STRING) PARTITIONED BY (p)")
    engine.write_table(spark.range(1, 21).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS p")
        .coalesce(1), "ns.p")
    got = engine.sql("DELETE FROM ns.p WHERE p = 'a'").collect()
    assert got[0].rows_affected == 10
    assert sorted(r.k for r in engine.sql("SELECT k FROM ns.p").collect()) \
        == list(range(1, 21, 2))
    assert engine.sql("DELETE FROM ns.p WHERE p = 'a'").first() \
        .rows_affected == 0


def test_bucketed_single_and_multi_file(engine, spark, monkeypatch):
    """A one-row bucketed append is a write dir of one file (the empty
    bucket's file is dropped), so DML on it takes the single pass
    through the bucketed writer; a dir of several bucket files is
    count-first and counts the matches, not the rows of the dir."""
    for t in ("b1", "b4"):
        engine.sql(f"CREATE TABLE ns.{t} (k BIGINT, v BIGINT) "
                   "CLUSTERED BY (k) INTO 4 BUCKETS")
    engine.write_table(spark.createDataFrame([(2, 20)], "k BIGINT, v BIGINT"),
                       "ns.b1")
    engine.write_table(spark.range(1, 41).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")), "ns.b4")
    seen = _spy_counts(engine, monkeypatch)
    got = engine.sql("UPDATE ns.b1 SET v = 0 WHERE k = 2").collect()
    assert got[0].rows_affected == 1
    got = engine.sql("DELETE FROM ns.b1 WHERE k = 2 AND v IS NULL").collect()
    assert got[0].rows_affected == 0
    got = engine.sql("UPDATE ns.b4 SET v = 0 WHERE k = 3").collect()
    assert got[0].rows_affected == 1
    assert seen == [None, None, 1]
    assert _rows(engine, "ns.b1") == [(2, 0)]
    rows = dict(_rows(engine, "ns.b4"))
    assert rows[3] == 0 and len(rows) == 40


def test_replace_where_counts(engine, spark):
    """The count is rows replaced plus rows inserted, on the single pass,
    its zero-match discard and the count-first path alike."""
    engine.sql("CREATE TABLE ns.t (k BIGINT, v BIGINT)")
    engine.write_table(spark.range(1, 11).select(
        (F.col("id") * 2).alias("k"), (F.col("id") * 20).alias("v"))
        .coalesce(1), "ns.t")

    def src(*rows):
        return spark.createDataFrame(list(rows), "k BIGINT, v BIGINT")

    # one candidate file: 4 and 6 are replaced, 3 rows go in
    assert engine.replace_where("ns.t", src((4, 0), (5, 0), (6, 0)),
                                "k >= 4 AND k <= 6") == 2 + 3
    # one candidate file that holds no match: only the insert counts
    assert engine.replace_where("ns.t", src((7, 0)), "k = 7") == 0 + 1
    # three candidates (count-first): 5, 6, 7, 8 replaced, 1 row in
    assert engine.replace_where("ns.t", src((5, 1)),
                                "k >= 5 AND k <= 8") == 4 + 1
    assert dict(_rows(engine)) == {2: 20, 4: 0, 5: 1, 10: 100, 12: 120,
                                   14: 140, 16: 160, 18: 180, 20: 200}


def test_spool_lane_single_pass_and_discard(spark, tmp_path, lane):
    from olympia_spark.catalog.storage import S3Storage
    from tests.fake_s3 import FakeS3Client
    client = FakeS3Client()
    storage = S3Storage("bucket", "wh", client=client,
                        cache_dir=str(tmp_path / "cache"))
    eng = Engine(spark, storage)
    assert eng.data_plane == "spool"
    eng.sql("CREATE NAMESPACE ns")
    _one_file_table(eng, spark, n=20)
    keys = set(storage.list("data/"))
    cache = _tree(tmp_path / "cache" / "data")
    with spark_jobs(spark) as jobs:
        got = eng.sql("DELETE FROM ns.t WHERE k = 500").collect()
    assert got[0].rows_affected == 0
    assert jobs.n <= 1
    assert set(storage.list("data/")) == keys
    assert _tree(tmp_path / "cache" / "data") == cache
    with lane() as taken, spark_jobs(spark) as jobs:
        got = eng.sql("UPDATE ns.t SET v = 1 WHERE k = 4").collect()
    assert got[0].rows_affected == 1
    assert jobs.n == 1
    assert taken == ["collected"]
    rows = dict(_rows(eng))
    assert rows[4] == 1 and len(rows) == 20


def test_between_prunes_a_range_delete_to_one_file(engine, spark,
                                                   monkeypatch, lane):
    """``k BETWEEN lo AND hi`` is ``k >= lo AND k <= hi`` for pruning:
    of four files only the one whose range overlaps is touched, so the
    DELETE takes the single pass and runs one job."""
    engine.sql("CREATE TABLE ns.t (k BIGINT, v BIGINT)")
    for i in range(4):
        engine.write_table(spark.range(25 * i + 1, 25 * i + 26).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
            .coalesce(1), "ns.t")

    def paths():
        return {f.path for f in engine.catalog.describe_table(
            engine.catalog.begin(read_only=True), "ns", "t").data_files}
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns", "t")
    assert len(engine._candidate_files(tdef, "k NOT BETWEEN 30 AND 40")) \
        == 4
    assert len(engine._candidate_files(
        tdef, "k BETWEEN 30 AND 40 AND k = 90")) == 0
    before = paths()
    seen = _spy_counts(engine, monkeypatch)
    with lane() as taken, spark_jobs(spark) as jobs:
        got = engine.sql("DELETE FROM ns.t WHERE k BETWEEN 30 AND 40")\
            .collect()
    assert got[0].rows_affected == 11
    assert seen == [None]
    assert jobs.n == 1
    assert taken == ["collected"]
    assert len(before & paths()) == 3
    assert _rows(engine) == [(k, 10 * k) for k in range(1, 101)
                             if not 30 <= k <= 40]
