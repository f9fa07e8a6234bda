"""CSV/JSON external tables: registration, scan parity, read-only guard."""

from __future__ import annotations

import glob

import pytest

from olympia_spark.engine import Engine
from olympia_spark.tables import load

SF = "/root/testdata/sf0.001"
COLS = ["event_id", "user_id", "event_type", "value"]


@pytest.fixture()
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE raw")
    return eng


def _stage(spark, tmp_path, fmt: str) -> list[str]:
    base = load(spark, SF, "events").select(*COLS).limit(200)
    d = str(tmp_path / fmt)
    w = base.coalesce(2).write.mode("overwrite")
    if fmt == "csv":
        w.option("header", "true").csv(d)
    else:
        w.json(d)
    return sorted(glob.glob(f"{d}/*.{fmt}"))


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_external_scan_matches_parquet(spark, tmp_path, engine, fmt):
    files = _stage(spark, tmp_path, fmt)
    engine.register_external_table(f"raw.ev_{fmt}", *files, format=fmt)
    got = engine.sql(
        f"SELECT COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS s "
        f"FROM raw.ev_{fmt}").first()
    exp = load(spark, SF, "events").limit(200).selectExpr(
        "COUNT(*) AS n", "CAST(SUM(event_id) AS BIGINT) AS s").first()
    assert (got.n, got.s) == (exp.n, exp.s)


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_external_tables_are_read_only(spark, tmp_path, engine, fmt):
    files = _stage(spark, tmp_path, fmt)
    engine.register_external_table(f"raw.ro_{fmt}", *files, format=fmt)
    for stmt in (f"DELETE FROM raw.ro_{fmt} WHERE event_id = 1",
                 f"UPDATE raw.ro_{fmt} SET value = 0",
                 f"TRUNCATE TABLE raw.ro_{fmt}",
                 f"INSERT INTO raw.ro_{fmt} SELECT * FROM raw.ro_{fmt}",
                 f"OPTIMIZE TABLE raw.ro_{fmt}"):
        with pytest.raises(ValueError, match="read-only"):
            engine.sql(stmt)


def test_external_csv_options_replayed(spark, tmp_path, engine):
    """The header option recorded at registration applies to every later
    scan — dropping it would shift the first data row."""
    files = _stage(spark, tmp_path, "csv")
    engine.register_external_table("raw.opts", *files, format="csv")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "raw", "opts")
    assert tdef.format == "CSV"
    assert tdef.properties.get("read.option.header") == "true"
    n = engine.sql("SELECT COUNT(*) AS n FROM raw.opts").first().n
    assert n == 200


def test_external_ingest_via_ctas(spark, tmp_path, engine):
    """The documented migration path: CTAS copies a raw external table
    into a native (mutable, stats-carrying) table."""
    files = _stage(spark, tmp_path, "json")
    engine.register_external_table("raw.src", *files, format="json")
    engine.sql("CREATE TABLE raw.native AS "
               "SELECT event_id, value FROM raw.src WHERE value IS NOT NULL")
    engine.sql("DELETE FROM raw.native WHERE event_id < 5")
    n = engine.sql("SELECT COUNT(*) AS n FROM raw.native").first().n
    assert n > 0
    txn = engine.catalog.begin()
    assert engine.catalog.describe_table(txn, "raw", "native").format \
        == "PARQUET"


@pytest.mark.parametrize("fmt", ["csv", "json"])
def test_external_tables_refuse_schema_evolution(spark, tmp_path, engine,
                                                 fmt):
    """Review r4: CSV applies the stored schema positionally — dropping a
    middle column would silently shift every later scan's values, so
    ALTER is part of the read-only contract."""
    files = _stage(spark, tmp_path, fmt)
    engine.register_external_table(f"raw.alt_{fmt}", *files, format=fmt)
    with pytest.raises(ValueError, match="read-only"):
        engine.sql(f"ALTER TABLE raw.alt_{fmt} DROP COLUMN (event_type)")
    with pytest.raises(ValueError, match="read-only"):
        engine.sql(f"ALTER TABLE raw.alt_{fmt} ADD COLUMNS (extra BIGINT)")
    # the scan still reads correctly afterwards
    n = engine.sql(f"SELECT COUNT(*) AS n FROM raw.alt_{fmt} "
                   f"WHERE event_type IS NOT NULL").first().n
    assert n == 200


def _stage2(spark, tmp_path, fmt: str) -> list[str]:
    """Like _stage but guarantees two files (repartition beats coalesce
    on the single-row-group fixture)."""
    base = load(spark, SF, "events").select(*COLS).limit(200)
    d = str(tmp_path / fmt)
    w = base.repartition(2).write.mode("overwrite")
    if fmt == "csv":
        w.option("header", "true").csv(d)
    else:
        w.json(d)
    return sorted(glob.glob(f"{d}/*.{fmt}"))


def test_copy_into_is_idempotent(spark, tmp_path, engine):
    files = _stage2(spark, tmp_path, "csv")
    assert len(files) == 2
    engine.sql("CREATE TABLE raw.ev (event_id BIGINT, user_id BIGINT, "
               "event_type STRING, value DOUBLE)")
    r = engine.sql(f"COPY INTO raw.ev FROM ('{files[0]}', '{files[1]}') "
                   f"FILEFORMAT = CSV OPTIONS ('header' = 'true')").first()
    assert r.files_loaded == 2 and r.files_skipped == 0
    n1 = engine.sql("SELECT COUNT(*) AS n FROM raw.ev").first().n
    assert n1 == 200
    # the same COPY again: every file skipped, zero duplicate rows
    r2 = engine.sql(f"COPY INTO raw.ev FROM ('{files[0]}', '{files[1]}') "
                    f"FILEFORMAT = CSV").first()
    assert (r2.files_loaded, r2.files_skipped) == (0, 2)
    assert engine.sql("SELECT COUNT(*) AS n FROM raw.ev").first().n == n1


def test_copy_into_glob_picks_up_only_new_files(spark, tmp_path, engine):
    files = _stage2(spark, tmp_path, "json")
    d = str(tmp_path / "json")
    engine.sql("CREATE TABLE raw.evj (event_id BIGINT, user_id BIGINT, "
               "event_type STRING, value DOUBLE)")
    r = engine.sql(f"COPY INTO raw.evj FROM '{d}/*.json' "
                   f"FILEFORMAT = JSON").first()
    assert r.files_loaded == len(files)
    # a late-arriving drop: only IT loads on the next run of the same verb
    import shutil
    late = f"{d}/late-arrival.json"
    shutil.copy(files[0], late)
    r2 = engine.sql(f"COPY INTO raw.evj FROM '{d}/*.json' "
                    f"FILEFORMAT = JSON").first()
    assert (r2.files_loaded, r2.files_skipped) == (1, len(files))
    # ledger commits atomically with the data: recorded = all loaded
    import json as _json
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "raw", "evj")
    ledger = set(_json.loads(tdef.properties["copy_into.loaded"]))
    assert ledger == {*(map(str, files)), late}
    assert engine.sql("SELECT COUNT(*) AS n FROM raw.evj").first().n == 300


def test_copy_into_refuses_external_target(spark, tmp_path, engine):
    files = _stage(spark, tmp_path, "csv")
    engine.register_external_table("raw.ro", *files, format="csv")
    with pytest.raises(ValueError, match="read-only"):
        engine.sql(f"COPY INTO raw.ro FROM '{files[0]}' FILEFORMAT = CSV")


def test_external_hivelike_dirs_are_opaque_infile_values_win(
        spark, tmp_path, engine):
    """Era reconstruction is scoped to ENGINE-OWNED layouts (round-9
    VERDICT #6): an external parquet registered from a user directory
    that happens to be hive-named (…/source=web/…) while its files
    carry a REAL conflicting `source` column must read the FILE values
    — path segments of foreign estates are opaque, never partition
    encodings of this table."""
    import os
    d = tmp_path / "estate" / "source=web"
    os.makedirs(d)
    p = str(d / "part-0.parquet")
    spark.createDataFrame(
        [(1, "books"), (2, "code")], "id BIGINT, source STRING"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp1"))
    import glob as _g
    import shutil
    shutil.copy(_g.glob(str(tmp_path / "tmp1" / "*.parquet"))[0], p)
    engine.register_external_table("raw.est", p)
    got = sorted((r.id, r.source) for r in engine.sql(
        "SELECT id, source FROM raw.est").collect())
    assert got == [(1, "books"), (2, "code")]
