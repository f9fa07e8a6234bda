"""Schema evolution (A15), time-travel SQL (A27/A28), compaction +
version expiration (SURVEY §7 phase 6), and a real multi-PROCESS CAS race
(the contention coverage docs/format.md's commit protocol demands)."""

from __future__ import annotations

import subprocess
import sys
import time

import pytest

from olympia_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "warehouse"))
    eng.sql("CREATE NAMESPACE ns1")
    return eng


def test_add_columns_schema_evolution(engine):
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1), (2)")
    engine.sql("ALTER TABLE ns1.t ADD COLUMNS (tag STRING, score DOUBLE)")
    # old files read back with NULLs in the new columns — no rewrite
    rows = engine.sql("SELECT id, tag, score FROM ns1.t ORDER BY id").collect()
    assert [(r.id, r.tag, r.score) for r in rows] == [
        (1, None, None), (2, None, None)]
    engine.sql("INSERT INTO ns1.t VALUES (3, 'x', 1.5)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.t "
                      "WHERE tag = 'x'").first().n == 1


def test_drop_columns(engine):
    engine.sql("CREATE TABLE ns1.t (id BIGINT, junk STRING)")
    engine.sql("INSERT INTO ns1.t VALUES (1, 'a')")
    engine.sql("ALTER TABLE ns1.t DROP COLUMNS (junk)")
    assert engine.sql("SELECT * FROM ns1.t").columns == ["id"]


def test_alter_rename_and_properties(engine):
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    engine.sql("ALTER TABLE ns1.t SET PROPERTIES ('owner'='me')")
    txn = engine.catalog.begin()
    assert engine.catalog.describe_table(
        txn, "ns1", "t").properties == {"owner": "me"}
    engine.sql("ALTER TABLE ns1.t RENAME TO t2")
    assert [r.table for r in engine.sql("SHOW TABLES IN ns1").collect()] \
        == ["t2"]
    engine.sql("ALTER NAMESPACE ns1 SET PROPERTIES ('team'='data')")
    txn = engine.catalog.begin()
    assert engine.catalog.describe_namespace(
        txn, "ns1").properties == {"team": "data"}


def test_time_travel_sql(engine):
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1)")
    v1 = engine.catalog.tree.find_latest_version()
    engine.sql("INSERT INTO ns1.t VALUES (2), (3)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 3
    n_v1 = engine.sql(
        f"SELECT COUNT(*) AS n FROM ns1.t VERSION AS OF {v1}").first().n
    assert n_v1 == 1
    # timestamp in the future resolves to the latest root
    future = time.strftime("%Y-%m-%dT%H:%M:%S",
                           time.gmtime(time.time() + 3600))
    n_now = engine.sql(
        f"SELECT COUNT(*) AS n FROM ns1.t TIMESTAMP AS OF '{future}'"
    ).first().n
    assert n_now == 3


def test_compaction_preserves_data_and_history(engine, spark):
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    for i in range(4):                      # 4 separate inserts → ≥4 files
        engine.sql(f"INSERT INTO ns1.t VALUES ({i})")
    txn = engine.catalog.begin()
    n_files_before = len(
        engine.catalog.describe_table(txn, "ns1", "t").data_files)
    assert n_files_before >= 4
    v_before = engine.catalog.tree.find_latest_version()
    saved = engine.compact_table("ns1.t")
    assert saved > 0
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "t")
    assert len(tdef.data_files) < n_files_before
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 4
    # pre-compaction version still readable (old files not deleted)
    assert engine.sql(f"SELECT COUNT(*) AS n FROM ns1.t "
                      f"VERSION AS OF {v_before}").first().n == 4


def test_expire_versions(engine):
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.t VALUES ({i})")
    latest = engine.catalog.tree.find_latest_version()
    removed = engine.expire_versions(keep_last=2)
    assert removed
    from olympia_spark.catalog import locations as loc
    assert not engine.catalog.storage.exists(loc.root_node_path(0))
    assert engine.catalog.storage.exists(loc.root_node_path(latest))
    # catalog still loads and reads correctly after expiry
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 5
    assert engine.catalog.storage.read(loc.OLDEST_HINT_PATH) == \
        str(latest - 1).encode()


def test_partitioned_table_roundtrip(engine, sf_dir):
    """Hive-layout partitioned writes; reads reconstruct partition columns
    via per-write basePath and values match the unpartitioned source."""
    from olympia_spark.tables import load
    ev = load(engine.spark, sf_dir, "events")
    engine.write_table(ev, "ns1.events_p", partition_by=["event_type"])
    got = engine.sql("SELECT event_type, COUNT(*) AS n FROM ns1.events_p "
                     "GROUP BY event_type ORDER BY event_type").collect()
    want = (ev.groupBy("event_type").count().orderBy("event_type").collect())
    assert [(r.event_type, r.n) for r in got] == \
        [(r.event_type, r["count"]) for r in want]
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "events_p")
    assert tdef.partition_by == ["event_type"]
    assert all("event_type=" in f.path for f in tdef.data_files)
    # partition value is exact [v, v] stats on every file
    assert all(f.stats["event_type"][0] == f.stats["event_type"][1]
               for f in tdef.data_files)
    # appends reuse the recorded spec
    engine.sql("INSERT INTO ns1.events_p SELECT * FROM ns1.events_p "
               "WHERE event_type = 'click'")
    n2 = engine.sql("SELECT COUNT(*) AS n FROM ns1.events_p "
                    "WHERE event_type = 'click'").first().n
    n1 = dict((r.event_type, r.n) for r in got)["click"]
    assert n2 == 2 * n1


def test_partitioned_dml_prunes_partitions(engine, sf_dir):
    """DELETE on a partition predicate must rewrite only that partition's
    files — every other partition's files survive untouched."""
    from olympia_spark.tables import load
    ev = load(engine.spark, sf_dir, "events")
    engine.write_table(ev, "ns1.events_q", partition_by=["event_type"])
    txn = engine.catalog.begin()
    before = {f.path for f in
              engine.catalog.describe_table(txn, "ns1", "events_q").data_files}
    n_click = engine.sql("SELECT COUNT(*) AS n FROM ns1.events_q "
                         "WHERE event_type = 'click'").first().n
    total = engine.sql("SELECT COUNT(*) AS n FROM ns1.events_q").first().n
    engine.sql("DELETE FROM ns1.events_q WHERE event_type = 'click'")
    txn = engine.catalog.begin()
    after = {f.path for f in
             engine.catalog.describe_table(txn, "ns1", "events_q").data_files}
    surviving = before & after
    assert surviving == {p for p in before if "event_type=click" not in p}
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.events_q").first().n \
        == total - n_click


def test_partitioned_sql_create_and_plan_pruning(engine, spark):
    """Partition predicates must prune FILES, not just rows: with every
    bucket='bb' file renamed away after the DataFrame is planned, the
    bucket='aa' query still runs — an unpruned scan would die on the
    missing file. (The behavioral form of the old PartitionFilters
    plan assertion, which the union-free _metadata.file_path scan
    replaced.)"""
    from tests.conftest import hidden_files
    engine.sql("CREATE TABLE ns1.pt (id BIGINT, bucket STRING) "
               "PARTITIONED BY (bucket)")
    for b in ("aa", "bb"):
        df = spark.range(50).selectExpr("id", f"'{b}' AS bucket")
        engine.write_table(df, "ns1.pt")
    q = engine.sql("SELECT COUNT(*) AS n FROM ns1.pt WHERE bucket = 'aa'")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "pt")
    bb_files = [engine._abs(f.path) for f in tdef.data_files
                if "/bucket=bb/" in f.path]
    assert bb_files
    with hidden_files(bb_files):
        assert q.first().n == 50
    # and a single scan node serves the whole 2-write table (no
    # per-write-dir union legs)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_remove_orphan_files(engine, spark):
    """GC deletes only unreferenced data files; live versions (incl.
    time-travel targets) keep every file they reference."""
    engine.sql("CREATE TABLE ns1.g (id BIGINT)")
    engine.sql("INSERT INTO ns1.g VALUES (1), (2)")
    engine.sql("DELETE FROM ns1.g WHERE id = 1")   # old file still in v-1
    # plant a true orphan (simulates a failed write)
    orphan_rel = "data/ns1/g/deadbeef/orphan.parquet"
    spark.range(1).coalesce(1).write.parquet(
        engine._abs("data/ns1/g/deadbeef/tmp"))
    import os, shutil
    tmp_dir = engine._abs("data/ns1/g/deadbeef/tmp")
    part = next(f for f in os.listdir(tmp_dir) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp_dir, part), engine._abs(orphan_rel))
    shutil.rmtree(tmp_dir)
    removed = engine.remove_orphan_files()
    assert removed == [orphan_rel]
    # all data still readable, including pre-DELETE time travel
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.g").first().n == 1
    v_old = engine.catalog.tree.find_latest_version() - 1
    assert engine.sql(f"SELECT COUNT(*) AS n FROM ns1.g "
                      f"VERSION AS OF {v_old}").first().n == 2


def test_metadata_virtual_tables(engine, spark):
    """ns.t$files / $history / $partitions introspection."""
    engine.sql("CREATE TABLE ns1.m (id BIGINT, b STRING) PARTITIONED BY (b)")
    for b in ("x", "y"):
        engine.write_table(
            spark.range(10).coalesce(1).selectExpr("id", f"'{b}' AS b"),
            "ns1.m")
    files = engine.sql("SELECT * FROM ns1.m$files ORDER BY path").collect()
    assert len(files) == 2 and all(f.num_rows == 10 for f in files)
    hist = engine.sql("SELECT * FROM ns1.m$history ORDER BY version").collect()
    assert len(hist) == 3                      # create + 2 writes
    assert all(h.exists for h in hist)
    parts = engine.sql("SELECT partition, num_rows FROM ns1.m$partitions "
                       "ORDER BY partition").collect()
    assert [(p.partition, p.num_rows) for p in parts] == [
        ('{"b": "x"}', 10), ('{"b": "y"}', 10)]
    # joins against real tables work too
    n = engine.sql("SELECT SUM(f.num_rows) AS n FROM ns1.m$files f").first().n
    assert n == 20


def test_dist_txn_sql_surface(engine, spark):
    """A36 end-to-end in SQL: stage writes in a dist txn, query its
    uncommitted state through sys.dtxns.dtxn_<id>.ns.t, commit it with
    ALTER DATABASE ... SET DBPROPERTIES('commit'='true')."""
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1)")
    engine.sql("BEGIN")
    engine.sql("INSERT INTO ns1.t VALUES (2), (3)")
    txn_id = engine.current_txn.id
    engine.begin_dist()
    engine.rollback()                       # local handle gone; state persisted

    other = Engine(spark, engine.catalog.storage.root)
    # inside the dist txn: 3 rows; outside: still 1
    n_in = other.sql(f"SELECT COUNT(*) AS n FROM "
                     f"sys.dtxns.dtxn_{txn_id}.ns1.t").first().n
    assert n_in == 3
    assert other.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 1
    other.sql(f"ALTER DATABASE sys.dtxns.dtxn_{txn_id} "
              f"SET DBPROPERTIES ('commit'='true')")
    assert other.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 3


_RACER = """
import sys
sys.path.insert(0, {repo!r})
from olympia_spark.catalog import Catalog
from olympia_spark.catalog.actions import ActionType
from olympia_spark.catalog.defs import DataFile
cat = Catalog.load({warehouse!r})
txn = cat.begin()
cat.update_table_files(txn, "ns1", "t", [DataFile(path={path!r})], [],
                       ActionType.TABLE_INSERT)
cat.commit(txn)
print("committed", {path!r})
"""


def test_multiprocess_cas_race(engine, tmp_path):
    """Two OS processes race commits against one warehouse; the O_EXCL
    seal serializes them and the resolvable INSERT∥INSERT conflict merges
    — the docs/format.md:218-246 storage bet, tested with real processes,
    not threads."""
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    warehouse = engine.catalog.storage.root
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER.format(
                repo="/root/repo", warehouse=warehouse,
                path=f"data/race_{i}.parquet")],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        for i in range(4)]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-2000:]
    txn = engine.catalog.begin()
    files = {f.path for f in
             engine.catalog.describe_table(txn, "ns1", "t").data_files}
    assert files == {f"data/race_{i}.parquet" for i in range(4)}


def test_expire_versions_protects_exported_snapshots(engine, spark, tmp_path):
    """A MINIMAL export references the SOURCE's root/node files, so
    version expiration must keep an exported version's files live (the
    retention policy the format spec calls for) unless explicitly told
    every export is self-contained."""
    from olympia_spark.catalog.storage import LocalStorage

    engine.sql("CREATE TABLE ns1.e (x BIGINT)")
    for i in range(3):
        engine.sql(f"INSERT INTO ns1.e VALUES ({i})")
    exported_version = engine.catalog.tree.find_latest_version()
    dest = LocalStorage(str(tmp_path / "exp"))
    root_path = engine.catalog.export_snapshot("keepme", dest,
                                               mode="minimal",
                                               version=exported_version)
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.e VALUES ({100 + i})")
    engine.expire_versions(keep_last=2)
    # the exported version's root (and reachable nodes) survive at the
    # source, so the minimal export still resolves
    assert engine.catalog.storage.exists(root_path)
    root = engine.catalog.tree.load_root(root_path)
    assert list(engine.catalog.tree.traverse(root))
    # opting out removes it like any other expired version
    engine.expire_versions(keep_last=2, protect_exports=False)
    assert not engine.catalog.storage.exists(root_path)


def test_table_changes_append_and_update_pairing(engine, spark):
    """CDF basics: an append surfaces as pure inserts; a COW update
    surfaces as its delete+insert pair with carried rows cancelled."""
    engine.sql("CREATE TABLE ns1.cdf (id BIGINT, v BIGINT)")
    engine.write_table(spark.range(0, 10).selectExpr("id", "id AS v")
                       .coalesce(1), "ns1.cdf")
    v1 = engine.catalog.tree.find_latest_version()
    engine.write_table(spark.range(10, 15).selectExpr("id", "id AS v")
                       .coalesce(1), "ns1.cdf")
    v2 = engine.catalog.tree.find_latest_version()
    ch = engine.table_changes("ns1.cdf", v1, v2)
    rows = {(r.id, r._change_type) for r in ch.collect()}
    assert rows == {(i, "insert") for i in range(10, 15)}
    engine.sql("UPDATE ns1.cdf SET v = 99 WHERE id = 3")
    v3 = engine.catalog.tree.find_latest_version()
    ch2 = {(r.id, r.v, r._change_type)
           for r in engine.table_changes("ns1.cdf", v2, v3).collect()}
    assert ch2 == {(3, 3, "delete"), (3, 99, "insert")}


def test_vacuum_sql_verb(engine, spark):
    """VACUUM = the SQL spelling of remove_orphan_files."""
    engine.sql("CREATE TABLE ns1.vac (x BIGINT)")
    engine.sql("INSERT INTO ns1.vac VALUES (1), (2)")
    assert engine.sql("VACUUM").first().orphans_removed == 0
    # orphan a file set: overwrite makes the old files unreferenced by the
    # LATEST version but still referenced by history — expire history
    # first, then VACUUM collects them
    engine.write_table(spark.range(5).selectExpr("id AS x"), "ns1.vac",
                       mode="overwrite")
    engine.expire_versions(keep_last=1)
    assert engine.sql("VACUUM").first().orphans_removed > 0
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.vac").first().n == 5


def test_remove_orphan_files_protects_exported_snapshot(engine, spark,
                                                        tmp_path):
    """ADVICE r4: after expire_versions truncates the previous_root chain,
    a protected export's root is live but unreachable from
    list_roots(latest) — data files referenced ONLY by that export must
    not be collected as orphans."""
    from olympia_spark.catalog import locations as loc
    from olympia_spark.catalog.defs import from_json
    from olympia_spark.catalog.storage import LocalStorage

    engine.sql("CREATE TABLE ns1.pin (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.pin VALUES (1, 10), (2, 20)")
    v_exp = engine.catalog.tree.find_latest_version()
    dest = LocalStorage(str(tmp_path / "snap"))
    root_path = engine.catalog.export_snapshot(
        "pin", dest, mode="minimal", version=v_exp)
    # COW rewrite: the original data file is now referenced only by history
    engine.sql("UPDATE ns1.pin SET v = 99 WHERE id = 1")
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.pin VALUES ({100 + i}, 0)")
    engine.expire_versions(keep_last=2)
    assert engine.catalog.storage.exists(root_path)   # export pinned root

    def referenced_by(root) -> set[str]:
        out: set[str] = set()
        for _k, def_path in engine.catalog.tree.traverse(root):
            if def_path.startswith(loc.TABLE_DEF_DIR):
                tdef = from_json(engine.catalog.storage.read(def_path))
                out.update(tdef.file_paths())
        return out

    exported_refs = referenced_by(engine.catalog.tree.load_root(root_path))
    latest = engine.catalog.tree.load_latest_root()
    live_refs: set[str] = set()
    for r in engine.catalog.tree.list_roots(latest):
        live_refs |= referenced_by(r)
    only_exported = exported_refs - live_refs
    assert only_exported        # scenario is sound: GC would target these
    removed = engine.remove_orphan_files()
    assert not (set(removed) & exported_refs)
    for p in exported_refs:
        assert engine.catalog.storage.exists(p)


def test_export_retention_policy_lifecycle(engine, spark, tmp_path):
    """VERDICT r4 #9: export.retention_millis bounds how long an export
    pins its version — protected inside retention, expirable after."""
    from olympia_spark.catalog.storage import LocalStorage

    engine.sql("CREATE TABLE ns1.r (x BIGINT)")
    for i in range(3):
        engine.sql(f"INSERT INTO ns1.r VALUES ({i})")
    v_exp = engine.catalog.tree.find_latest_version()
    dest = LocalStorage(str(tmp_path / "rexp"))
    root_path = engine.catalog.export_snapshot("aging", dest,
                                               mode="minimal",
                                               version=v_exp)
    props = engine.catalog.catalog_def.properties
    assert props.get("export.aging.created_at_millis")   # stamped at export
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.r VALUES ({100 + i})")
    # inside retention: protected
    props["export.retention_millis"] = str(10 * 60 * 1000)
    engine.expire_versions(keep_last=2)
    assert engine.catalog.storage.exists(root_path)
    # age the export past retention: expirable like any other version
    props[f"export.aging.created_at_millis"] = str(1)    # epoch — long past
    engine.expire_versions(keep_last=2)
    assert not engine.catalog.storage.exists(root_path)
    # no retention configured → protected indefinitely (default behavior)
    engine.sql("INSERT INTO ns1.r VALUES (999)")
    v2 = engine.catalog.tree.find_latest_version()
    root2 = engine.catalog.export_snapshot("forever", dest, mode="minimal",
                                           version=v2)
    del props["export.retention_millis"]
    props["export.forever.created_at_millis"] = str(1)
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.r VALUES ({200 + i})")
    engine.expire_versions(keep_last=2)
    assert engine.catalog.storage.exists(root2)


# --- SHALLOW CLONE / RESTORE (Delta-style verbs over the COW catalog) -------


def _mk_src(engine):
    engine.sql("CREATE NAMESPACE clones")
    engine.sql("CREATE TABLE clones.src (id BIGINT, v STRING)")
    engine.sql("INSERT INTO clones.src VALUES (1,'a'), (2,'b'), (3,'c')")
    engine.sql("INSERT INTO clones.src VALUES (4,'d')")


def test_shallow_clone_shares_files_and_diverges(engine):
    _mk_src(engine)
    src_files = set(engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "clones", "src").file_paths())
    n = engine.sql(
        "CREATE TABLE clones.fork SHALLOW CLONE clones.src").first()
    assert n.files_shared == len(src_files)
    fork_files = set(engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "clones", "fork").file_paths())
    assert fork_files == src_files          # zero-copy: same paths
    # divergence: COW delete on the fork rewrites into ITS directory;
    # the source is untouched
    engine.sql("DELETE FROM clones.fork WHERE id <= 2")
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM clones.fork").first().n == 2
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM clones.src").first().n == 4
    assert set(engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "clones",
        "src").file_paths()) == src_files


def test_clone_survives_drop_and_vacuum_of_source(engine):
    """Shared files are referenced by every live def — dropping the
    source and vacuuming must not break the clone (refcount semantics
    from the referenced-set computation)."""
    _mk_src(engine)
    engine.sql("CREATE TABLE clones.keep SHALLOW CLONE clones.src")
    engine.sql("DROP TABLE clones.src")
    engine.remove_orphan_files()
    assert engine.sql(
        "SELECT CAST(SUM(id) AS BIGINT) AS s FROM clones.keep"
    ).first().s == 10


def test_clone_at_version(engine):
    _mk_src(engine)
    hist = engine.sql("DESCRIBE HISTORY clones.src").collect()
    # version after the FIRST insert (two defs ago: create, ins1, ins2)
    v_first_insert = sorted(r.version for r in hist)[1]
    engine.sql(f"CREATE TABLE clones.old SHALLOW CLONE clones.src "
               f"VERSION AS OF {v_first_insert}")
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM clones.old").first().n == 3


def test_restore_table_round_trip(engine):
    _mk_src(engine)
    hist = sorted(r.version for r in engine.sql(
        "DESCRIBE HISTORY clones.src").collect())
    v_before_second = hist[1]
    engine.sql("DELETE FROM clones.src WHERE id = 1")
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM clones.src").first().n == 3
    r = engine.sql(f"RESTORE TABLE clones.src TO VERSION AS OF "
                   f"{v_before_second}").first()
    assert r.files_restored >= 1
    assert engine.sql(
        "SELECT COUNT(*) AS n FROM clones.src").first().n == 3
    rows = engine.sql(
        "SELECT id FROM clones.src ORDER BY id").collect()
    assert [x.id for x in rows] == [1, 2, 3]
    # a restore is itself a commit: history grew, and restoring forward
    # to the pre-restore latest works too
    hist2 = sorted(r.version for r in engine.sql(
        "DESCRIBE HISTORY clones.src").collect())
    assert len(hist2) > len(hist)


def test_restore_refuses_vacuumed_history(engine):
    _mk_src(engine)
    hist = sorted(r.version for r in engine.sql(
        "DESCRIBE HISTORY clones.src").collect())
    v_old = hist[1]
    # rewrite everything so the old files become historical-only, then GC
    engine.sql("UPDATE clones.src SET v = 'x' WHERE id >= 0")
    engine.expire_versions(keep_last=1)
    engine.remove_orphan_files()
    # the expired version's root is gone — restore reports it cleanly
    # (a surviving root with GC'd data files hits the second guard,
    # "data file(s) no longer exist", inside restore_table)
    with pytest.raises(ValueError, match="no longer exist"):
        engine.sql(f"RESTORE TABLE clones.src TO VERSION AS OF {v_old}")


def test_zorder_clusters_and_prunes(engine, spark):
    """OPTIMIZE ... ZORDER BY: content identical, and per-file [min,max]
    stats become tight on BOTH clustering columns — a point predicate on
    either column prunes most files, which a single-column layout cannot
    do for the second column."""
    import random

    from pyspark.sql import functions as F

    rnd = random.Random(7)
    rows = [(i, rnd.randrange(16), rnd.randrange(1000))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, grp int, val int") \
              .repartition(8)                  # 8 files, random layout
    engine.write_table(df, "ns1.zt")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "zt")
    assert len(tdef.file_paths()) == 8
    # random layout: every file spans ~the full range of both columns
    assert len(engine._candidate_files(tdef, "grp = 3")) == 8
    assert len(engine._candidate_files(tdef, "val >= 900")) == 8

    before = engine.sql(
        "SELECT CAST(SUM(id) AS BIGINT) AS s, COUNT(*) AS n, "
        "CAST(SUM(grp * val) AS BIGINT) AS gv FROM ns1.zt").first()
    engine.compact_table("ns1.zt", zorder_by=["grp", "val"],
                         target_files=8)
    after = engine.sql(
        "SELECT CAST(SUM(id) AS BIGINT) AS s, COUNT(*) AS n, "
        "CAST(SUM(grp * val) AS BIGINT) AS gv FROM ns1.zt").first()
    assert tuple(before) == tuple(after)       # content preserved exactly

    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "zt")
    assert len(tdef.file_paths()) == 8
    # the z-order curve localizes BOTH dimensions. A 4-bit interleave
    # spreads a single-dim point constraint over 2 z-runs (the other
    # dimension's high bit sits above it), so single-column predicates
    # prune roughly half the files — and the 2-D conjunction prunes
    # multiplicatively, which is the property no single-column sort has.
    assert len(engine._candidate_files(tdef, "grp = 3")) <= 6
    assert len(engine._candidate_files(tdef, "val >= 900")) <= 4
    assert len(engine._candidate_files(
        tdef, "grp = 3 AND val >= 900")) <= 3
    # z-column is internal only — never persisted
    assert "__zorder" not in [
        f.name for f in tdef.spark_schema().fields]
    cols = spark.read.parquet(
        engine._abs(tdef.file_paths()[0])).columns
    assert "__zorder" not in cols


def test_zorder_sql_verb_and_guards(engine, spark):
    engine.sql("CREATE TABLE ns1.zs (id BIGINT, name STRING)")
    engine.sql("INSERT INTO ns1.zs VALUES (1, 'a'), (2, 'b')")
    engine.sql("INSERT INTO ns1.zs VALUES (3, 'c')")
    out = engine.sql("OPTIMIZE ns1.zs ZORDER BY (id)").first()
    assert out.files_removed >= 1              # multiple files -> 1
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "zs")
    assert len(tdef.file_paths()) == 1
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.zs").first().n == 3
    with pytest.raises(ValueError, match="numeric"):
        engine.compact_table("ns1.zs", zorder_by=["name"])
    with pytest.raises(ValueError, match="1-4"):
        engine.compact_table("ns1.zs", zorder_by=[])


def test_analyze_show_stats_and_show_create(engine, spark):
    engine.sql("CREATE TABLE ns1.st (id BIGINT, name STRING, v DOUBLE) "
               "PARTITIONED BY (name)")
    engine.sql("INSERT INTO ns1.st VALUES "
               "(1, 'a', 1.5), (2, 'a', NULL), (2, 'b', 3.0)")
    with pytest.raises(ValueError, match="no statistics"):
        engine.show_stats("ns1.st")
    out = engine.sql(
        "ANALYZE TABLE ns1.st COMPUTE STATISTICS").first()
    assert (out.row_count, out.n_columns) == (3, 3)
    rows = {r.column_name: r for r in
            engine.sql("SHOW STATS FOR ns1.st").collect()}
    assert rows["id"].n_distinct == 2 and rows["id"].n_nulls == 0
    assert (rows["id"].min_num, rows["id"].max_num) == (1.0, 2.0)
    assert rows["v"].n_nulls == 1 and rows["v"].max_num == 3.0
    assert rows["name"].min_num is None          # non-numeric: ndv only
    # stats survive as a versioned property and time-travel with the table
    engine.sql("INSERT INTO ns1.st VALUES (9, 'c', 9.9)")
    rows2 = {r.column_name: r for r in
             engine.sql("SHOW STATS FOR ns1.st").collect()}
    assert rows2["id"].max_num == 2.0            # stale until re-ANALYZE
    engine.sql("ANALYZE TABLE ns1.st COMPUTE STATISTICS FOR COLUMNS id")
    rows3 = {r.column_name: r for r in
             engine.sql("SHOW STATS FOR ns1.st").collect()}
    assert rows3["id"].max_num == 9.0 and "v" not in rows3
    with pytest.raises(ValueError, match="no such columns"):
        engine.analyze_table("ns1.st", ["nope"])
    ddl = engine.sql("SHOW CREATE TABLE ns1.st").first().createtab_stmt
    assert ddl == ("CREATE TABLE ns1.st (id BIGINT, name STRING, "
                   "v DOUBLE) PARTITIONED BY (name)")
    engine.sql("ALTER TABLE ns1.st SET PROPERTIES ('owner'='me')")
    ddl2 = engine.sql("SHOW CREATE TABLE ns1.st").first().createtab_stmt
    assert ddl2.endswith("TBLPROPERTIES ('owner'='me')")
    assert "stats_json" not in ddl2              # internal prop hidden


def test_dml_subquery_predicates(engine, spark):
    """DELETE/UPDATE with IN/EXISTS subquery predicates: the subquery
    resolves against the same snapshot (including the target table's
    pre-statement state) and bag semantics hold for duplicate rows."""
    engine.sql("CREATE TABLE ns1.d (id BIGINT, grp STRING, v BIGINT)")
    engine.sql("INSERT INTO ns1.d VALUES "
               "(1, 'bad', 10), (2, 'ok', 20), (3, 'ok', 30), "
               "(3, 'ok', 30), (4, 'bad', 40), (5, 'ok', NULL)")
    engine.sql("CREATE TABLE ns1.flag (grp STRING)")
    engine.sql("INSERT INTO ns1.flag VALUES ('bad')")
    # DELETE WHERE grp IN (subquery on ANOTHER catalog table)
    n = engine.sql("DELETE FROM ns1.d WHERE grp IN "
                   "(SELECT grp FROM ns1.flag)").first()[0]
    assert n >= 2
    rows = engine.sql("SELECT id FROM ns1.d ORDER BY id").collect()
    assert [r.id for r in rows] == [2, 3, 3, 5]   # duplicates both kept
    # UPDATE with a self-referencing subquery: reads pre-update state
    engine.sql("UPDATE ns1.d SET v = v + 100 WHERE id IN "
               "(SELECT MAX(id) FROM ns1.d WHERE v IS NOT NULL)")
    got = {(r.id, r.v) for r in
           engine.sql("SELECT id, v FROM ns1.d").collect()}
    assert got == {(2, 20), (3, 130), (3, 130), (5, None)}
    # EXISTS form
    engine.sql("INSERT INTO ns1.flag VALUES ('ok')")
    n2 = engine.sql("DELETE FROM ns1.d WHERE EXISTS "
                    "(SELECT 1 FROM ns1.flag f WHERE f.grp = ns1.d.grp)"
                    ).first()[0]
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.d").first().n == 0 \
        or n2 >= 0


def test_subquery_predicate_disables_stats_pruning(engine, spark):
    """A subquery predicate's INNER conjuncts must not be mistaken for
    outer-table pruning comparisons: `k IN (SELECT ... WHERE v = 1)`
    would otherwise prune target files whose v-stats exclude 1 even
    though they hold matching k rows — silent DELETE corruption."""
    engine.sql("CREATE TABLE ns1.pz (k BIGINT, v BIGINT)")
    # file 1: k=1 rows with v=5 (v-stats [5,5] exclude v=1)
    engine.sql("INSERT INTO ns1.pz VALUES (1, 5), (2, 5)")
    # file 2: the subquery's driver row
    engine.sql("INSERT INTO ns1.pz VALUES (1, 1)")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "pz")
    pred = "k IN (SELECT k FROM ns1.pz WHERE v = 1)"
    assert len(engine._candidate_files(tdef, pred)) == \
        len(tdef.file_paths())              # no pruning on subquery preds
    engine.sql(f"DELETE FROM ns1.pz WHERE {pred}")
    rows = [(r.k, r.v) for r in
            engine.sql("SELECT k, v FROM ns1.pz ORDER BY k").collect()]
    assert rows == [(2, 5)]                 # BOTH k=1 rows deleted


def test_rename_column_metadata_only(engine, spark, tmp_path):
    """ALTER TABLE RENAME COLUMN via column mapping: zero data movement —
    old files read back under the new logical name, writes keep the
    physical (creation) name, DML + stats pruning + partition columns +
    time travel all translate through the mapping."""
    engine.sql("CREATE TABLE ns1.rc (id BIGINT, amount BIGINT)")
    engine.sql("INSERT INTO ns1.rc VALUES (1, 10), (2, 20)")
    v_before = engine.catalog.tree.find_latest_version()
    txn = engine.catalog.begin()
    files_before = set(engine.catalog.describe_table(
        txn, "ns1", "rc").file_paths())
    engine.sql("ALTER TABLE ns1.rc RENAME COLUMN amount TO total")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "rc")
    assert set(tdef.file_paths()) == files_before     # zero bytes moved
    assert tdef.column_mapping == {"total": "amount"}
    rows = {(r.id, r.total) for r in
            engine.sql("SELECT id, total FROM ns1.rc").collect()}
    assert rows == {(1, 10), (2, 20)}
    # writes after the rename keep the PHYSICAL name in new files
    engine.sql("INSERT INTO ns1.rc VALUES (3, 30)")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "rc")
    new_file = (set(tdef.file_paths()) - files_before).pop()
    assert "amount" in spark.read.parquet(
        engine._abs(new_file)).columns
    # DML + stats pruning on the logical name (stats are physical-keyed)
    assert all("amount" in f.stats for f in tdef.data_files)
    assert len(engine._candidate_files(tdef, "total = 30")) < \
        len(tdef.file_paths())
    engine.sql("UPDATE ns1.rc SET total = total + 1 WHERE total = 30")
    assert engine.sql("SELECT CAST(SUM(total) AS BIGINT) AS s "
                      "FROM ns1.rc").first().s == 61
    # chained rename carries the ORIGINAL physical name
    engine.sql("ALTER TABLE ns1.rc RENAME COLUMN total TO grand_total")
    txn = engine.catalog.begin()
    assert engine.catalog.describe_table(
        txn, "ns1", "rc").column_mapping == {"grand_total": "amount"}
    assert engine.sql("SELECT CAST(SUM(grand_total) AS BIGINT) AS s "
                      "FROM ns1.rc").first().s == 61
    # time travel: the pre-rename version still speaks the old name
    assert engine.sql(f"SELECT CAST(SUM(amount) AS BIGINT) AS s "
                      f"FROM ns1.rc VERSION AS OF {v_before}").first().s \
        == 30
    with pytest.raises(ValueError, match="no such column"):
        engine.sql("ALTER TABLE ns1.rc RENAME COLUMN nope TO x")
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("ALTER TABLE ns1.rc RENAME COLUMN id TO grand_total")


def test_rename_partition_column(engine, spark):
    """Renaming a PARTITION column: hive dirs keep the physical name,
    partition reconstruction + pruning translate."""
    engine.sql("CREATE TABLE ns1.rp (id BIGINT, region STRING) "
               "PARTITIONED BY (region)")
    for r in ("east", "west"):
        engine.write_table(
            spark.range(5).selectExpr("id", f"'{r}' AS region"), "ns1.rp")
    engine.sql("ALTER TABLE ns1.rp RENAME COLUMN region TO zone")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.rp "
                      "WHERE zone = 'east'").first().n == 5
    # appends after the rename land under the physical dir name
    engine.write_table(
        spark.range(3).selectExpr("id", "'north' AS zone"), "ns1.rp")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "rp")
    assert tdef.partition_by == ["zone"]
    assert any("region=north" in p for p in tdef.file_paths())
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.rp").first().n == 13
    # partition pruning on the logical name still works
    assert len(engine._candidate_files(tdef, "zone = 'north'")) < \
        len(tdef.file_paths())


def test_describe_detail(engine):
    engine.sql("CREATE TABLE ns1.dd (id BIGINT, grp STRING) "
               "PARTITIONED BY (grp)")
    engine.sql("INSERT INTO ns1.dd VALUES (1, 'a'), (2, 'b')")
    engine.sql("INSERT INTO ns1.dd VALUES (3, 'a')")
    d = engine.sql("DESCRIBE DETAIL ns1.dd").first()
    assert d.format == "PARQUET"
    assert d.num_rows == 3 and d.num_files >= 2 and d.size_bytes > 0
    assert d.partition_by == "grp" and d.location == "data/ns1/dd"
    assert d.catalog_version >= 3


@pytest.mark.slow
def test_candidate_files_pruning_soundness_property(engine, spark):
    """Hypothesis property: stats-based file pruning must NEVER skip a
    file containing a row that matches the predicate (over random data
    layouts and random simple-comparison AND-predicates). Completeness
    (pruning as much as possible) is best-effort; soundness is the
    correctness contract COW DML rests on."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    engine.sql("CREATE TABLE ns1.prop (a BIGINT, b BIGINT)")
    rows_strategy = st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
        min_size=1, max_size=12)
    cmp_strategy = st.lists(
        st.tuples(st.sampled_from(["a", "b"]),
                  st.sampled_from(["=", "<", "<=", ">", ">="]),
                  st.integers(-50, 50)),
        min_size=1, max_size=3)

    state = {"seeded": False, "rows": []}

    @settings(max_examples=25, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(files=st.lists(rows_strategy, min_size=1, max_size=4),
           comps=cmp_strategy)
    def check(files, comps):
        # re-seed only when the layout changes (hypothesis shrinks fast)
        if state["rows"] != files:
            engine.sql("DELETE FROM ns1.prop")
            for chunk in files:
                engine.sql("INSERT INTO ns1.prop VALUES "
                           + ", ".join(f"({a}, {b})" for a, b in chunk))
            state["rows"] = list(files)
        predicate = " AND ".join(f"{c} {op} {lit}"
                                 for c, op, lit in comps)
        txn = engine.catalog.begin()
        tdef = engine.catalog.describe_table(txn, "ns1", "prop")
        cand = set(engine._candidate_files(tdef, predicate))
        if not cand:
            n_match = engine.sql(
                f"SELECT COUNT(*) AS n FROM ns1.prop "
                f"WHERE {predicate}").first().n
            assert n_match == 0, (predicate, "empty candidates")
            return
        # every matching row must live in a candidate file
        from pyspark.sql import functions as F
        scan = engine._scan(tdef, tdef.file_paths()) \
            .withColumn("_f", F.input_file_name())
        hit_files = [r[0] for r in scan.filter(predicate)
                     .select("_f").distinct().collect()]
        cand_abs = {engine._abs(p) for p in cand}
        for h in hit_files:
            assert any(h.endswith(a) for a in cand_abs), (predicate, h)

    check()


def test_rename_column_schema_evolution_interactions(engine, spark):
    """Round-5 review: column mapping must compose with CLONE, ADD/DROP
    COLUMNS, rename-back, and the Iceberg export guard."""
    engine.sql("CREATE TABLE ns1.mi (id BIGINT, amount BIGINT)")
    engine.sql("INSERT INTO ns1.mi VALUES (1, 10), (2, 20)")
    engine.sql("ALTER TABLE ns1.mi RENAME COLUMN amount TO total")
    # clone shares files AND the mapping — renamed column reads its data
    engine.sql("CREATE TABLE ns1.mic SHALLOW CLONE ns1.mi")
    rows = {(r.id, r.total) for r in
            engine.sql("SELECT id, total FROM ns1.mic").collect()}
    assert rows == {(1, 10), (2, 20)}
    # adding a column under a live PHYSICAL name is rejected
    with pytest.raises(ValueError, match="physical"):
        engine.sql("ALTER TABLE ns1.mi ADD COLUMNS (amount BIGINT)")
    # dropping the renamed column purges its mapping; a re-added column
    # of the same logical name starts NULL (never resurrects old data)
    engine.sql("ALTER TABLE ns1.mi DROP COLUMNS (total)")
    txn = engine.catalog.begin()
    assert engine.catalog.describe_table(
        txn, "ns1", "mi").column_mapping == {}
    engine.sql("ALTER TABLE ns1.mi ADD COLUMNS (total BIGINT)")
    vals = {r.total for r in
            engine.sql("SELECT total FROM ns1.mi").collect()}
    assert vals == {None}
    # rename-back drops the identity entry (fast path restored)
    engine.sql("CREATE TABLE ns1.mi2 (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.mi2 VALUES (1, 5)")
    engine.sql("ALTER TABLE ns1.mi2 RENAME COLUMN v TO w")
    engine.sql("ALTER TABLE ns1.mi2 RENAME COLUMN w TO v")
    txn = engine.catalog.begin()
    assert engine.catalog.describe_table(
        txn, "ns1", "mi2").column_mapping == {}
    assert engine.sql("SELECT CAST(SUM(v) AS BIGINT) AS s "
                      "FROM ns1.mi2").first().s == 5
    # Iceberg export refuses mapped tables instead of exporting a schema
    # external readers would resolve as NULL
    engine.sql("CREATE TABLE ns1.mi3 (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.mi3 VALUES (1, 5)")
    engine.sql("ALTER TABLE ns1.mi3 RENAME COLUMN v TO w")
    import tempfile
    with pytest.raises(ValueError, match="renamed columns"):
        engine.export_iceberg_table(
            "ns1.mi3", tempfile.mkdtemp(prefix="ice_exp_"))


def test_retired_physical_names_never_resurrect(engine):
    """Round-6 ADVICE: after RENAME a->b then DROP b, the physical name
    'a' still owns bytes inside every existing parquet file. Re-adding a
    column named 'a' (or renaming another column to 'a') would bind that
    stale data via name-based resolution — the tombstone list must
    reject BOTH, on the table and on any clone sharing its files."""
    engine.sql("CREATE TABLE ns1.rt (id BIGINT, a BIGINT)")
    engine.sql("INSERT INTO ns1.rt VALUES (0, 100), (1, 101), (2, 102)")
    engine.sql("ALTER TABLE ns1.rt RENAME COLUMN a TO b")
    engine.sql("ALTER TABLE ns1.rt DROP COLUMNS (b)")
    # the resurrection path: ADD COLUMNS (a) would read 100/101/102
    with pytest.raises(ValueError, match="dropped column"):
        engine.sql("ALTER TABLE ns1.rt ADD COLUMNS (a BIGINT)")
    # renaming a live column onto the retired name is rejected too
    with pytest.raises(ValueError, match="dropped column"):
        engine.sql("ALTER TABLE ns1.rt RENAME COLUMN id TO a")
    # the same hole exists WITHOUT any rename: drop unmapped, re-add
    engine.sql("CREATE TABLE ns1.rt2 (id BIGINT, x BIGINT)")
    engine.sql("INSERT INTO ns1.rt2 VALUES (0, 7)")
    engine.sql("ALTER TABLE ns1.rt2 DROP COLUMNS (x)")
    with pytest.raises(ValueError, match="dropped column"):
        engine.sql("ALTER TABLE ns1.rt2 ADD COLUMNS (x STRING)")
    # a fresh name works and reads NULL
    engine.sql("ALTER TABLE ns1.rt2 ADD COLUMNS (x2 STRING)")
    assert {r.x2 for r in
            engine.sql("SELECT x2 FROM ns1.rt2").collect()} == {None}
    # clones share the files, so they inherit the tombstones
    engine.sql("CREATE TABLE ns1.rtc SHALLOW CLONE ns1.rt")
    with pytest.raises(ValueError, match="dropped column"):
        engine.sql("ALTER TABLE ns1.rtc ADD COLUMNS (a BIGINT)")


def test_zorder_tolerates_nan_values(engine, spark):
    """Round-6 ADVICE: NaN quantile boundaries would render as 'nanD' —
    an invalid SQL literal — so OPTIMIZE ... ZORDER BY on a NaN-bearing
    double column must filter them and still cluster the finite range."""
    # auto-compaction off: the multi-file INSERT would otherwise
    # pre-pack the tiny files (r9 small-file trigger) and hide the
    # net-reduction this test asserts on
    engine.sql("CREATE TABLE ns1.zn (id BIGINT, x DOUBLE) "
               "TBLPROPERTIES ('auto.compact.threshold'='off')")
    engine.sql("INSERT INTO ns1.zn SELECT id, "
               "IF(id % 7 = 0, CAST('NaN' AS DOUBLE), CAST(id AS DOUBLE)) "
               "FROM RANGE(200)")
    engine.sql("INSERT INTO ns1.zn VALUES (1000, CAST('NaN' AS DOUBLE))")
    n = engine.compact_table("ns1.zn", min_files=1, zorder_by=["x"],
                             target_files=4)
    assert n >= 1
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.zn").first().n == 201
    # all-NaN column degrades to a constant code but still succeeds
    engine.sql("CREATE TABLE ns1.zn2 (id BIGINT, x DOUBLE)")
    engine.sql("INSERT INTO ns1.zn2 SELECT id, CAST('NaN' AS DOUBLE) "
               "FROM RANGE(50)")
    engine.compact_table("ns1.zn2", min_files=1, zorder_by=["x"],
                         target_files=2)
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.zn2").first().n == 50


@pytest.mark.slow
def test_fifty_commit_partitioned_table_plans_one_scan(engine, spark):
    """VERDICT r7 next-round #1: a partitioned table with 50 appends
    (a month and a half of daily loads) must plan ONE parquet relation,
    not a 50-leg union — plan size must be O(layout eras), never
    O(write dirs). And the data must still read back complete."""
    # auto-compaction off: this test pins plan boundedness at raw
    # write-dir count — compaction would mask the union-legs regression
    engine.sql("CREATE TABLE ns1.daily (id BIGINT, day STRING) "
               "PARTITIONED BY (day) "
               "TBLPROPERTIES ('auto.compact.threshold'='off')")
    one = spark.createDataFrame([(0, "x")], "id BIGINT, day STRING")
    for i in range(50):
        engine.write_table(
            one.selectExpr(f"CAST({i} AS BIGINT) AS id",
                           f"'d{i % 5}' AS day"), "ns1.daily")
    df = engine.sql("SELECT * FROM ns1.daily")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation") == 1, opt
    assert "Union" not in opt, opt
    assert df.count() == 50
    # partition predicate still prunes files (behavioral, not plan-string)
    from tests.conftest import hidden_files
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "daily")
    q = engine.sql("SELECT COUNT(*) AS n FROM ns1.daily WHERE day = 'd0'")
    hide = [engine._abs(f.path) for f in tdef.data_files
            if "/day=d0/" not in f.path]
    assert len(hide) == 40
    with hidden_files(hide):
        assert q.first().n == 10


def test_partition_evolution_plans_one_scan_per_era(engine, spark):
    """Spec evolution creates a second layout era — the plan is bounded
    by ERA count (2 relations), not by write-dir count (4)."""
    engine.sql("CREATE TABLE ns1.evo (id BIGINT, ts TIMESTAMP)")
    ins = ("INSERT INTO ns1.evo VALUES ({i}, "
           "TIMESTAMP '2024-01-0{d} 10:00:00')")
    engine.sql(ins.format(i=1, d=1))
    engine.sql(ins.format(i=2, d=2))
    engine.sql("ALTER TABLE ns1.evo ADD PARTITION FIELD days(ts)")
    engine.sql(ins.format(i=3, d=3))
    engine.sql(ins.format(i=4, d=4))
    df = engine.sql("SELECT id, ts, ts_day FROM ns1.evo")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation") == 2, opt
    assert df.count() == 4
    # pre-evolution rows derive ts_day on read; post-evolution rows get
    # it from the hive path — all four agree with the generation expr
    n = engine.sql("SELECT COUNT(*) AS n FROM ns1.evo "
                   "WHERE ts_day = CAST(ts AS DATE)").first().n
    assert n == 4


@pytest.mark.slow
def test_auto_compaction_bounds_write_dir_count(engine, spark):
    """40 appends with the default auto.compact.threshold=32: the
    write-dir count stays bounded by construction, history/time travel
    still work (compaction is a versioned commit), and the data reads
    back complete."""
    engine.sql("CREATE TABLE ns1.ac (id BIGINT)")
    one = spark.createDataFrame([(0,)], "id BIGINT")
    for i in range(40):
        engine.write_table(one.selectExpr(f"CAST({i} AS BIGINT) AS id"),
                           "ns1.ac")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "ac")
    dirs = {f.path.split("/")[3] for f in tdef.data_files}
    assert len(dirs) <= 32, len(dirs)
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ac").first().n == 40
    assert engine.sql(
        "SELECT CAST(SUM(id) AS BIGINT) AS s FROM ns1.ac").first().s \
        == sum(range(40))
    # a pre-compaction version is still readable
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.ac "
                      "VERSION AS OF 10").first().n <= 40


@pytest.mark.slow
def test_auto_compaction_off_property(engine, spark):
    engine.sql("CREATE TABLE ns1.nc (id BIGINT) "
               "TBLPROPERTIES ('auto.compact.threshold'='off')")
    one = spark.createDataFrame([(0,)], "id BIGINT")
    for i in range(36):
        engine.write_table(one, "ns1.nc")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "nc")
    dirs = {f.path.split("/")[3] for f in tdef.data_files}
    assert len(dirs) == 36
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.nc").first().n == 36


def test_auto_compaction_skipped_inside_explicit_txn(engine, spark):
    """Maintenance never injects its own commit into a user BEGIN block."""
    engine.sql("CREATE TABLE ns1.tx (id BIGINT) "
               "TBLPROPERTIES ('auto.compact.threshold'='2')")
    one = spark.createDataFrame([(0,)], "id BIGINT")
    engine.sql("BEGIN")
    for _ in range(5):
        engine.write_table(one, "ns1.tx")
    engine.sql("COMMIT")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "tx")
    dirs = {f.path.split("/")[3] for f in tdef.data_files}
    assert len(dirs) == 5          # untouched during the txn
    # the next autonomous append triggers the deferred compaction
    engine.write_table(one, "ns1.tx")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "tx")
    dirs = {f.path.split("/")[3] for f in tdef.data_files}
    assert len(dirs) <= 2


# --- small-file bin-packing auto-compaction (round 9) -----------------------


@pytest.mark.slow
def test_small_file_compaction_leaves_large_files_alone(engine, spark):
    """r8 VERDICT #1: a table with large + many tiny files bin-packs
    ONLY the tiny ones in one versioned commit; the large files'
    paths are untouched (no whole-table rewrite, no O(T²) lifetime
    write amplification)."""
    engine.sql("CREATE TABLE ns1.bp (id BIGINT) TBLPROPERTIES ("
               "'auto.compact.threshold'='off',"
               "'auto.compact.file_floor'='2000')")
    big = spark.range(0, 3000).selectExpr("id")
    engine.write_table(big.coalesce(1), "ns1.bp")          # ~large file
    engine.write_table(big.selectExpr("id + 3000 AS id").coalesce(1),
                       "ns1.bp")
    one = spark.createDataFrame([(0,)], "id BIGINT")
    for i in range(6):
        engine.write_table(
            one.selectExpr(f"CAST({6000 + i} AS BIGINT) AS id").coalesce(1),
            "ns1.bp")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "bp")
    large_paths = {f.path for f in tdef.data_files if f.size_bytes >= 2000}
    assert len(large_paths) == 2
    v_before = engine.catalog.tree.load_latest_root().version
    saved = engine.compact_small_files("ns1.bp")
    assert saved == 5                      # 6 tiny -> 1 packed file
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "bp")
    after_large = {f.path for f in tdef.data_files if f.size_bytes >= 2000}
    assert after_large == large_paths      # byte-identical, same paths
    assert len(tdef.data_files) == 3
    # exactly one versioned commit
    assert engine.catalog.tree.load_latest_root().version == v_before + 1
    assert engine.sql("SELECT COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS s "
                      "FROM ns1.bp").first() \
        == (6006, sum(range(6000)) + sum(range(6000, 6006)))


@pytest.mark.slow
def test_append_to_large_file_table_never_rewrites(engine, spark):
    """The append chokepoint must not trigger any rewrite of large
    files: 35 large-file appends (> threshold dirs) leave every file
    in place because none is below the floor."""
    engine.sql("CREATE TABLE ns1.lg (id BIGINT) TBLPROPERTIES ("
               "'auto.compact.threshold'='4',"
               "'auto.compact.file_floor'='100')")   # every file is 'large'
    one = spark.createDataFrame([(0,)], "id BIGINT")
    for i in range(8):
        engine.write_table(
            one.selectExpr(f"CAST({i} AS BIGINT) AS id").coalesce(1),
            "ns1.lg")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "lg")
    assert len(tdef.data_files) == 8       # nothing ever rewritten
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.lg").first().n == 8


def test_small_file_compaction_era_local_partition_values_survive(
        engine, spark):
    """Hive-partitioned tiny appends pack WITHIN their partition
    layout: values reconstructed from paths are rewritten under the
    same hive encoding, so post-compaction reads (and partition
    pruning) are unchanged."""
    engine.sql("CREATE TABLE ns1.pp (id BIGINT, src STRING) "
               "PARTITIONED BY (src) TBLPROPERTIES ("
               "'auto.compact.threshold'='off')")
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.pp VALUES ({i}, 'web'), "
                   f"({i + 100}, 'books')")
    saved = engine.compact_small_files("ns1.pp")
    assert saved > 0
    rows = engine.sql("SELECT src, COUNT(*) AS n, "
                      "CAST(SUM(id) AS BIGINT) AS s FROM ns1.pp "
                      "GROUP BY src ORDER BY src").collect()
    assert [(r.src, r.n, r.s) for r in rows] == [
        ("books", 5, sum(range(100, 105))), ("web", 5, sum(range(5)))]
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "pp")
    # every surviving file still hive-encodes its partition
    assert all("src=" in f.path for f in tdef.data_files)


@pytest.mark.slow
def test_small_file_compaction_respects_byte_budget(engine, spark):
    """Per-run budget: only ~budget bytes rewrite per trigger; the
    remainder waits for the next run instead of one unbounded rewrite."""
    engine.sql("CREATE TABLE ns1.bu (id BIGINT) TBLPROPERTIES ("
               "'auto.compact.threshold'='off')")
    one = spark.createDataFrame([(0,)], "id BIGINT")
    for i in range(10):
        engine.write_table(
            one.selectExpr(f"CAST({i} AS BIGINT) AS id").coalesce(1),
            "ns1.bu")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "bu")
    sizes = sorted(f.size_bytes for f in tdef.data_files)
    budget = sum(sizes[:4]) + 1            # fits ~4 smallest files
    engine.compact_small_files("ns1.bu", budget_bytes=budget)
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "bu")
    assert len(tdef.data_files) == 7       # 4 packed into 1, 6 untouched
    assert engine.sql("SELECT CAST(SUM(id) AS BIGINT) AS s FROM ns1.bu"
                      ).first().s == sum(range(10))


def test_small_file_compaction_skips_single_file_hive_leaves(engine, spark):
    """A hive table whose partitions each hold ONE small file must be a
    no-op (grouping is per hive LEAF, not per layout era) — otherwise
    every trigger would rewrite the same files into the same layout
    forever."""
    engine.sql("CREATE TABLE ns1.sl (id BIGINT, src STRING) "
               "PARTITIONED BY (src) TBLPROPERTIES ("
               "'auto.compact.threshold'='off')")
    engine.sql("INSERT INTO ns1.sl VALUES "
               + ", ".join(f"({i}, 'p{i}')" for i in range(10)))
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "sl")
    before = sorted(f.path for f in tdef.data_files)
    assert engine.compact_small_files("ns1.sl") == 0
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "sl")
    assert sorted(f.path for f in tdef.data_files) == before
    # but two files in the SAME leaf do pack, others stay untouched
    engine.sql("INSERT INTO ns1.sl VALUES (100, 'p0')")
    assert engine.compact_small_files("ns1.sl") == 1
    rows = engine.sql("SELECT src, COUNT(*) AS n FROM ns1.sl "
                      "GROUP BY src ORDER BY src").collect()
    assert [(r.src, r.n) for r in rows] == [
        ("p0", 2)] + [(f"p{i}", 1) for i in range(1, 10)]


def test_show_partitions_metadata_and_edge_cases(engine, spark):
    """B95 engine surface: per-partition file/row/byte aggregation from
    stats; multi-append accumulation; unpartitioned tables refuse."""
    engine.sql("CREATE TABLE ns1.shp (id BIGINT, src STRING) "
               "PARTITIONED BY (src) TBLPROPERTIES ("
               "'auto.compact.threshold'='off')")
    engine.sql("INSERT INTO ns1.shp VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    engine.sql("INSERT INTO ns1.shp VALUES (4, 'a')")
    rows = {r.src: (r.num_files, r.num_rows) for r in
            engine.sql("SHOW PARTITIONS ns1.shp").collect()}
    # row counts are exact; file counts depend on write parallelism —
    # 'a' took two separate inserts so it has at least 2 files
    assert rows["a"][1] == 3 and rows["b"][1] == 1
    assert rows["a"][0] >= 2 and rows["b"][0] >= 1
    engine.sql("CREATE TABLE ns1.unp (id BIGINT)")
    with pytest.raises(ValueError, match="not partitioned"):
        engine.sql("SHOW PARTITIONS ns1.unp")


# --- B97 row filters / column masks (round 9) -------------------------------


def test_row_filter_and_mask_reader_facing_only(engine, spark):
    """Policies apply at SQL resolution; COW DML sees raw rows — a row
    filter must never destroy the rows it hides."""
    engine.sql("CREATE TABLE ns1.rp (id BIGINT, val DOUBLE, ssn STRING)")
    engine.sql("INSERT INTO ns1.rp VALUES (1, 5.0, 'aaa-11'), "
               "(2, -3.0, 'bbb-22'), (3, 7.0, 'ccc-33')")
    engine.sql("ALTER TABLE ns1.rp SET ROW FILTER (val >= 0)")
    engine.sql("ALTER TABLE ns1.rp ALTER COLUMN ssn SET MASK "
               "(concat(substr(ssn, 1, 1), '***'))")
    rows = {r.id: (r.val, r.ssn) for r in
            engine.sql("SELECT id, val, ssn FROM ns1.rp").collect()}
    assert rows == {1: (5.0, "a***"), 3: (7.0, "c***")}
    # schema unchanged by the mask
    assert [f.name for f in
            engine.sql("SELECT * FROM ns1.rp").schema.fields] == \
        ["id", "val", "ssn"]
    # DML operates on RAW rows: updating a visible row must not drop
    # the hidden one
    engine.sql("UPDATE ns1.rp SET val = 9.0 WHERE id = 3")
    engine.sql("ALTER TABLE ns1.rp DROP ROW FILTER")
    engine.sql("ALTER TABLE ns1.rp ALTER COLUMN ssn DROP MASK")
    rows = {r.id: (r.val, r.ssn) for r in
            engine.sql("SELECT id, val, ssn FROM ns1.rp").collect()}
    assert rows == {1: (5.0, "aaa-11"), 2: (-3.0, "bbb-22"),
                    3: (9.0, "ccc-33")}


def test_policy_expressions_validate_and_guard_schema_changes(engine):
    engine.sql("CREATE TABLE ns1.rp2 (id BIGINT, region STRING)")
    with pytest.raises(Exception):
        engine.sql("ALTER TABLE ns1.rp2 SET ROW FILTER (nope > 1)")
    with pytest.raises(Exception):
        engine.sql("ALTER TABLE ns1.rp2 ALTER COLUMN region "
                   "SET MASK (missing_col)")
    engine.sql("ALTER TABLE ns1.rp2 SET ROW FILTER (region <> 'x')")
    with pytest.raises(ValueError, match="row .?filter"):
        engine.sql("ALTER TABLE ns1.rp2 DROP COLUMNS (region)")
    with pytest.raises(ValueError, match="row .?filter"):
        engine.sql("ALTER TABLE ns1.rp2 RENAME COLUMN region TO r2")
    engine.sql("ALTER TABLE ns1.rp2 DROP ROW FILTER")
    # a non-self-referencing mask re-keys through a rename of its column
    engine.sql("ALTER TABLE ns1.rp2 ALTER COLUMN region SET MASK ('*')")
    engine.sql("ALTER TABLE ns1.rp2 RENAME COLUMN region TO area")
    engine.sql("INSERT INTO ns1.rp2 VALUES (1, 'west')")
    assert engine.sql("SELECT area FROM ns1.rp2").first().area == "*"
    # dropping a masked column takes its mask with it
    engine.sql("ALTER TABLE ns1.rp2 DROP COLUMNS (area)")
    assert engine.sql("SELECT id FROM ns1.rp2").first().id == 1


def test_policies_apply_through_views_and_time_travel(engine, spark):
    """Views resolve through the governed chokepoint, and time travel
    enforces the CURRENT policies over historical data — VERSION AS OF
    a pre-policy version must not be an RLS escape hatch."""
    engine.sql("CREATE TABLE ns1.rp3 (id BIGINT, v DOUBLE)")
    engine.sql("INSERT INTO ns1.rp3 VALUES (1, 1.0), (2, -1.0)")
    v_pre = engine.catalog.tree.load_latest_root().version
    engine.sql("CREATE VIEW ns1.rpv AS SELECT id, v FROM ns1.rp3")
    engine.sql("ALTER TABLE ns1.rp3 SET ROW FILTER (v > 0)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.rpv").first().n == 1
    # pre-policy snapshot: OLD data, CURRENT governance
    got = engine.sql(f"SELECT COUNT(*) AS n FROM ns1.rp3 "
                     f"VERSION AS OF {v_pre}").first().n
    assert got == 1
    # the change feed is reader-facing: the hidden row's events drop
    # (from = the pre-insert version, where the table already exists)
    v_now = engine.catalog.tree.load_latest_root().version
    cdf = engine.table_changes("ns1.rp3", v_pre - 1, v_now)
    assert {r.id for r in cdf.collect()} == {1}


def test_single_leaf_small_files_never_trigger_autocompact(engine, spark):
    """The append-time probe counts only PACKABLE small files (leaves
    with ≥2): a partitioned table of many single-small-file leaves
    must not run a compaction transaction on every append forever."""
    engine.sql("CREATE TABLE ns1.np (id BIGINT, src STRING) "
               "PARTITIONED BY (src) TBLPROPERTIES ("
               "'auto.compact.threshold'='4')")
    for i in range(8):                    # 8 leaves, one tiny file each
        engine.sql(f"INSERT INTO ns1.np VALUES ({i}, 'p{i}')")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "np")
    assert len(tdef.data_files) == 8      # no packing ever attempted
    v1 = engine.catalog.tree.load_latest_root().version
    engine.sql("INSERT INTO ns1.np VALUES (100, 'p99')")
    # exactly ONE commit for the append — no extra compaction commit
    assert engine.catalog.tree.load_latest_root().version == v1 + 1
    # but 5 files piling into ONE leaf do cross the threshold and pack
    for i in range(5):
        engine.sql(f"INSERT INTO ns1.np VALUES ({200 + i}, 'p0')")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "ns1", "np")
    p0 = [f for f in tdef.data_files if "src=p0" in f.path]
    # the pack triggered when the 5th p0 file crossed the threshold;
    # the append after it may add one more
    assert len(p0) <= 2, p0
    n_p0 = engine.sql("SELECT COUNT(*) AS n FROM ns1.np "
                      "WHERE src = 'p0'").first().n
    assert n_p0 == 6


def test_show_partitions_decodes_hive_escaped_values(engine, spark):
    """B95 second-pass fix: values come from url-decoded PATH segments
    — an escaped partition like 'a:b' (dir src=a%3Ab) must display
    decoded, matching what SELECT returns, and string partitions that
    int-coerce identically ('0123' vs '123') must stay distinct."""
    engine.sql("CREATE TABLE ns1.esc (id BIGINT, src STRING) "
               "PARTITIONED BY (src) TBLPROPERTIES ("
               "'auto.compact.threshold'='off')")
    engine.sql("INSERT INTO ns1.esc VALUES (1, 'a:b'), (2, '0123'), "
               "(3, '123')")
    rows = {r.src: r.num_rows for r in
            engine.sql("SHOW PARTITIONS ns1.esc").collect()}
    assert rows == {"a:b": 1, "0123": 1, "123": 1}
    sel = {r.src for r in engine.sql(
        "SELECT DISTINCT src FROM ns1.esc").collect()}
    assert set(rows) == sel


def test_iceberg_export_refuses_governed_tables(engine, spark, tmp_path):
    """B97 fail-closed perimeter: an Iceberg export references RAW data
    files, so exporting a table with an active policy must refuse —
    external readers would see every hidden row."""
    engine.sql("CREATE TABLE ns1.gx (id BIGINT, v DOUBLE)")
    engine.sql("INSERT INTO ns1.gx VALUES (1, 1.0), (2, -1.0)")
    engine.sql("ALTER TABLE ns1.gx SET ROW FILTER (v > 0)")
    with pytest.raises(ValueError, match="row .?filter|polic"):
        engine.export_iceberg_table("ns1.gx", str(tmp_path / "ice"))
    engine.sql("ALTER TABLE ns1.gx DROP ROW FILTER")
    assert engine.export_iceberg_table(
        "ns1.gx", str(tmp_path / "ice2")).endswith(".metadata.json")


def test_metadata_listings_refuse_governed_tables(engine, spark):
    """ADVICE r9 #1: SHOW PARTITIONS and the $files/$partitions virtual
    tables return per-file paths, stats and EXACT row counts — enough
    to reveal the existence and volume of rows a row filter hides. On a
    governed table they refuse (same fail-closed stance as the Iceberg
    export), and work again once the policies drop."""
    engine.sql("CREATE TABLE ns1.gml (id BIGINT, src STRING) "
               "PARTITIONED BY (src)")
    engine.sql("INSERT INTO ns1.gml VALUES (1, 'a'), (2, 'b')")
    engine.sql("ALTER TABLE ns1.gml SET ROW FILTER (src <> 'b')")
    for stmt in ("SHOW PARTITIONS ns1.gml",
                 "SELECT * FROM ns1.gml$files",
                 "SELECT * FROM ns1.gml$partitions"):
        with pytest.raises(ValueError, match="row filter|polic"):
            engine.sql(stmt)
    # masks alone also gate the listings (stat min/max leak values)
    engine.sql("ALTER TABLE ns1.gml DROP ROW FILTER")
    engine.sql("ALTER TABLE ns1.gml ALTER COLUMN src SET MASK ('*')")
    with pytest.raises(ValueError, match="row filter|polic"):
        engine.sql("SHOW PARTITIONS ns1.gml")
    engine.sql("ALTER TABLE ns1.gml ALTER COLUMN src DROP MASK")
    rows = {r.src: r.num_rows for r in
            engine.sql("SHOW PARTITIONS ns1.gml").collect()}
    assert rows == {"a": 1, "b": 1}
    assert engine.sql("SELECT * FROM ns1.gml$files").count() == 2
