"""Regression tests for the round-1 self-review findings — each of these
was a real latent bug (silent DML corruption, catalog wipe after expiry,
literal corruption, API contract breaks)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from olympia_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "warehouse"))
    eng.sql("CREATE NAMESPACE ns1")
    return eng


def test_delete_with_or_predicate_not_pruned_wrong(engine, spark):
    """OR predicates must disable stats pruning: file B (ids 90..110)
    doesn't satisfy id=1, but its id=100 row must still be deleted."""
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    engine.write_table(spark.range(1, 51).coalesce(1), "ns1.t")
    engine.write_table(spark.range(90, 111).coalesce(1), "ns1.t")
    engine.sql("DELETE FROM ns1.t WHERE id = 1 OR id = 100")
    ids = {r.id for r in engine.sql("SELECT id FROM ns1.t").collect()}
    assert 1 not in ids and 100 not in ids
    assert len(ids) == 50 + 21 - 2


def test_delete_with_not_predicate(engine, spark):
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    engine.write_table(spark.range(0, 10).coalesce(1), "ns1.t")
    engine.write_table(spark.range(10, 20).coalesce(1), "ns1.t")
    engine.sql("DELETE FROM ns1.t WHERE NOT (id = 5)")
    ids = [r.id for r in engine.sql("SELECT id FROM ns1.t").collect()]
    assert ids == [5]


def test_delete_and_inside_literal_is_not_a_pruning_conjunct(engine):
    """Stats pruning split the predicate on every AND, even one inside a
    string literal, so `v = 3` inside the literal pruned the file that
    holds the matching row and the DELETE silently missed it."""
    engine.sql("CREATE TABLE ns1.t (v BIGINT, w STRING)")
    engine.sql("INSERT INTO ns1.t VALUES (1, 'x AND v = 3 AND y'), (2, 'q')")
    engine.sql("INSERT INTO ns1.t VALUES (3, 'r'), (4, 's')")
    engine.sql("DELETE FROM ns1.t WHERE w = 'x AND v = 3 AND y'")
    assert sorted(r.v for r in engine.sql("SELECT v FROM ns1.t").collect()) \
        == [2, 3, 4]


def test_delete_backslash_escaped_literal_not_pruned(engine, spark):
    """Stats pruning compared the raw text of a backslash-escaped literal
    ('a\\\\b' is the value a\\b) with the file's min/max, pruned the
    file that holds it, and the DELETE silently missed the row."""
    engine.sql("CREATE TABLE ns1.b (v BIGINT, w STRING)")
    engine.sql("INSERT INTO ns1.b VALUES (1, 'a\\\\b'), (2, 'c')")
    value = spark.sql("SELECT 'a\\\\b' AS w").first().w
    assert value == "a\\b"
    assert engine.sql("SELECT w FROM ns1.b WHERE v = 1").first().w == value
    engine.sql("DELETE FROM ns1.b WHERE w = 'a\\\\b'")
    assert [r.v for r in engine.sql("SELECT v FROM ns1.b").collect()] == [2]


def test_update_set_literal_with_comma(engine, spark):
    """UPDATE SET and MERGE assignments split on every comma outside a
    one-level paren group — one inside a string literal too."""
    engine.sql("CREATE TABLE ns1.u (v BIGINT, w STRING)")
    engine.sql("INSERT INTO ns1.u VALUES (1, 'a'), (2, 'b')")
    engine.sql("UPDATE ns1.u SET w = 'x, v = 9', v = v + 10 WHERE v = 1")
    assert sorted(tuple(r) for r in engine.sql("SELECT * FROM ns1.u")
                  .collect()) == [(2, "b"), (11, "x, v = 9")]
    spark.createDataFrame([(2, "m")], "v BIGINT, w STRING") \
        .createOrReplaceTempView("upd_src")
    engine.sql("MERGE INTO ns1.u AS t USING upd_src AS s ON t.v = s.v "
               "WHEN MATCHED THEN UPDATE SET w = concat(s.w, ', (') "
               "WHEN NOT MATCHED THEN INSERT (v, w) VALUES (s.v, 'n, o')")
    assert sorted(tuple(r) for r in engine.sql("SELECT * FROM ns1.u")
                  .collect()) == [(2, "m, ("), (11, "x, v = 9")]


def test_update_where_inside_literal_is_data(engine):
    """The SET/WHERE split is the first WHERE in code at depth 0: one
    inside a string literal is data, not the clause."""
    engine.sql("CREATE TABLE ns1.uw (k BIGINT, w STRING)")
    engine.sql("INSERT INTO ns1.uw VALUES (1, 'x'), (2, 'y')")
    n = engine.sql("UPDATE ns1.uw SET w = 'a WHERE b' WHERE k = 1").first()
    assert n.rows_affected == 1
    engine.sql("UPDATE ns1.uw SET w = concat(w, ' where (') WHERE (k = 2)")
    assert sorted(tuple(r) for r in engine.sql("SELECT * FROM ns1.uw")
                  .collect()) == [(1, "a WHERE b"), (2, "y where (")]


def test_update_simultaneous_assignment_swaps(engine):
    engine.sql("CREATE TABLE ns1.s (a BIGINT, b BIGINT)")
    engine.sql("INSERT INTO ns1.s VALUES (1, 2)")
    engine.sql("UPDATE ns1.s SET a = b, b = a")
    row = engine.sql("SELECT a, b FROM ns1.s").first()
    assert (row.a, row.b) == (2, 1)


def test_string_literal_whitespace_preserved(engine):
    engine.sql("CREATE TABLE ns1.w (v STRING)")
    engine.sql("INSERT INTO ns1.w VALUES ('a  b')")
    assert engine.sql("SELECT v FROM ns1.w").first().v == "a  b"
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.w "
                      "WHERE v = 'a  b'").first().n == 1


def test_create_table_if_not_exists_idempotent(engine):
    engine.sql("CREATE TABLE ns1.i (x BIGINT)")
    engine.sql("INSERT INTO ns1.i VALUES (1)")
    engine.sql("CREATE TABLE IF NOT EXISTS ns1.i (x BIGINT)")  # no-op
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.i").first().n == 1


def test_reopen_after_expire_versions(engine, spark):
    """Expiring v0 must not make a fresh Engine re-create an empty
    catalog over the live warehouse."""
    engine.sql("CREATE TABLE ns1.t (id BIGINT)")
    for i in range(4):
        engine.sql(f"INSERT INTO ns1.t VALUES ({i})")
    engine.expire_versions(keep_last=2)
    reopened = Engine(spark, engine.catalog.storage.root)
    assert reopened.sql("SELECT COUNT(*) AS n FROM ns1.t").first().n == 4
    # history stops cleanly at the expiration horizon instead of crashing
    assert len(reopened.catalog.history()) >= 1
    assert reopened.sql("SELECT COUNT(*) AS n FROM ns1.t$history").first().n \
        >= 1


def test_begin_dist_returns_usable_id(engine, spark):
    engine.sql("BEGIN")
    engine.sql("CREATE TABLE ns1.d (x BIGINT)")
    tid = engine.begin_dist()
    assert tid == engine.current_txn.id
    engine.rollback()
    other = Engine(spark, engine.catalog.storage.root)
    other.resume_dist(tid)                  # must accept the return value
    other.sql("COMMIT")
    assert "d" in [r.table for r in
                   other.sql("SHOW TABLES IN ns1").collect()]


def test_orphan_gc_protects_pending_dist_txn_files(engine):
    engine.sql("CREATE TABLE ns1.p (x BIGINT)")
    engine.sql("BEGIN")
    engine.sql("INSERT INTO ns1.p VALUES (1), (2)")   # files written, not
    tid = engine.begin_dist()                         # in any version root
    engine.rollback()
    removed = engine.remove_orphan_files()
    assert removed == []                    # pending files are NOT orphans
    engine.resume_dist(tid)
    engine.sql("COMMIT")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.p").first().n == 2


@pytest.mark.parametrize("unreadable", ["def/table/", "def/dtxn/"])
def test_vacuum_fails_closed_on_unreadable_def(engine, spark, monkeypatch,
                                              unreadable):
    """A def VACUUM cannot read (a transient storage error) names live
    files it cannot see: VACUUM must raise before deleting anything,
    not skip the def and delete those files as orphans."""
    import os
    import shutil
    engine.sql("CREATE TABLE ns1.g (x BIGINT)")
    engine.sql("INSERT INTO ns1.g VALUES (1)")
    engine.sql("BEGIN")
    engine.sql("INSERT INTO ns1.g VALUES (2)")      # only the dtxn knows it
    tid = engine.begin_dist()
    engine.rollback()
    root = engine.catalog.storage.root
    live = sorted(os.path.join(d, n) for d, _s, names
                  in os.walk(os.path.join(root, "data")) for n in names
                  if n.endswith(".parquet"))
    assert len(live) == 2
    stray = os.path.join(root, "data", "ns1", "g", "stray", "part.parquet")
    os.makedirs(os.path.dirname(stray))
    shutil.copy(live[0], stray)
    storage = engine.catalog.storage
    read = storage.read

    def flaky(path):
        if path.startswith(unreadable):
            raise OSError("transient read error")
        return read(path)

    monkeypatch.setattr(storage, "read", flaky)
    with pytest.raises(OSError, match="transient"):
        engine.remove_orphan_files()
    assert all(os.path.exists(p) for p in live + [stray])
    monkeypatch.undo()
    assert engine.remove_orphan_files() == [os.path.relpath(stray, root)]
    engine.resume_dist(tid)
    engine.sql("COMMIT")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.g").first().n == 2


# (round 6: the s3:// data plane exists now — Engine on an object-store
# warehouse is exercised end-to-end in tests/test_s3_data_plane.py, so
# the old "rejected loudly" guard test is gone with the guard itself.)


# --- round-2 ADVICE fixes ----------------------------------------------------

def test_delete_escaped_quote_literal_not_mispruned(engine, spark):
    """ADVICE r1: 'O''Brien' was regex-parsed as 'O', pruning files that DO
    contain the value — DELETE silently skipped rows."""
    engine.sql("CREATE TABLE ns1.esc (name STRING)")
    df = spark.createDataFrame([("O'Brien",), ("Smith",)], "name STRING")
    engine.write_table(df.coalesce(1), "ns1.esc")
    engine.sql("DELETE FROM ns1.esc WHERE name = 'O''Brien'")
    names = [r.name for r in engine.sql("SELECT name FROM ns1.esc").collect()]
    assert names == ["Smith"]


def test_delete_scientific_notation_not_mispruned(engine, spark):
    """ADVICE r1: 1e5 was parsed as 1 — files with values near 100000 were
    pruned and their matching rows silently survived the DELETE."""
    engine.sql("CREATE TABLE ns1.sci (v DOUBLE)")
    df = spark.createDataFrame([(50000.0,), (100000.0,), (150000.0,)],
                               "v DOUBLE")
    engine.write_table(df.coalesce(1), "ns1.sci")
    engine.sql("DELETE FROM ns1.sci WHERE v = 1e5")
    vs = sorted(r.v for r in engine.sql("SELECT v FROM ns1.sci").collect())
    assert vs == [50000.0, 150000.0]


def test_delete_negative_literal_not_mispruned(engine, spark):
    """-5 was parsed as 5 by the sign-blind literal regex; an equality
    against a negative value pruned the file containing it."""
    engine.sql("CREATE TABLE ns1.neg (v BIGINT)")
    df = spark.createDataFrame([(-10,), (-5,), (3,)], "v BIGINT")
    engine.write_table(df.coalesce(1), "ns1.neg")
    engine.sql("DELETE FROM ns1.neg WHERE v = -5")
    vs = sorted(r.v for r in engine.sql("SELECT v FROM ns1.neg").collect())
    assert vs == [-10, 3]


def test_table_reference_inside_string_literal_untouched(engine, spark):
    """ADVICE r1: _resolve_sql rewrote ns.obj occurrences inside string
    literals, so WHERE v = 'ns1.t' compared against the alias text."""
    engine.sql("CREATE TABLE ns1.t (v STRING)")
    engine.sql("INSERT INTO ns1.t VALUES ('ns1.t')")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.t "
                      "WHERE v = 'ns1.t'").first().n == 1


def test_table_reference_inside_double_quoted_literal_untouched(
        engine, spark):
    """ADVICE r2: _map_nonliteral protected only '...' literals, so
    WHERE v = "ns1.t" was rewritten to compare against the temp-view
    alias — the same bug class as the single-quote fix, now for the
    other quote style _normalize already protects."""
    engine.sql("CREATE TABLE ns1.t (v STRING)")
    engine.sql("INSERT INTO ns1.t VALUES ('ns1.t')")
    assert engine.sql('SELECT COUNT(*) AS n FROM ns1.t '
                      'WHERE v = "ns1.t"').first().n == 1
    # and identifier scanning must still find references AROUND them
    assert engine.sql('SELECT COUNT(*) AS n FROM ns1.t '
                      'WHERE v <> "nope" AND v = "ns1.t"').first().n == 1


def test_backslash_escaped_literal_naming_a_table_untouched(engine, spark):
    """A backslash-escaped quote closed the identifier rewrite's literal
    early, so the rest of the literal was rewritten as code."""
    engine.sql("CREATE TABLE ns1.t (k BIGINT)")
    stmt = "SELECT 'it\\'s ns1.t' AS x"
    assert engine.sql(stmt).first().x == spark.sql(stmt).first().x \
        == "it's ns1.t"


def test_quote_inside_backtick_identifier_opens_no_literal(engine, spark):
    """An apostrophe inside a backtick identifier paired with the next
    literal's opening quote, so the literal 'ns1.t' was rewritten."""
    engine.sql("CREATE TABLE ns1.t (k BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (1)")
    row = engine.sql("SELECT k AS `it's`, 'ns1.t' AS z FROM ns1.t").first()
    assert row.z == spark.sql("SELECT 'ns1.t' AS z").first().z == "ns1.t"
    assert row["it's"] == 1


def test_qualify_with_escaped_quote_and_paren_in_literal(engine, spark):
    """The QUALIFY paren walk closed the literal at the escaped quote and
    counted the literal's '(' as code: unbalanced parentheses."""
    engine.sql("CREATE TABLE ns1.t (k BIGINT)")
    engine.sql("INSERT INTO ns1.t VALUES (2), (1), (3)")
    rows = engine.sql("SELECT k, 'it\\'s (' AS x FROM ns1.t "
                      "QUALIFY row_number() OVER (ORDER BY k) = 1").collect()
    lit = spark.sql("SELECT 'it\\'s (' AS x").first().x
    assert lit == "it's ("
    assert [tuple(r) for r in rows] == [(1, lit)]


def test_exclude_inside_escaped_literal_untouched(engine, spark):
    """The EXCLUDE alias rewrite ended the literal at the escaped quote
    and rewrote 'EXCLUDE (' inside it."""
    stmt = "SELECT 'p\\'EXCLUDE (q' AS x"
    assert engine.sql(stmt).first().x == spark.sql(stmt).first().x \
        == "p'EXCLUDE (q"


def test_double_quoted_literal_whitespace_preserved(engine):
    """ADVICE r1: _normalize collapsed whitespace inside double-quoted
    string literals (valid Spark strings with ANSI identifiers off)."""
    engine.sql("CREATE TABLE ns1.dq (v STRING)")
    engine.sql('INSERT INTO ns1.dq VALUES ("a  b")')
    assert engine.sql("SELECT v FROM ns1.dq").first().v == "a  b"


def test_expire_versions_with_shared_nodes_multinode_tree(engine):
    """ADVICE r1: expiry walked each expired root after deleting nodes the
    previous root shared — crashing mid-expiry on any multi-node tree.
    150 tables overflow one node (order 128), and consecutive versions
    share all but the rewritten path."""
    for i in range(150):
        engine.sql(f"CREATE TABLE ns1.t{i:03d} (x BIGINT)")
    removed = engine.expire_versions(keep_last=3)
    assert removed
    # catalog still consistent: newest version readable, all tables listed
    txn = engine.catalog.begin()
    assert len(engine.catalog.show_tables(txn, "ns1")) == 150
    # expiry is idempotent / doesn't break a second pass
    engine.expire_versions(keep_last=1)
    txn = engine.catalog.begin()
    assert len(engine.catalog.show_tables(txn, "ns1")) == 150


def test_dist_txn_replay_preserves_stats_and_def_path(engine, spark):
    """ADVICE r1: replayed TABLE_INSERT wrote the def to a 'replay/t'
    placeholder path and dropped DataFile stats (num_rows=-1)."""
    engine.sql("CREATE TABLE ns1.rp (x BIGINT)")
    engine.write_table(spark.range(5).coalesce(1), "ns1.rp")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "rp")
    assert all(f.num_rows == 5 for f in tdef.data_files)
    # simulate a resumed dist txn whose action replays from payload
    from olympia_spark.catalog.actions import Action, ActionType
    action = Action(ActionType.TABLE_INSERT,
                    engine.catalog._tbl_key("ns1", "rp"),
                    {"added": [f.path for f in tdef.data_files],
                     "added_files": [{"path": f.path, "num_rows": f.num_rows,
                                      "size_bytes": f.size_bytes,
                                      "stats": f.stats}
                                     for f in tdef.data_files]})
    replay = engine.catalog._payload_replay_op(action)
    txn2 = engine.catalog.begin()
    # empty the table def first so the replay actually re-adds the files
    engine.catalog.update_table_files(
        txn2, "ns1", "rp", [], [f.path for f in tdef.data_files],
        ActionType.TABLE_DELETE, {"added": [], "removed": []})
    txn2.apply(replay)
    engine.catalog.commit(txn2)
    txn3 = engine.catalog.begin()
    after = engine.catalog.describe_table(txn3, "ns1", "rp")
    assert {f.path for f in after.data_files} == \
        {f.path for f in tdef.data_files}
    assert all(f.num_rows == 5 and f.stats for f in after.data_files)
    cur_path = engine.catalog.tree.search(
        engine.catalog.tree.load_latest_root(),
        engine.catalog._tbl_key("ns1", "rp"))
    assert "-ns1-rp" in cur_path and "replay" not in cur_path


def test_sql_resolution_is_point_lookup_not_enumeration(engine, monkeypatch):
    """VERDICT r1 'what's wrong #6': SELECT resolution must not enumerate
    the catalog (O(catalog) per statement); it point-looks-up candidate
    identifiers extracted from the statement text."""
    engine.sql("CREATE TABLE ns1.pt (x BIGINT)")
    engine.sql("INSERT INTO ns1.pt VALUES (1)")

    def boom(*a, **k):
        raise AssertionError("catalog enumeration during SQL resolution")

    monkeypatch.setattr(engine.catalog, "show_namespaces", boom)
    monkeypatch.setattr(engine.catalog, "show_tables", boom)
    monkeypatch.setattr(engine.catalog, "show_views", boom)
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.pt").first().n == 1
    engine.sql("UPDATE ns1.pt SET x = 2")
    engine.sql("DELETE FROM ns1.pt WHERE x = 99")
    assert engine.sql("SELECT x FROM ns1.pt").first().x == 2


def test_stream_sink_replayed_batch_no_double_commit_no_dangling_txn(
        engine, spark):
    """VERDICT r1 'what's wrong #7': a replayed micro-batch must neither
    re-append rows nor leave a begun-but-unfinished commit txn behind."""
    from olympia_spark.operators.streaming import catalog_ingest_sink
    from olympia_spark.tables import load

    engine.sql("CREATE NAMESPACE stream")
    events = load(spark, "/root/testdata/sf0.001", "events").limit(10)
    engine.create_table("stream.events", events.schema)
    sink = catalog_ingest_sink(engine)
    sink(events, 0)
    n1 = engine.sql("SELECT COUNT(*) AS n FROM stream.events").first().n
    sink(events, 0)                          # replay of batch 0
    n2 = engine.sql("SELECT COUNT(*) AS n FROM stream.events").first().n
    assert n1 == n2 == 10
    sink(events, 1)                          # a NEW batch still commits
    assert engine.sql("SELECT COUNT(*) AS n FROM stream.events").first().n \
        == 20


def test_merge_rewrites_only_matched_files(engine, spark):
    """MERGE copy-on-write selectivity: a file with no matched rows keeps
    its original entry; matched files are replaced; inserts append."""
    engine.sql("CREATE TABLE ns1.m (id BIGINT, v BIGINT)")
    engine.write_table(spark.range(0, 10).selectExpr("id", "id AS v")
                       .coalesce(1), "ns1.m")
    engine.write_table(spark.range(100, 110).selectExpr("id", "id AS v")
                       .coalesce(1), "ns1.m")
    txn = engine.catalog.begin()
    before = {f.path for f in
              engine.catalog.describe_table(txn, "ns1", "m").data_files}
    src = spark.createDataFrame([(5, 50), (200, 2000)], "id BIGINT, v BIGINT")
    n = engine.merge("ns1.m", src, "t.id = s.id",
                     matched_update={"v": "s.v"},
                     not_matched_insert={"id": "s.id", "v": "s.v"})
    assert n == 2                            # 1 update + 1 insert
    txn = engine.catalog.begin()
    after = {f.path for f in
             engine.catalog.describe_table(txn, "ns1", "m").data_files}
    untouched = before & after
    assert len(untouched) == 1               # the 100..110 file survived
    rows = {(r.id, r.v) for r in engine.sql(
        "SELECT id, v FROM ns1.m").collect()}
    assert (5, 50) in rows and (200, 2000) in rows and (5, 5) not in rows
    assert len(rows) == 21


def test_merge_matched_delete(engine, spark):
    engine.sql("CREATE TABLE ns1.md (id BIGINT)")
    engine.write_table(spark.range(0, 10).coalesce(1), "ns1.md")
    src = spark.createDataFrame([(2,), (4,), (99,)], "id BIGINT")
    engine.sql("MERGE INTO ns1.md t USING (SELECT id FROM ns1.md WHERE "
               "id IN (2, 4)) s ON t.id = s.id WHEN MATCHED THEN DELETE")
    ids = sorted(r.id for r in engine.sql("SELECT id FROM ns1.md").collect())
    assert ids == [0, 1, 3, 5, 6, 7, 8, 9]


def test_stream_ingest_committed_table_ts_readable(spark):
    """ADVICE r3: the ingest table was declared from load()'s schema
    (ts TIMESTAMP_NTZ) while the staged stream wrote LTZ batches — any
    later read of ts from the committed table failed under the vectorized
    reader. The table must be declared from the staged stream's schema,
    and ts must round-trip."""
    from olympia_spark.operators import load_all_modules, registry
    from olympia_spark.tables import load
    load_all_modules()
    sf = "/root/testdata/sf0.001"
    row = registry.QUERIES["b32_stream_catalog_ingest"](spark, sf).first()
    src = (load(spark, sf, "events")
           .select(F.min(F.col("ts").cast("timestamp")).alias("lo"),
                   F.max(F.col("ts").cast("timestamp")).alias("hi"),
                   F.count("*").alias("n"))
           .first())
    assert row.n_rows == src.n
    assert row.ts_min == src.lo and row.ts_max == src.hi


@pytest.mark.slow
def test_stateful_streaming_counter_equals_batch(spark):
    """b32_stream_stateful_counter (applyInPandasWithState) must equal the
    batch groupBy over the same fixture — state accumulates correctly
    across micro-batches."""
    from olympia_spark.operators import load_all_modules, registry
    from olympia_spark.tables import load
    load_all_modules()
    sf = "/root/testdata/sf0.001"
    got = {(r.user_id, r.n_events, r.value_micro) for r in
           registry.QUERIES["b32_stream_stateful_counter"](spark, sf)
           .collect()}
    exp = {(r.user_id, r.n, r.s) for r in
           load(spark, sf, "events")
           .groupBy("user_id")
           .agg(F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 1000000).cast("long"))
                 .alias("s"))
           .collect()}
    assert got == exp


def test_truncate_table(engine, spark):
    engine.sql("CREATE TABLE ns1.tr (id BIGINT)")
    engine.write_table(spark.range(0, 10).coalesce(1), "ns1.tr")
    engine.sql("TRUNCATE TABLE ns1.tr")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.tr").first().n == 0
    engine.sql("INSERT INTO ns1.tr VALUES (7)")     # table still writable
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.tr").first().n == 1
    # truncation is a versioned commit — time travel still sees old rows
    v = engine.catalog.tree.find_latest_version() - 2
    assert engine.sql(
        f"SELECT COUNT(*) AS n FROM ns1.tr VERSION AS OF {v}").first().n == 10


def test_sql_frontend_edge_cases(engine, spark):
    """Front-end robustness sweep: comments, quoted delimiters inside
    string literals, subquery predicates, empty strings."""
    engine.sql("CREATE TABLE ns1.edge (id BIGINT, name STRING)")
    engine.sql("INSERT INTO ns1.edge VALUES (1, 'a,b'), (2, '(x)'), (3, NULL)")
    q = engine.sql
    assert q("SELECT COUNT(*) AS n FROM ns1.edge").first().n == 3
    assert q("SELECT COUNT(*) AS n FROM ns1.edge -- see ns1.edge docs") \
        .first().n == 3
    assert q("SELECT /* ns1.edge */ COUNT(*) AS n FROM ns1.edge") \
        .first().n == 3
    q("DELETE FROM ns1.edge WHERE id IN (SELECT 3)")
    assert q("SELECT COUNT(*) AS n FROM ns1.edge").first().n == 2
    q("UPDATE ns1.edge SET name = 'k=v' WHERE id = 1")
    assert q("SELECT name FROM ns1.edge WHERE id = 1").first().name == "k=v"
    q("INSERT INTO ns1.edge VALUES (9, '')")
    assert q("SELECT name FROM ns1.edge WHERE id = 9").first().name == ""
    assert q("  SELECT COUNT(*) AS n FROM ns1.edge ;  ").first().n == 3


@pytest.mark.slow
def test_watermark_finalization_boundary_is_inclusive(spark, tmp_path):
    """b32_stream_watermark_append's oracle finalizes windows with
    window_end <= watermark (inclusive). Pin Spark's behavior at the
    exact seam — batch-0 max ts ON the hour makes the watermark exactly
    equal a window end — so a regenerated fixture can never silently
    flip the gate."""
    import time

    d = str(tmp_path / "seam")
    rows1 = [(1, "2024-01-01 10:00:00")]            # wm -> exactly 08:00
    rows2 = [(2, "2024-01-01 07:30:00"),
             (3, "2024-01-01 07:59:59")]            # window end == wm
    df1 = (spark.createDataFrame(rows1, "id long, ts string")
           .withColumn("ts", F.to_timestamp("ts")))
    df2 = (spark.createDataFrame(rows2, "id long, ts string")
           .withColumn("ts", F.to_timestamp("ts")))
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    time.sleep(0.05)
    df2.coalesce(1).write.mode("append").parquet(d)
    stream = (spark.readStream.schema(df1.schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    agg = (stream.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 hour"))
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.format("memory").queryName("wm_seam")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [(r.s.isoformat(), r.n) for r in
           spark.table("wm_seam")
           .select(F.col("window.start").alias("s"), "n")
           .orderBy("s").collect()]
    # the window ending exactly AT the watermark is emitted (inclusive),
    # with late rows merged; the open 10:00 window is withheld
    assert got == [("2024-01-01T07:00:00", 2)]


def test_changefeed_sink_scans_only_changed_files_and_replays_once(
        engine, spark, monkeypatch):
    """b58b contract: consuming a version diff scans only files that
    entered or left the table (never a full-table rescan per batch), and
    a replayed micro-batch is a no-op (exactly-once marker)."""
    from olympia_spark.operators.streaming import changefeed_sink

    engine.sql("CREATE TABLE ns1.cf (id BIGINT, v BIGINT)")
    # 4 files; the update touches rows in exactly one of them
    for lo in (0, 100, 200, 300):
        engine.write_table(
            spark.range(lo, lo + 50).selectExpr("id", "id AS v")
            .coalesce(1), "ns1.cf")
    engine.write_table(
        load_mirror := spark.range(0, 400).selectExpr("id", "id AS v")
        .filter("id % 100 < 50").coalesce(1), "ns1.mirror_cf")
    total_files = len(engine.catalog.describe_table(
        engine.catalog.begin(), "ns1", "cf").file_paths())
    assert total_files == 4
    v0 = engine.catalog.tree.find_latest_version()
    engine.sql("UPDATE ns1.cf SET v = v + 1 WHERE id BETWEEN 100 AND 110")
    v1 = engine.catalog.tree.find_latest_version()

    scanned: list[list[str]] = []
    orig = Engine._scan

    def spy(self, tdef, rel_paths, *a, **k):
        scanned.append(list(rel_paths))
        return orig(self, tdef, rel_paths, *a, **k)

    monkeypatch.setattr(Engine, "_scan", spy)
    sink = changefeed_sink(engine, "ns1.cf", "ns1.mirror_cf", key="id")
    cursor = spark.createDataFrame([(v0, v1)],
                                   "from_version INT, to_version INT")
    sink(cursor, 0)
    # table_changes scanned the 1 entered + 1 left file, not all 4
    feed_scans = scanned[:2]
    assert all(len(p) <= 1 for p in feed_scans), feed_scans
    out = {(r.id, r.v) for r in
           engine.sql("SELECT id, v FROM ns1.mirror_cf "
                      "WHERE id BETWEEN 100 AND 110").collect()}
    assert out == {(i, i + 1) for i in range(100, 111)}
    # replaying the same batch id is a no-op
    n_before = len(scanned)
    sink(cursor, 0)
    assert len(scanned) == n_before


def test_changefeed_sink_crash_between_cursor_rows_recovers(
        engine, spark, monkeypatch):
    """Round-5 review: a micro-batch can carry SEVERAL version-cursor
    rows, each applied by its own merge commit. The idempotency marker
    must be per (batch, cursor row): a batch-level marker written with
    the first merge would make a crash between merges unrecoverable —
    replay would see the marker and silently skip the remaining diffs."""
    from olympia_spark.operators.streaming import changefeed_sink

    engine.sql("CREATE TABLE ns1.cf2 (id BIGINT, v BIGINT)")
    engine.write_table(
        spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1),
        "ns1.cf2")
    engine.write_table(
        spark.range(0, 10).selectExpr("id", "id AS v").coalesce(1),
        "ns1.mirror_cf2")
    v0 = engine.catalog.tree.find_latest_version()
    engine.sql("UPDATE ns1.cf2 SET v = v + 100 WHERE id < 5")
    v1 = engine.catalog.tree.find_latest_version()
    engine.sql("DELETE FROM ns1.cf2 WHERE id >= 8")
    v2 = engine.catalog.tree.find_latest_version()

    sink = changefeed_sink(engine, "ns1.cf2", "ns1.mirror_cf2", key="id")
    batch = spark.createDataFrame([(v0, v1), (v1, v2)],
                                  "from_version INT, to_version INT")
    # crash after the FIRST diff's merge commits
    orig_merge = Engine.merge
    calls = {"n": 0}

    def dying_merge(self, *a, **k):
        n = orig_merge(self, *a, **k)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after first merge")
        return n

    monkeypatch.setattr(Engine, "merge", dying_merge)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="simulated crash"):
        sink(batch, 7)
    monkeypatch.setattr(Engine, "merge", orig_merge)
    sink(batch, 7)                      # Spark replays the whole batch
    src = {(r.id, r.v) for r in
           engine.sql("SELECT id, v FROM ns1.cf2").collect()}
    mirror = {(r.id, r.v) for r in
              engine.sql("SELECT id, v FROM ns1.mirror_cf2").collect()}
    assert mirror == src                # BOTH diffs applied exactly once


# --- round-7 ADVICE fixes ---------------------------------------------------


def test_rename_column_case_insensitive_collisions(spark, tmp_path):
    """ADVICE r6: RENAME COLUMN must apply the same case-insensitive
    collision guard as ADD COLUMNS — `Value` vs existing `value` is the
    same hazard under Spark's case-insensitive resolution."""
    eng = Engine(spark, str(tmp_path / "wh_rn"))
    eng.sql("CREATE NAMESPACE ns1")
    eng.sql("CREATE TABLE ns1.t (id BIGINT, value DOUBLE, v2 DOUBLE)")
    with pytest.raises(ValueError, match="already exists"):
        eng.rename_column("ns1.t", "v2", "Value")
    # case variant of a RETIRED physical name is refused too
    eng.sql("INSERT INTO ns1.t VALUES (1, 1.0, 2.0)")
    eng.sql("ALTER TABLE ns1.t DROP COLUMN v2")
    with pytest.raises(ValueError, match="dropped column"):
        eng.rename_column("ns1.t", "value", "V2")
    # a PURE case-change rename of a column onto itself stays legal
    eng.rename_column("ns1.t", "value", "Value")
    assert eng.sql("SELECT Value FROM ns1.t").first().Value == 1.0


def test_expr_refs_skips_function_invocations(spark, tmp_path):
    """ADVICE r6: a column named `abs` must be droppable even when a
    constraint calls the FUNCTION abs(...) — a word followed by '(' is
    an invocation, not a column reference."""
    eng = Engine(spark, str(tmp_path / "wh_fn"))
    assert not Engine._expr_refs("abs(x) > 0", "abs")
    assert Engine._expr_refs("abs + 1 > 0", "abs")          # real ref
    assert Engine._expr_refs("abs(x) > abs", "abs")         # mixed
    eng.sql("CREATE NAMESPACE ns1")
    eng.sql("CREATE TABLE ns1.t (id BIGINT, abs DOUBLE, x DOUBLE, "
            "CONSTRAINT pos CHECK (abs(x) >= 0))")
    # the constraint references x via abs(x) — column `abs` is free
    eng.sql("ALTER TABLE ns1.t DROP COLUMN abs")
    with pytest.raises(ValueError, match="constraint"):
        eng.sql("ALTER TABLE ns1.t DROP COLUMN x")


def test_check_marker_is_collision_resistant(spark, tmp_path):
    """ADVICE r6: the in-job failure markers carry a token so user data
    containing the words 'OLYMPIA_CHECK'/'MERGE_CARDINALITY' cannot be
    misclassified as a constraint/cardinality failure."""
    from olympia_spark.engine import _CARDINALITY_MARKER, _CHECK_MARKER
    assert _CHECK_MARKER not in "OLYMPIA_CHECK: CHECK constraint violated"
    assert _CARDINALITY_MARKER not in \
        "MERGE_CARDINALITY: target row matched by 2 source rows"
    # end-to-end: the typed error still fires on a real violation...
    from olympia_spark.catalog.errors import CheckConstraintError
    eng = Engine(spark, str(tmp_path / "wh_mk"))
    eng.sql("CREATE NAMESPACE ns1")
    eng.sql("CREATE TABLE ns1.t (id BIGINT, note STRING, "
            "CONSTRAINT idpos CHECK (id > 0))")
    with pytest.raises(CheckConstraintError):
        eng.sql("INSERT INTO ns1.t VALUES (-1, 'x')")
    # ...and marker-looking USER DATA writes cleanly
    eng.sql("INSERT INTO ns1.t VALUES "
            "(1, 'OLYMPIA_CHECK: CHECK constraint violated on ns1.t')")
    assert eng.sql("SELECT COUNT(*) AS c FROM ns1.t").first().c == 1


# --- round-7 second-pass review findings -------------------------------------


def test_split_top_level_string_aware():
    """A literal 'a, b' must not split; '' and \\' keep a quote inside
    the literal; double-quoted literals and backtick identifiers hold
    commas and parens too."""
    from olympia_spark.sqltext import split_top_level
    assert split_top_level("1, 'a, b', 2") == ["1", " 'a, b'", " 2"]
    assert split_top_level("'it''s, fine', x") == ["'it''s, fine'", " x"]
    assert split_top_level("f(a, b), c") == ["f(a, b)", " c"]
    assert split_top_level('"a, (b", `c, d)`, e') == \
        ['"a, (b"', " `c, d)`", " e"]
    assert split_top_level("'it\\'s, (', \"x\\\", y\", z") == \
        ["'it\\'s, ('", ' "x\\", y"', " z"]


def test_insert_values_literal_comma_into_transform_table(engine, spark):
    """Bare VALUES arity detection must be quote-aware: a string
    literal containing a comma previously miscounted the tuple arity
    and broke a legitimate INSERT into any generated-column table."""
    engine.sql("CREATE TABLE ns1.qa (id BIGINT, s STRING, ts TIMESTAMP)"
               " PARTITIONED BY (days(ts))")
    engine.sql("INSERT INTO ns1.qa VALUES "
               "(1, 'a, b', TIMESTAMP '2024-01-01 00:00:00')")
    r = engine.sql("SELECT s, ts_day FROM ns1.qa").first()
    assert r.s == "a, b" and str(r.ts_day) == "2024-01-01"


def test_add_partition_field_probe_rejects_bad_cast(engine, spark):
    """days(bigint_col) must fail at ALTER time, not brick reads."""
    engine.sql("CREATE TABLE ns1.qb (id BIGINT, v BIGINT)")
    engine.sql("INSERT INTO ns1.qb VALUES (1, 2)")
    with pytest.raises(ValueError, match="does not resolve"):
        engine.sql("ALTER TABLE ns1.qb ADD PARTITION FIELD days(v)")
    # table still fully usable
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.qb").first().n == 1
    engine.sql("INSERT INTO ns1.qb VALUES (2, 3)")


def test_add_partition_field_case_variant_rejected(engine, spark):
    engine.sql("CREATE TABLE ns1.qc (id BIGINT, cat STRING)")
    engine.sql("ALTER TABLE ns1.qc ADD PARTITION FIELD cat")
    with pytest.raises(ValueError, match="already a partition field"):
        engine.sql("ALTER TABLE ns1.qc ADD PARTITION FIELD CAT")
    # drop accepts the case variant too, then writes stay healthy
    engine.sql("ALTER TABLE ns1.qc DROP PARTITION FIELD CAT")
    engine.sql("INSERT INTO ns1.qc VALUES (1, 'x')")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.qc").first().n == 1


def test_partition_field_reusable_after_drop(engine, spark):
    """Iceberg allows re-adding a dropped field; the transform spelling
    must reuse the surviving generated column, not collide with it."""
    engine.sql("CREATE TABLE ns1.qd (id BIGINT, ts TIMESTAMP)")
    engine.sql("ALTER TABLE ns1.qd ADD PARTITION FIELD days(ts)")
    engine.sql("INSERT INTO ns1.qd VALUES "
               "(1, TIMESTAMP '2024-01-01 08:00:00')")
    engine.sql("ALTER TABLE ns1.qd DROP PARTITION FIELD days(ts)")
    engine.sql("ALTER TABLE ns1.qd ADD PARTITION FIELD days(ts)")
    engine.sql("INSERT INTO ns1.qd VALUES "
               "(2, TIMESTAMP '2024-02-02 09:00:00')")
    rows = {(r.id, str(r.ts_day)) for r in
            engine.sql("SELECT id, ts_day FROM ns1.qd").collect()}
    assert rows == {(1, "2024-01-01"), (2, "2024-02-02")}
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "qd")
    assert tdef.partition_by == ["ts_day"]
    # a PLAIN column of the synthesized name still refuses the transform
    engine.sql("CREATE TABLE ns1.qe2 (id BIGINT, ts TIMESTAMP, "
               "ts_day DATE)")
    with pytest.raises(ValueError, match="plain column"):
        engine.sql("ALTER TABLE ns1.qe2 ADD PARTITION FIELD days(ts)")


def test_never_evolved_generated_table_single_read(engine, spark):
    """A never-evolved unpartitioned table with generated columns must
    keep the single multi-path read (no per-write-dir grouping, no
    identity coalesce blocking pushdown)."""
    engine.sql("CREATE TABLE ns1.qf (id BIGINT, ts TIMESTAMP, "
               "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    engine.sql("INSERT INTO ns1.qf (id, ts) VALUES "
               "(1, TIMESTAMP '2024-01-01 00:00:00')")
    engine.sql("INSERT INTO ns1.qf (id, ts) VALUES "
               "(2, TIMESTAMP '2024-01-02 00:00:00')")
    df = engine.sql("SELECT id, d FROM ns1.qf")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "Union" not in plan, plan
    assert "coalesce" not in plan.lower(), plan


def test_dsir_hash_uses_full_bucket_range(spark):
    """Second-pass review: (a*256+b) % 256 == b degenerated the hash to
    16 buckets while the shared-expression oracle stayed green. Pin the
    spread: the corpus must hash into (nearly) all 256 buckets."""
    from olympia_spark.operators import load_all_modules, registry
    load_all_modules()
    from olympia_spark.tables import load as tload
    from pyspark.sql import functions as F
    d = tload(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.split("text", " ").alias("ws"))
    bigrams = d.select(F.explode(F.expr(
        "transform(sequence(1, size(ws) - 1), "
        "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"))
        .alias("bigram"))
    hexpos = ("(instr('0123456789abcdef', "
              "substring(md5(bigram), {i}, 1)) - 1)")
    n = (bigrams.select(F.expr(
        f"{hexpos.format(i=1)} * 16 + {hexpos.format(i=2)}")
        .alias("bucket"))
        .agg(F.countDistinct("bucket").alias("n"),
             F.min("bucket").alias("lo"),
             F.max("bucket").alias("hi")).first())
    assert n.n >= 200, n
    assert n.lo >= 0 and n.hi <= 255, n


def test_partitioned_ctas_ending_in_paren(engine, spark):
    """ADVICE r8 (medium): the widened CREATE TABLE partition group
    ([\\w, ()]+, greedy) could swallow a CTAS tail ending in ')' — the
    statement 'succeeded', creating an empty table with garbage
    partition columns and silently dropping the CTAS data. The balanced
    form can never consume an unmatched ')'."""
    engine.sql("CREATE TABLE ns1.csrc (id BIGINT, cat STRING)")
    engine.sql("INSERT INTO ns1.csrc VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    engine.sql("CREATE TABLE ns1.cx PARTITIONED BY (cat) AS "
               "SELECT cat, count(id) AS c FROM ns1.csrc GROUP BY (cat)")
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "cx")
    assert tdef.partition_by == ["cat"]
    rows = {(r.cat, r.c) for r in
            engine.sql("SELECT cat, c FROM ns1.cx").collect()}
    assert rows == {("a", 2), ("b", 1)}


def test_partitioned_ctas_with_transform_and_tail_paren(engine, spark):
    """Transform entries (parens inside the partition list) AND a CTAS
    tail ending in ')' in the same statement."""
    engine.sql("CREATE TABLE ns1.tsrc (id BIGINT, ts TIMESTAMP)")
    engine.sql("INSERT INTO ns1.tsrc VALUES "
               "(1, TIMESTAMP '2024-01-01 10:00:00'), "
               "(2, TIMESTAMP '2024-02-01 10:00:00')")
    engine.sql("CREATE TABLE ns1.tx PARTITIONED BY (months(ts)) AS "
               "SELECT id, ts FROM ns1.tsrc WHERE id IN (1, 2)")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.tx").first().n == 2
    txn = engine.catalog.begin()
    tdef = engine.catalog.describe_table(txn, "ns1", "tx")
    assert tdef.partition_by == ["ts_month"]


def test_bare_values_mixed_arity_clear_error(engine):
    """ADVICE r8 (low): a bare multi-tuple VALUES insert into a
    generated-column table was bound by the FIRST tuple's arity only —
    mixed-arity lists failed downstream with a Spark error that never
    mentioned the generated-column binding."""
    engine.sql("CREATE TABLE ns1.gv (id BIGINT, ts TIMESTAMP, "
               "d DATE GENERATED ALWAYS AS (CAST(ts AS DATE)))")
    with pytest.raises(ValueError, match="differing arities"):
        engine.sql("INSERT INTO ns1.gv VALUES "
                   "(1, TIMESTAMP '2024-01-01 00:00:00'), "
                   "(2, TIMESTAMP '2024-01-02 00:00:00', DATE '2024-01-02')")
    # uniform-arity bindings still work, both forms
    engine.sql("INSERT INTO ns1.gv VALUES "
               "(1, TIMESTAMP '2024-01-01 00:00:00'), "
               "(2, TIMESTAMP '2024-01-02 00:00:00')")
    assert engine.sql("SELECT COUNT(*) AS n FROM ns1.gv "
                      "WHERE d = CAST(ts AS DATE)").first().n == 2
