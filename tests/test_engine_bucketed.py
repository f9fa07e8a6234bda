"""B55b — engine-catalog bucketed table layout (round 10, VERDICT r9 #1).

The contract under test: ``TableDef.bucket_by`` makes the bucketed
layout a property of the ENGINE's own versioned tables — writes
hash-distribute through a bucketed staging table into engine-owned
dirs, resolution re-registers complete dirs with the session catalog
(zero-exchange joins/aggs on the key), and the layout COMPOSES with
versioning, COW DML, compaction, rename, clone and the governance
perimeter instead of living in a session-catalog demo (B55).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from olympia_spark.engine import Engine


@pytest.fixture
def engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE b")
    return eng


def _mk(engine, spark, n_orders=600, n_cust=50):
    engine.sql("CREATE TABLE b.o (ok BIGINT, ck BIGINT, v DOUBLE) "
               "CLUSTERED BY (ck) INTO 8 BUCKETS")
    engine.sql("CREATE TABLE b.c (ck BIGINT, seg STRING) "
               "CLUSTERED BY (ck) INTO 8 BUCKETS")
    o = spark.range(n_orders).select(
        F.col("id").alias("ok"), (F.col("id") % n_cust).alias("ck"),
        (F.col("id") * 1.5).alias("v"))
    # two appends — the layout must survive multi-commit history
    engine.write_table(o.filter("ok % 2 = 0"), "b.o")
    engine.write_table(o.filter("ok % 2 = 1"), "b.o")
    engine.write_table(
        spark.range(n_cust).select(
            F.col("id").alias("ck"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
            .alias("seg")),
        "b.c")


def _join_plan(engine, spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = engine.read_table("b.o")
        c = engine.read_table("b.c")
        j = o.join(c, o.ck == c.ck)
        qe = j._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        return j, qe.explainString(mode)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_engine_bucketed_join_zero_exchange(engine, spark):
    """THE b55b plan contract: the join of two engine bucketed tables
    (each spanning multiple write dirs) plans with ZERO Exchange —
    the persisted layout IS the join partitioning."""
    _mk(engine, spark)
    j, plan = _join_plan(engine, spark)
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    # and values match an independent plain recompute
    assert j.count() == 600
    got = {(r.seg, r.n) for r in
           j.groupBy("seg").agg(F.count("*").alias("n")).collect()}
    # ck 0..49, 12 orders each; seg = s(ck % 3): s0/s1 cover 17
    # custkeys, s2 covers 16
    assert got == {("s0", 204), ("s1", 204), ("s2", 192)}


def test_bucketed_groupby_on_key_zero_exchange(engine, spark):
    """Aggregation on the bucket key reuses the layout too — no
    re-hash of what the files already partition."""
    _mk(engine, spark)
    agg = engine.read_table("b.o").groupBy("ck").agg(F.sum("v"))
    qe = agg._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    assert "Exchange" not in qe.explainString(mode)
    assert agg.count() == 50


def test_dml_preserves_bucket_layout(engine, spark):
    """DELETE/UPDATE expand their rewrite to WHOLE write dirs, so the
    post-DML read still plans exchange-free and values are exact."""
    _mk(engine, spark)
    engine.sql("DELETE FROM b.o WHERE ok % 7 = 0")
    engine.sql("UPDATE b.o SET v = v + 1000 WHERE ck = 3")
    j, plan = _join_plan(engine, spark)
    assert "Exchange" not in plan, plan
    rows = {r.ok: r.v for r in engine.read_table("b.o").collect()}
    assert len(rows) == 600 - len([k for k in range(600) if k % 7 == 0])
    assert 0 not in rows and 7 not in rows
    assert rows[3] == 3 * 1.5 + 1000 and rows[4] == 4 * 1.5
    # every tracked dir stays complete (dir_files bookkeeping)
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o")
    by_dir: dict[str, list] = {}
    for f in tdef.data_files:
        by_dir.setdefault(f.path.rsplit("/", 1)[0], []).append(f)
    for g in by_dir.values():
        assert g[0].dir_files == len(g) > 0


def test_time_travel_reads_old_bucketed_version(engine, spark):
    _mk(engine, spark)
    v_pre = engine.catalog.tree.load_latest_root().version
    engine.sql("DELETE FROM b.o WHERE ok < 300")
    old = engine.sql(f"SELECT COUNT(*) AS n FROM b.o VERSION AS OF {v_pre}")
    assert old.first().n == 600
    assert engine.sql("SELECT COUNT(*) AS n FROM b.o").first().n == 300


def _plan_of(df, spark):
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return qe.explainString(mode)


def _mk_pb(engine, spark, rows=100):
    engine.sql("CREATE TABLE b.pb (id BIGINT, k BIGINT, src STRING) "
               "PARTITIONED BY (src) CLUSTERED BY (k) INTO 4 BUCKETS "
               "TBLPROPERTIES ('auto.compact.threshold'='off')")
    df = spark.range(rows).select(
        F.col("id"), (F.col("id") % 10).alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("src"))
    engine.write_table(df, "b.pb")


def test_hive_partitioned_bucketed_values_exact(engine, spark):
    """B55c: bucket+hive-partition composes on the READ path too now —
    values must stay exact under the shadow fast path."""
    _mk_pb(engine, spark)
    got = engine.sql("SELECT COUNT(*) AS n, SUM(k) AS s FROM b.pb "
                     "WHERE src = 'a'").first()
    assert (got.n, got.s) == (50, sum(i % 10 for i in range(0, 100, 2)))
    # unfiltered read sees both partitions
    assert engine.read_table("b.pb").count() == 100


def test_hive_bucketed_join_zero_exchange_and_pruning(engine, spark):
    """THE b55c plan contract: a hive-partitioned + key-bucketed fact
    joined on the bucket key plans with ZERO Exchange, and a partition
    predicate reaches PartitionFilters (metadata pruning) — the
    standard date-partitioned + key-bucketed production layout keeps
    BOTH properties (r10 VERDICT #2 lifted the blanket downgrade)."""
    _mk_pb(engine, spark, rows=400)
    engine.sql("CREATE TABLE b.dim (k BIGINT, seg STRING) "
               "CLUSTERED BY (k) INTO 4 BUCKETS")
    engine.write_table(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
            .alias("seg")), "b.dim")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        f = engine.read_table("b.pb").filter("src = 'a'")
        d = engine.read_table("b.dim")
        j = f.join(d, "k")
        plan = _plan_of(j, spark)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # the src predicate prunes at the partition level, not per-row
        assert "src" in plan.split("PartitionFilters")[1].split("\n")[0]
        assert j.count() == 200
        got = {(r.seg, r.n) for r in
               j.groupBy("seg").agg(F.count("*").alias("n")).collect()}
        # even ids: k = id % 10 ∈ {0,2,4,6,8}, 40 rows each;
        # seg s(k%3): k∈{0,6}→s0, k∈{4}→s1, k∈{2,8}→s2
        assert got == {("s0", 80), ("s1", 40), ("s2", 80)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_hive_bucketed_dml_and_compaction_keep_layout(engine, spark):
    """COW DML and whole-dir compaction on the COMPOSED layout: dirs
    stay complete, the keyed agg stays exchange-free, values exact."""
    _mk_pb(engine, spark, rows=200)
    engine.write_table(          # second append → >1 dir per hive leaf
        spark.range(200, 300).select(
            F.col("id"), (F.col("id") % 10).alias("k"),
            F.when(F.col("id") % 2 == 0, "a").otherwise("b")
            .alias("src")), "b.pb")
    engine.sql("DELETE FROM b.pb WHERE id % 7 = 0")
    engine.sql("UPDATE b.pb SET k = k + 100 WHERE id = 1")
    expect = {i for i in range(300) if i % 7 != 0}
    rows = {r.id: (r.k, r.src) for r in
            engine.read_table("b.pb").collect()}
    assert set(rows) == expect
    assert rows[1] == (101, "b") and rows[2] == (2, "a")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "pb")
    by_dir: dict[str, list] = {}
    for f in tdef.data_files:
        by_dir.setdefault(f.path.rsplit("/", 1)[0], []).append(f)
    for g in by_dir.values():
        assert g[0].dir_files == len(g) > 0
    # two more appends → several small dirs per hive leaf to pack
    for lo in (300, 400):
        engine.write_table(
            spark.range(lo, lo + 100).select(
                F.col("id"), (F.col("id") % 10).alias("k"),
                F.when(F.col("id") % 2 == 0, "a").otherwise("b")
                .alias("src")), "b.pb")
        expect |= set(range(lo, lo + 100))
    saved = engine.compact_small_files("b.pb")
    assert saved > 0
    agg = engine.read_table("b.pb").groupBy("k").agg(F.count("*"))
    assert "Exchange" not in _plan_of(agg, spark)
    assert engine.read_table("b.pb").count() == len(expect)


def test_bucket_column_rename_rekeys_and_drop_refuses(engine, spark):
    _mk(engine, spark)
    engine.sql("ALTER TABLE b.o RENAME COLUMN ck TO cust")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o")
    assert tdef.bucket_by["columns"] == ["cust"]
    # writes after the rename keep the layout (physical name unchanged)
    engine.write_table(
        spark.range(600, 700).select(
            F.col("id").alias("ok"), (F.col("id") % 50).alias("cust"),
            F.lit(0.0).alias("v")), "b.o")
    o = engine.read_table("b.o")
    agg = o.groupBy("cust").agg(F.count("*"))
    qe = agg._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    assert "Exchange" not in qe.explainString(mode)
    assert o.count() == 700
    with pytest.raises(ValueError, match="bucket column"):
        engine.drop_columns("b.o", ["cust"])


def test_bucketed_compaction_merges_dirs_and_keeps_layout(engine, spark):
    """compact_small_files packs WHOLE write dirs: k appends x n
    buckets collapse to one complete dir of <= n files, and the read
    stays exchange-free."""
    _mk(engine, spark)
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o")
    n_before = len(tdef.data_files)
    assert n_before > 8
    saved = engine.compact_small_files("b.o")
    assert saved > 0
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o")
    assert len(tdef.data_files) <= 8
    dirs = {f.path.rsplit("/", 1)[0] for f in tdef.data_files}
    assert len(dirs) == 1
    j, plan = _join_plan(engine, spark)
    assert "Exchange" not in plan, plan
    assert j.count() == 600


def test_zorder_refused_on_bucketed(engine, spark):
    _mk(engine, spark)
    with pytest.raises(ValueError, match="CLUSTERED BY"):
        engine.compact_table("b.o", zorder_by=["v"])


def test_clone_inherits_bucket_spec(engine, spark):
    _mk(engine, spark)
    engine.sql("CREATE TABLE b.o2 SHALLOW CLONE b.o")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o2")
    assert tdef.bucket_by == {"columns": ["ck"], "num_buckets": 8}
    # the clone's read is bucketed too (shared complete dirs)
    agg = engine.read_table("b.o2").groupBy("ck").agg(F.count("*"))
    qe = agg._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    assert "Exchange" not in qe.explainString(mode)


def test_ddl_validation_and_show_create_round_trip(engine, spark):
    with pytest.raises(ValueError, match="not in the table schema"):
        engine.sql("CREATE TABLE b.x1 (id BIGINT) "
                   "CLUSTERED BY (nope) INTO 8 BUCKETS")
    with pytest.raises(ValueError, match="partition"):
        engine.sql("CREATE TABLE b.x2 (id BIGINT, src STRING) "
                   "PARTITIONED BY (src) "
                   "CLUSTERED BY (src) INTO 8 BUCKETS")
    with pytest.raises(ValueError, match="at least 2"):
        engine.sql("CREATE TABLE b.x3 (id BIGINT) "
                   "CLUSTERED BY (id) INTO 1 BUCKETS")
    engine.sql("CREATE TABLE b.x4 (id BIGINT, k BIGINT) "
               "CLUSTERED BY (k) INTO 16 BUCKETS")
    ddl = engine.sql("SHOW CREATE TABLE b.x4").first()[0]
    assert "CLUSTERED BY (k) INTO 16 BUCKETS" in ddl


def test_merge_preserves_bucket_layout(engine, spark):
    _mk(engine, spark)
    src = spark.range(595, 650).select(
        F.col("id").alias("ok"), (F.col("id") % 50).alias("ck"),
        F.lit(9.0).alias("v"))
    engine.merge("b.o", src, on="t.ok = s.ok",
                 matched_update={"v": "s.v"},
                 not_matched_insert={"ok": "s.ok", "ck": "s.ck",
                                     "v": "s.v"})
    j, plan = _join_plan(engine, spark)
    assert "Exchange" not in plan, plan
    rows = {r.ok: r.v for r in engine.read_table("b.o").collect()}
    assert len(rows) == 650
    assert rows[599] == 9.0 and rows[649] == 9.0 and rows[10] == 15.0


def test_bucketed_write_emits_at_most_num_buckets_files(engine, spark):
    """The pre-repartition aligns tasks with buckets: one append emits
    <= num_buckets files, never tasks x buckets."""
    engine.sql("CREATE TABLE b.nb (id BIGINT, k BIGINT) "
               "CLUSTERED BY (k) INTO 4 BUCKETS")
    engine.write_table(
        spark.range(1000).repartition(16).select(
            F.col("id"), (F.col("id") % 40).alias("k")), "b.nb")
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "nb")
    assert 0 < len(tdef.data_files) <= 4
    # bucket ids are parseable from every filename (Spark's contract)
    for f in tdef.data_files:
        assert re.search(r"_(\d{5})(?:\.|$)", f.path.rsplit("/", 1)[1]), f


def test_governed_bucketed_table_still_filters(engine, spark):
    """The shadow-table read path feeds the SAME policy chokepoint."""
    _mk(engine, spark)
    engine.sql("ALTER TABLE b.o SET ROW FILTER (ck <> 0)")
    n = engine.sql("SELECT COUNT(*) AS n FROM b.o").first().n
    assert n == 600 - 12


def test_earlier_dataframes_survive_later_reregistration(engine, spark):
    """Review r10 #1 (reproduced): re-registering a table's shadow
    after a write must NOT invalidate DataFrames returned earlier —
    they lazily reference their own shadow. Also covers the one-
    statement current+time-travel combination, which registers two
    shadows of the same table."""
    _mk(engine, spark)
    df1 = engine.read_table("b.o")              # shadow #1
    v_pre = engine.catalog.tree.load_latest_root().version
    engine.write_table(
        spark.range(600, 650).select(
            F.col("id").alias("ok"), (F.col("id") % 50).alias("ck"),
            F.lit(0.0).alias("v")), "b.o")
    df2 = engine.read_table("b.o")              # shadow #2 (new dirs)
    assert df2.count() == 650
    assert df1.count() == 600                   # shadow #1 still alive
    # current + VERSION AS OF in ONE statement: both shadows resolve
    got = engine.sql(
        f"SELECT (SELECT COUNT(*) FROM b.o) - "
        f"(SELECT COUNT(*) FROM b.o VERSION AS OF {v_pre}) AS d")
    assert got.first().d == 50
    # DML whose subquery re-reads the same bucketed table: the
    # in-flight rewrite frame must survive the inner re-registration
    n = engine.sql("DELETE FROM b.o WHERE ok IN "
                   "(SELECT ok FROM b.o WHERE ck = 1)").first()[0]
    assert n == 13
    assert engine.read_table("b.o").count() == 650 - 13


def test_schema_evolution_refreshes_bucketed_shadow(engine, spark):
    """Review r10 #2 (reproduced): the shadow cache key carries the
    physical schema — ADD COLUMNS after a read must mint a fresh
    shadow, not re-serve the pre-alter column set."""
    _mk(engine, spark)
    assert engine.read_table("b.o").count() == 600   # registers shadow
    engine.sql("ALTER TABLE b.o ADD COLUMNS (extra STRING)")
    df = engine.read_table("b.o")
    assert "extra" in df.columns
    assert df.filter("extra IS NULL").count() == 600
    # and writes carrying the new column land + read back bucketed
    engine.write_table(
        spark.range(600, 610).select(
            F.col("id").alias("ok"), (F.col("id") % 50).alias("ck"),
            F.lit(1.0).alias("v"), F.lit("x").alias("extra")), "b.o")
    assert engine.read_table("b.o").filter("extra = 'x'").count() == 10


def test_exact_dml_row_counts_on_bucketed_tables(engine, spark):
    """Review r10 #4: DELETE/UPDATE return the EXACT matching-row
    count, not the row count of the whole expanded write dirs."""
    _mk(engine, spark)
    n = engine.sql("DELETE FROM b.o WHERE ok < 10").first()[0]
    assert n == 10
    # ck=5 covers ok ∈ {5, 55, 105, ...} (12 rows) minus ok=5 just
    # deleted above
    n = engine.sql("UPDATE b.o SET v = 0 WHERE ck = 5").first()[0]
    assert n == 11
    n = engine.sql("DELETE FROM b.o WHERE ok = -1").first()[0]
    assert n == 0


def test_half_registered_shadow_repairs_on_next_read(engine, spark):
    """Review r10 pass-2 #1: a shadow whose partition registration
    failed midway must not be served as complete — the unmarked dirs
    re-run the idempotent batched ADD IF NOT EXISTS and repair.
    Simulated by dropping one partition and clearing the process marks
    (exactly the state a mid-registration crash leaves)."""
    from olympia_spark import engine as engine_mod
    _mk(engine, spark)
    assert engine.read_table("b.o").count() == 600   # full registration
    shadows = [t.name for t in spark.catalog.listTables()
               if t.name.startswith("olympia_bucketed_")]
    target = [t for t in shadows
              if spark.table(t).count() == 600]
    assert target
    name = target[0]
    part = spark.sql(f"SHOW PARTITIONS `{name}`").first()[0]
    era = part.split("__olympia_era=")[1]
    spark.sql(f"ALTER TABLE `{name}` "
              f"DROP PARTITION (__olympia_era='{era}')")
    engine_mod._SHADOW_DIRS.clear()                  # fresh-process view
    assert engine.read_table("b.o").count() == 600   # repaired, not less


def test_one_shadow_per_table_and_incremental_appends(
        engine, spark, monkeypatch):
    """r10 VERDICT #3: ONE shadow per (table, spec, schema) — appends
    must not mint new session-catalog tables — and registration after
    an append ADDs only the NEW dirs (O(new dirs), not a full replay).
    The trailing no-new-dirs read issues no DDL at all."""
    _mk(engine, spark)                               # 3 write dirs

    def shadow_count():
        return len([t.name for t in spark.catalog.listTables()
                    if t.name.startswith("olympia_bucketed_")])

    assert engine.read_table("b.o").count() == 600
    base = shadow_count()
    adds: list[str] = []
    orig = spark.sql

    def spy(q, *a, **kw):
        if "ADD IF NOT EXISTS" in q:
            adds.append(q)
        return orig(q, *a, **kw)

    monkeypatch.setattr(spark, "sql", spy)
    engine.write_table(
        spark.range(600, 650).select(
            F.col("id").alias("ok"), (F.col("id") % 50).alias("ck"),
            F.lit(0.0).alias("v")), "b.o")
    assert engine.read_table("b.o").count() == 650
    assert shadow_count() == base                    # same shadow reused
    assert len(adds) == 1 and adds[0].count("PARTITION") == 1, adds
    adds.clear()
    assert engine.read_table("b.o").count() == 650   # all dirs vouched
    assert adds == []
    # the accreted shadow serves OLD snapshots through the era filter:
    # both reads stay exchange-free
    agg = engine.read_table("b.o").groupBy("ck").agg(F.count("*"))
    assert "Exchange" not in _plan_of(agg, spark)


def test_vacuumed_bucketed_dir_fails_loud_not_silently_empty(
        engine, spark, tmp_path):
    """ADVICE r10 (medium): a bucketed snapshot whose files were
    deleted out from under it (VACUUM of an expired version) must NOT
    silently read as empty partitions — registration re-verifies the
    on-disk count, downgrades to the tracked-path plain scan, and THAT
    fails loudly on the missing file."""
    import os
    from olympia_spark import engine as engine_mod
    _mk(engine, spark)
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o")
    victim = engine._abs(tdef.data_files[0].path)
    os.remove(victim)
    engine_mod._SHADOW_DIRS.clear()    # next read re-verifies each dir
    with pytest.raises(Exception):
        engine.read_table("b.o").count()


def test_quoted_warehouse_path_downgrades_not_breaks(spark, tmp_path):
    """ADVICE r10: a warehouse path containing a single quote cannot be
    embedded in shadow DDL — the read refuses the fast path (plain
    scan, exact values) instead of emitting broken SQL."""
    eng = Engine(spark, str(tmp_path / "it's wh"))
    eng.sql("CREATE NAMESPACE q")
    eng.sql("CREATE TABLE q.t (k BIGINT, v DOUBLE) "
            "CLUSTERED BY (k) INTO 4 BUCKETS")
    eng.write_table(
        spark.range(50).select(F.col("id").alias("k"),
                               (F.col("id") * 2.0).alias("v")), "q.t")
    df = eng.read_table("q.t")
    assert df.count() == 50
    assert df.agg(F.sum("v")).first()[0] == sum(i * 2.0 for i in range(50))


def test_duplicate_bucket_columns_refused(engine, spark):
    with pytest.raises(ValueError, match="duplicate bucket"):
        engine.sql("CREATE TABLE b.dup (k BIGINT, v DOUBLE) "
                   "CLUSTERED BY (k, k) INTO 8 BUCKETS")


@pytest.mark.slow
def test_shadow_registration_chunks_past_100_dirs(engine, spark):
    """The batched ADD IF NOT EXISTS statement chunks at 100 partitions
    — a table with >100 write dirs must register across chunks with no
    dir dropped (the exact boundary a single-statement implementation
    would never exercise)."""
    engine.sql("CREATE TABLE b.many (id BIGINT, k BIGINT) "
               "CLUSTERED BY (k) INTO 4 BUCKETS TBLPROPERTIES "
               "('auto.compact.threshold'='off')")
    for i in range(105):                      # 105 one-file write dirs
        engine.write_table(
            spark.createDataFrame([(i, i % 7)], "id BIGINT, k BIGINT"),
            "b.many")
    df = engine.read_table("b.many")
    assert df.count() == 105
    agg = df.groupBy("k").agg(F.count("*").alias("n"))
    qe = agg._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    assert "Exchange" not in qe.explainString(mode)
    assert {r.k: r.n for r in agg.collect()} == \
        {k: len([i for i in range(105) if i % 7 == k]) for k in range(7)}


def test_streaming_ingest_preserves_bucket_layout(engine, spark, tmp_path):
    """Composition proof: the streaming catalog-ingest sink funnels
    through the same writer chokepoint, so micro-batches into a
    CLUSTERED BY table land bucketed (complete dirs) and the
    post-stream read plans the keyed aggregation with zero Exchange."""
    from olympia_spark.operators.streaming import catalog_ingest_sink
    src = str(tmp_path / "ssrc")
    (spark.range(40).select(
        F.col("id").alias("event_id"),
        F.expr("timestamp '2024-01-01 00:00:00' + make_interval("
               "0,0,0,0,0,0,id)").alias("ts"),
        (F.col("id") % 5).cast("double").alias("value"))
     .write.parquet(src))
    schema = spark.read.parquet(src).schema
    eng2 = Engine(spark, str(tmp_path / "swh"))
    eng2.sql("CREATE NAMESPACE stream")
    eng2.create_table("stream.events", schema,
                      bucket_by=(["event_id"], 4),
                      properties={"auto.compact.threshold": "off"})
    stream = spark.readStream.schema(schema).parquet(src)
    q = (stream.writeStream.foreachBatch(catalog_ingest_sink(eng2))
         .option("checkpointLocation", str(tmp_path / "sck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    tdef = eng2.catalog.describe_table(
        eng2.catalog.begin(read_only=True), "stream", "events")
    assert tdef.bucket_by == {"columns": ["event_id"], "num_buckets": 4}
    assert all(f.dir_files > 0 for f in tdef.data_files)
    df = eng2.read_table("stream.events")
    assert df.count() == 40
    agg = df.groupBy("event_id").agg(F.sum("value"))
    qe = agg._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    assert "Exchange" not in qe.explainString(mode)
    assert agg.count() == 40


def test_streaming_ingest_into_hive_bucketed_table(engine, spark, tmp_path):
    """B55c composition proof: micro-batches into a PARTITIONED BY +
    CLUSTERED BY table land as complete bucketed dirs under their hive
    leaves, and the post-stream read keeps BOTH partition pruning and
    the zero-Exchange keyed aggregation."""
    from olympia_spark.operators.streaming import catalog_ingest_sink
    src = str(tmp_path / "hb_src")
    (spark.range(60).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("site"),
        (F.col("id") % 5).cast("double").alias("value"))
     .write.parquet(src))
    schema = spark.read.parquet(src).schema
    eng2 = __import__("olympia_spark.engine",
                      fromlist=["Engine"]).Engine(
        spark, str(tmp_path / "hb_wh"))
    eng2.sql("CREATE NAMESPACE stream")   # the sink's fixed target
    eng2.create_table("stream.events", schema,
                      partition_by=["site"],
                      bucket_by=(["event_id"], 4),
                      properties={"auto.compact.threshold": "off"})
    stream = spark.readStream.schema(schema).parquet(src)
    q = (stream.writeStream.foreachBatch(catalog_ingest_sink(eng2))
         .option("checkpointLocation", str(tmp_path / "hb_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    tdef = eng2.catalog.describe_table(
        eng2.catalog.begin(read_only=True), "stream", "events")
    assert all(f.dir_files > 0 for f in tdef.data_files)
    df = eng2.read_table("stream.events").filter("site = 'a'")
    agg = df.groupBy("event_id").agg(F.sum("value"))
    plan = _plan_of(agg, spark)
    assert "Exchange" not in plan, plan
    assert "site" in plan.split("PartitionFilters")[1].split("\n")[0]
    assert agg.count() == 30
    assert eng2.read_table("stream.events").count() == 60


def test_external_vacuum_never_silently_shrinks(engine, spark, tmp_path):
    """r11 VERDICT wrong #2: session shadow marks vouch for dirs a
    DIFFERENT process's GC may have vacuumed. The per-statement
    rotating freshness probe must catch the externally-emptied dir and
    downgrade to the plain scan — which fails LOUDLY on the missing
    files — never serve the vacuumed dir as an empty partition."""
    import os
    _mk(engine, spark)
    # a bucketed read registers + vouches the dirs
    assert engine.read_table("b.o").count() == 600
    # "another process" vacuums: delete one tracked data file directly
    # on disk, bypassing this session's engine entirely
    tdef = engine.catalog.describe_table(
        engine.catalog.begin(read_only=True), "b", "o")
    victim = os.path.join(engine._local_root, tdef.data_files[0].path)
    assert os.path.exists(victim)
    os.remove(victim)
    # every tracked-dir read path must now either raise or return the
    # full pre-vacuum count (e.g. a lagging cached relation) — the one
    # forbidden outcome is a silently smaller result. The probe rotates
    # one dir per statement, so staleness is bounded by the dir count:
    # drive enough statements to cover the rotation.
    saw_failure = False
    for _ in range(len({os.path.dirname(f.path)
                        for f in tdef.data_files}) + 1):
        try:
            n = engine.read_table("b.o").count()
        except Exception:
            saw_failure = True
            break
        assert n == 600, f"silently shrunk result: {n} rows"
    assert saw_failure, "externally vacuumed file was never surfaced"


def test_freshness_probe_keeps_intact_reads_bucketed(engine, spark):
    """The probe must not tax the healthy path: repeated reads of an
    intact table stay on the zero-Exchange bucketed plan."""
    _mk(engine, spark)
    for _ in range(3):
        _, plan = _join_plan(engine, spark)
        assert "Exchange" not in plan
