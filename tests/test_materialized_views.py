"""Materialized views (B151, beyond-reference): create / refresh lanes
(noop, incremental, full) / DML refusal / merge edge semantics.

The reference catalog carries only plain views (proto/objects.proto:
79-85); an MV here is an engine table stamped with its stored query,
sources and refresh watermark — see engine.create_materialized_view.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olympia_spark.engine import Engine
from tests.conftest import spark_jobs


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "wh"))
    e.sql("CREATE NAMESPACE ns1")
    return e


def _seed(eng, rows, schema="id LONG, grp STRING, v DOUBLE",
          tbl="src"):
    eng.write_table(eng.spark.createDataFrame(rows, schema), f"ns1.{tbl}")


AGG = ("SELECT grp, COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS mn, "
       "MAX(v) AS mx FROM ns1.src GROUP BY grp")


def _mv_rows(eng):
    return [tuple(r) for r in
            eng.sql("SELECT * FROM ns1.mv ORDER BY grp NULLS FIRST")
            .collect()]


def test_create_select_noop_and_watermark(eng):
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    assert _mv_rows(eng) == [("A", 2, 30.0, 10.0, 20.0),
                             ("B", 1, 5.0, 5.0, 5.0)]
    v = eng.catalog.history()[0]["version"]
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("noop", 0)
    # a no-op refresh commits NOTHING — no version churn, ever
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "noop"
    assert eng.catalog.history()[0]["version"] == v


def test_incremental_append_merges_and_counts_delta_only(eng):
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 7.0), (5, 'C', 1.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    # delta_rows == appended rows: the refresh consumed the CHANGE FEED,
    # not the table — the observable O(delta) evidence
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    assert _mv_rows(eng) == [("A", 2, 30.0, 10.0, 20.0),
                             ("B", 2, 12.0, 5.0, 7.0),
                             ("C", 1, 1.0, 1.0, 1.0)]
    # cross-check vs a from-scratch recompute
    full = [tuple(x) for x in
            eng.read_table("ns1.src").groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"),
                 F.min("v").alias("mn"), F.max("v").alias("mx"))
            .orderBy("grp").collect()]
    assert _mv_rows(eng) == full


def test_incremental_null_group_key_and_where(eng, tmp_path):
    _seed(eng, [(1, None, 4.0), (2, "A", 1.0), (3, "A", -9.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "WHERE v > 0 GROUP BY grp")
    assert _mv_rows(eng) == [(None, 1, 4.0), ("A", 1, 1.0)]
    # NULL-key group must MERGE with the existing NULL-key group
    # (eqNullSafe join), and the WHERE applies to the delta too
    eng.sql("INSERT INTO ns1.src VALUES "
            "(4, NULL, 6.0), (5, 'A', 2.0), (6, 'A', -5.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert _mv_rows(eng) == [(None, 2, 10.0), ("A", 2, 3.0)]


def test_incremental_global_aggregate(eng):
    _seed(eng, [(1, "A", 10.0), (2, "B", 2.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT COUNT(*) AS n, SUM(v) AS sv, MAX(v) AS mx "
            "FROM ns1.src")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'C', 30.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [(3, 42.0, 30.0)]


def test_deletes_on_minmax_take_group_scoped_lane(eng):
    """Deletes against a MIN/MAX plan no longer force full (r15,
    VERDICT r14 #4): the touched groups re-aggregate from the source
    under a key-membership predicate and splice over the stored rows —
    the un-extremed MAX comes back exactly."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("DELETE FROM ns1.src WHERE id = 2")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    assert _mv_rows(eng) == [("A", 1, 10.0, 10.0, 10.0),
                             ("B", 1, 5.0, 5.0, 5.0)]


def test_non_incrementalizable_shapes_take_full_lane(eng):
    _seed(eng, [(1, "A", 10.0), (2, "A", 10.0)])
    _seed(eng, [("A", "x")], schema="grp STRING, tag STRING", tbl="dim")
    # DISTINCT inside an aggregate → full
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(DISTINCT v) AS nd FROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 10.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 1)]
    # RIGHT OUTER join → full (only INNER chains and the two-source
    # LEFT shape are incrementalizable — _mv_plan's join lane; the
    # aliased join lanes have their own suite below)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT s.grp AS grp, COUNT(*) AS n FROM ns1.src s "
            "RIGHT JOIN ns1.dim d ON s.grp = d.grp GROUP BY s.grp")
    eng.sql("INSERT INTO ns1.src VALUES (4, 'A', 3.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv2").collect()] == [("A", 4)]


def test_backslash_escaped_quote_compound_takes_full_lane(eng):
    """ADVICE r13: _mv_code_view tracks no escape forms, so a
    backslash-escaped quote desyncs it — MIN('\\'') || MAX(v) passes
    the paren-balance check as a SINGLE MIN (real code blanked as
    literal) and the merge would apply least() to a value containing
    MAX. _mv_plan refuses backslashes up front, in every lane."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0)])
    q = ("SELECT grp, MIN('\\'') || MAX(v) AS m "
         "FROM ns1.src GROUP BY grp")
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {q}")
    txn = eng.catalog.begin(read_only=True)
    assert eng._mv_plan(q, ["ns1.src"], txn) is None
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 99.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", "'99.0")]


def test_refresh_full_keyword_overrides_incremental(eng):
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv FULL").collect()[0]
    assert r.mode == "full"
    assert _mv_rows(eng) == [("A", 2, 3.0, 1.0, 2.0)]


def test_dml_refusals_and_drop(eng):
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    for stmt in ("INSERT INTO ns1.mv VALUES ('Z', 1, 1.0, 1.0, 1.0)",
                 "DELETE FROM ns1.mv WHERE n > 0",
                 "UPDATE ns1.mv SET n = 0",
                 "TRUNCATE TABLE ns1.mv",
                 "INSERT OVERWRITE ns1.mv REPLACE WHERE n > 0 "
                 "SELECT * FROM ns1.mv"):
        with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
            eng.sql(stmt)
    with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
        eng.write_table(eng.spark.range(1), "ns1.mv")
    with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
        eng.merge("ns1.mv", eng.spark.createDataFrame(
            [("A",)], "grp string"), "t.grp = s.grp",
            not_matched_insert={"grp": "s.grp"})
    # DROP MATERIALIZED VIEW works; DROP MATERIALIZED VIEW on a plain
    # table refuses
    eng.sql("DROP MATERIALIZED VIEW ns1.mv")
    with pytest.raises(ValueError, match="not a materialized view"):
        eng.sql("DROP MATERIALIZED VIEW ns1.src")


def test_create_guards(eng):
    _seed(eng, [(1, "A", 1.0)])
    with pytest.raises(ValueError, match="reference itself"):
        eng.sql("CREATE MATERIALIZED VIEW ns1.src AS "
                "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    with pytest.raises(ValueError, match="at least one catalog table"):
        eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS SELECT 1 AS x")
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    # OR REPLACE re-materializes; replacing a plain table refuses
    eng.sql("CREATE OR REPLACE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    assert eng.sql("SELECT * FROM ns1.mv").columns == ["grp", "n"]
    _seed(eng, [(9, "Z", 9.0)], tbl="src2")
    with pytest.raises(ValueError, match="not a materialized view"):
        eng.sql("CREATE OR REPLACE MATERIALIZED VIEW ns1.src AS "
                "SELECT grp, COUNT(*) AS n FROM ns1.src2 GROUP BY grp")
    with pytest.raises(ValueError, match="not a materialized view"):
        eng.sql("REFRESH MATERIALIZED VIEW ns1.src")


def test_refused_inside_explicit_transaction(eng):
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("BEGIN")
    try:
        with pytest.raises(ValueError, match="explicit transaction"):
            eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")
        with pytest.raises(ValueError, match="explicit transaction"):
            eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv2 AS {AGG}")
    finally:
        eng.sql("ROLLBACK")


def test_time_travel_sees_pre_refresh_aggregate(eng):
    _seed(eng, [(1, "A", 10.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 20.0)")
    eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")
    assert _mv_rows(eng) == [("A", 2, 30.0, 10.0, 20.0)]
    old = [tuple(r) for r in eng.sql(
        f"SELECT * FROM ns1.mv VERSION AS OF {v0}").collect()]
    assert old == [("A", 1, 10.0, 10.0, 10.0)]


def test_governed_source_materializes_filtered_rows(eng):
    """The MV query resolves through the governed read path (like a
    view): a row filter on the source is applied both at creation and
    by the incremental delta (table_changes is reader-facing)."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.sql("ALTER TABLE ns1.src SET ROW FILTER (grp = 'A')")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    assert [tuple(r) for r in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 1)]
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 3.0), (4, 'B', 4.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 2)]


def test_randomized_refresh_sequence_matches_recompute(eng):
    """Soak: a seeded random sequence of appends (and one delete)
    with a refresh after each step — after every refresh the MV must
    equal a from-scratch recompute, whatever lane ran; appends take
    the incremental lane, and since r15 the delete step against this
    MIN/MAX plan takes the group-scoped recompute (also reported
    incremental) instead of full."""
    import random
    rnd = random.Random(13)
    rows = [(i, rnd.choice(["A", "B", None]),
             float(rnd.randint(-50, 50))) for i in range(20)]
    _seed(eng, rows)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    next_id = 20
    for step in range(6):
        if step == 3:
            eng.sql("DELETE FROM ns1.src WHERE id % 5 = 0")
        else:
            vals = ", ".join(
                f"({next_id + k}, "
                + (f"'{g}'" if (g := rnd.choice(['A', 'B', 'C', None]))
                   else "NULL")
                + f", {float(rnd.randint(-50, 50))})"
                for k in range(rnd.randint(1, 4)))
            next_id += 4
            eng.sql(f"INSERT INTO ns1.src VALUES {vals}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "incremental", (step, r)
        full = [tuple(x) for x in
                eng.read_table("ns1.src").groupBy("grp")
                .agg(F.count("*").alias("n"), F.sum("v").alias("sv"),
                     F.min("v").alias("mn"), F.max("v").alias("mx"))
                .orderBy(F.col("grp").asc_nulls_first()).collect()]
        assert _mv_rows(eng) == full, step


def test_empty_source_creation_then_first_append(eng):
    """An MV created over an EMPTY source (zero stored groups) must
    take the first append through the incremental merge — the full
    outer join against an empty stored side keeps every delta group."""
    _seed(eng, [])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "GROUP BY grp")
    assert eng.sql("SELECT * FROM ns1.mv").count() == 0
    eng.sql("INSERT INTO ns1.src VALUES (1, 'A', 5.0), (2, 'A', 6.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 2, 11.0)]


# --- review regressions (r12 s2 pass) ----------------------------------------

def test_full_keyword_beats_noop_and_policy_change_is_seen(eng):
    """Review r12 s2: (a) FULL must recompute even when the probe sees
    no change; (b) a row-filter change on the source is metadata-only
    (file lists untouched) but CHANGES what the stored query returns —
    the probe's signature includes policy props, so a plain REFRESH
    recomputes and the MV stops serving rows the new policy hides."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    # (a) nothing changed at all — FULL still recomputes
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv FULL").collect()[0]
    assert r.mode == "full"
    # (b) policy change without any file change
    eng.sql("ALTER TABLE ns1.src SET ROW FILTER (grp = 'A')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 1)]
    # dropping the filter is seen too
    eng.sql("ALTER TABLE ns1.src DROP ROW FILTER")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert sorted(tuple(x) for x in
                  eng.sql("SELECT * FROM ns1.mv").collect()) == \
        [("A", 1), ("B", 1)]


def test_group_key_missing_from_select_downgrades(eng):
    """Review r12 s2: GROUP BY key absent from the SELECT list is
    valid SQL but unmergeable (the stored side has no key column) —
    the refresh must take the full lane, never crash mid-merge."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT COUNT(*) AS n FROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 3.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert sorted(x.n for x in
                  eng.sql("SELECT * FROM ns1.mv").collect()) == [1, 2]


def test_qualified_refs_and_time_functions_downgrade(eng):
    """Review r12 s2: qualified column references resolve at creation
    (the table is pinned behind an alias) but not over the delta temp
    view; time-dependent predicates applied to the delta only would
    never retract aged-out stored rows. Both shapes must take the
    full lane."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, SUM(ns1.src.v) AS sv FROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 3.0)]
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src "
            "WHERE v < UNIX_TIMESTAMP() GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 5.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2").collect()[0]
    assert r.mode == "full"


def test_mv_over_view_noops_and_sees_redefinition(eng):
    """Review r12 s2: an MV over a plain VIEW must (a) noop without
    version churn while nothing changed (the probe expands the view to
    its tables instead of describing it as a table), (b) detect an
    append to the view's underlying table, and (c) detect a
    REDEFINITION of the view — invisible to file diffs — via the
    stored view-definition hash."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.create_view("ns1.v", "SELECT grp, v FROM ns1.src WHERE grp = 'A'")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.v GROUP BY grp")
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 1)]
    ver = eng.catalog.history()[0]["version"]
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "noop"
    assert eng.catalog.history()[0]["version"] == ver   # no churn
    # (b) underlying table changed → refresh (full: FROM is a view)
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 3.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 2)]
    # (c) view redefinition, zero file changes → refresh
    eng.create_view("ns1.v", "SELECT grp, v FROM ns1.src WHERE grp = 'B'",
                    replace=True)
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("B", 1)]


def test_restore_refuses_on_mv(eng):
    """Review r12 s2: RESTORE would rewrite MV rows under the refresh
    watermark — later refreshes would noop forever against stale
    numbers."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")
    with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
        eng.sql(f"RESTORE TABLE ns1.mv TO VERSION AS OF {v0}")


# --- review regressions (r12 s2 pass 2) ---------------------------------------

def test_unknown_functions_downgrade_via_whitelist(eng):
    """Pass-2: the incremental gate is an identifier WHITELIST, not a
    banned-function blacklist — curdate() (the alias that slipped the
    blacklist) and any future nondeterministic function downgrade to
    the full lane; whitelisted deterministic shapes still qualify."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src "
            "WHERE v < 100 AND grp IS NOT NULL GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src "
            "WHERE v < CAST(DATE_FORMAT(CURDATE(), 'D') AS DOUBLE) "
            "GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 0.5)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2") \
        .collect()[0].mode == "full"


def test_view_redefinition_full_once_then_noop(eng):
    """Pass-2: a force_full refresh restamps the WHOLE dependency
    record (sources + view hash), so the drift is consumed ONCE — the
    next refresh noops with zero version churn instead of recomputing
    forever."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.create_view("ns1.v", "SELECT grp, v FROM ns1.src WHERE grp = 'A'")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.v GROUP BY grp")
    eng.create_view("ns1.v", "SELECT grp, v FROM ns1.src WHERE grp = 'B'",
                    replace=True)
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    ver = eng.catalog.history()[0]["version"]
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "noop"
    assert eng.catalog.history()[0]["version"] == ver


def test_self_reference_through_view_refused(eng):
    """Pass-2: OR REPLACE over a view that reads the MV itself is a
    view-mediated self-reference — the expanded table set catches what
    the direct-refs check cannot."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    eng.create_view("ns1.w", "SELECT grp, n FROM ns1.mv")
    with pytest.raises(ValueError, match="reference itself"):
        eng.sql("CREATE OR REPLACE MATERIALIZED VIEW ns1.mv AS "
                "SELECT grp, SUM(n) AS n FROM ns1.w GROUP BY grp")


def test_legacy_mv_without_refs_props_still_noops_and_backfills(eng):
    """Pass-2: an MV persisted before mv.refs/mv.view_hash existed
    (simulated by stripping the props) must still noop while unchanged
    — the probe falls back to mv.sources as the direct refs — and the
    next real refresh backfills the full dependency record."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    txn = eng.catalog.begin()
    tdef = eng.catalog.describe_table(txn, "ns1", "mv")
    tdef.properties.pop(eng._MV_REFS_PROP)
    tdef.properties.pop(eng._MV_VIEWS_PROP)
    eng.catalog.alter_table(txn, "ns1", "mv", tdef)
    eng.catalog.commit(txn)
    ver = eng.catalog.history()[0]["version"]
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "noop"
    assert eng.catalog.history()[0]["version"] == ver
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    ro = eng.catalog.begin(read_only=True)
    props = eng.catalog.describe_table(ro, "ns1", "mv").properties
    assert eng._MV_REFS_PROP in props and eng._MV_VIEWS_PROP in props


def test_concurrent_source_append_during_refresh(eng, spark, monkeypatch):
    """A SECOND engine commits a source append BETWEEN the refresh's
    delta computation and its CAS commit (injected at the MV write):
    the refresh's commit must merge past the concurrent source commit
    (different keys — resolvable), its watermark stays at the version
    it actually READ, and the next refresh picks the mid-flight append
    up incrementally. Nothing is lost, nothing double-counts."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    other = Engine(spark, eng.catalog.storage.root)
    cls = type(eng)
    orig = cls._write_files
    fired = {}

    def hooked(self, df, ns, tbl, *a, **k):
        if not fired and (ns, tbl) == ("ns1", "mv"):
            fired["x"] = True
            other.sql("INSERT INTO ns1.src VALUES (3, 'B', 5.0)")
        return orig(self, df, ns, tbl, *a, **k)

    monkeypatch.setattr(cls, "_write_files", hooked)
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    # the mid-flight append is NOT in this refresh (read before it)…
    assert _mv_rows(eng) == [("A", 2, 3.0)]
    # …and the NEXT refresh consumes exactly it
    r2 = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r2.mode, r2.delta_rows) == ("incremental", 1)
    assert _mv_rows(eng) == [("A", 2, 3.0), ("B", 1, 5.0)]


# --- review regressions (r12 s2 pass 3) ---------------------------------------

def test_refresh_refuses_when_view_repointed_at_mv(eng):
    """Pass-3: the create-time self-reference check cannot see a view
    REPOINTED at the MV afterwards — refresh re-expands and must
    refuse loudly instead of recomputing the MV from its own previous
    output forever."""
    _seed(eng, [(1, "A", 1.0)])
    eng.create_view("ns1.v", "SELECT grp, v FROM ns1.src")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.v GROUP BY grp")
    eng.create_view("ns1.v", "SELECT grp, CAST(n AS DOUBLE) AS v "
                             "FROM ns1.mv", replace=True)
    with pytest.raises(ValueError, match="reaches itself"):
        eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")


def test_column_named_like_function_cannot_launder_the_call(eng):
    """Pass-3: a source column named `rand` must not whitelist the
    FUNCTION rand() — call tokens are checked against safe words only.
    The bare column reference stays incremental."""
    _seed(eng, [(1, "A", 0.5)], schema="id LONG, grp STRING, rand DOUBLE")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src "
            "WHERE rand() < 2.0 GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 0.5)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src "
            "WHERE rand < 2.0 GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 0.5)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2") \
        .collect()[0].mode == "incremental"


def test_exponent_literals_keep_the_incremental_lane(eng):
    """Pass-3: 1e5 / 1.5E-3 / 0x1F tokenize as bogus identifiers (e5,
    x1F) unless numeric literals are scrubbed — deterministic queries
    with such literals must keep the incremental lane."""
    _seed(eng, [(1, "A", 10.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, SUM(v) AS sv FROM ns1.src "
            "WHERE v < 1e5 AND v > -1.5E-3 GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 20.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 30.0)]


@pytest.mark.parametrize("items,where", [
    ("grp, COUNT(*) AS n, SUM(CASE WHEN v > 0 THEN v ELSE 0 END) AS pos",
     None),
    ("grp, SUM(CAST(v AS DECIMAL(20,4))) AS sv, MIN(v) AS mn", "v <> 0"),
    ("grp, COUNT(id) AS n", "v BETWEEN -10 AND 10 AND grp IN ('A', 'B')"),
    ("grp, MIN(tag) AS t0, MAX(tag) AS t1", "tag LIKE 'x%'"),
])
def test_incremental_shapes_match_recompute(eng, items, where):
    """Grammar sweep: whitelisted aggregate shapes (CASE/CAST inners,
    BETWEEN/IN/LIKE predicates, string MIN/MAX) must all take the
    incremental lane and match a from-scratch recompute after two
    append rounds."""
    rows = [(1, "A", 4.0, "xa"), (2, "B", -3.0, "xb"), (3, "A", 0.0, "ya")]
    _seed(eng, rows, schema="id LONG, grp STRING, v DOUBLE, tag STRING")
    q = f"SELECT {items} FROM ns1.src" + (f" WHERE {where}" if where else "")
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {q} GROUP BY grp")
    for batch in ("(4, 'B', 7.5, 'xc'), (5, 'C', 2.0, 'xz')",
                  "(6, 'A', -1.0, 'x_'), (7, NULL, 5.0, 'yq')"):
        eng.sql(f"INSERT INTO ns1.src VALUES {batch}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "incremental", (items, where, r)
        # recompute from scratch over the CURRENT source rows
        eng.read_table("ns1.src").createOrReplaceTempView("__mvsrc")
        got = sorted(map(tuple, eng.sql(
            "SELECT * FROM ns1.mv").collect()),
            key=lambda t: (t[0] is None, t))
        want = sorted(map(tuple, eng.spark.sql(
            f"{q.replace('ns1.src', '__mvsrc')} GROUP BY grp").collect()),
            key=lambda t: (t[0] is None, t))
        assert got == want, (items, where)


def test_backtick_and_double_quote_edges(eng):
    """Pass-4: a BACKTICK-quoted call (`rand`()) must meet the call
    whitelist like its bare spelling — a column named rand cannot
    launder it; a DOUBLE-QUOTED string literal (Spark default) must
    scrub like a single-quoted one so LIKE "x%" keeps the incremental
    lane."""
    _seed(eng, [(1, "A", 0.5, "xa")],
          schema="id LONG, grp STRING, rand DOUBLE, tag STRING")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src "
            "WHERE `rand`() < 2.0 GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 0.5, 'xb')")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    eng.sql('CREATE MATERIALIZED VIEW ns1.mv2 AS '
            'SELECT grp, COUNT(*) AS n FROM ns1.src '
            'WHERE tag LIKE "x%" GROUP BY grp')
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 0.5, 'xc')")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2") \
        .collect()[0].mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv2").collect()] == [("A", 3)]


def test_cross_paired_quotes_cannot_hide_a_call(eng):
    """Pass-5: two double-quoted literals each containing an apostrophe
    must not cross-pair under the scrub and delete the rand() between
    them — the combined one-pass literal scrub keeps the call visible
    and the refresh takes the full lane."""
    _seed(eng, [(1, "A", 1.0, "don't")],
          schema="id LONG, grp STRING, v DOUBLE, tag STRING")
    eng.sql('CREATE MATERIALIZED VIEW ns1.mv AS '
            'SELECT grp, COUNT(*) AS n FROM ns1.src '
            'WHERE tag <> "don\'t" AND rand() < 2.0 AND tag <> "won\'t" '
            'GROUP BY grp')
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0, 'x')")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    # a deterministic query with the same literal shapes KEEPS the lane
    eng.sql('CREATE MATERIALIZED VIEW ns1.mv2 AS '
            'SELECT grp, COUNT(*) AS n FROM ns1.src '
            'WHERE tag <> "don\'t" AND v < 100 AND tag <> "won\'t" '
            'GROUP BY grp')
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 3.0, 'y')")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2") \
        .collect()[0].mode == "incremental"


def test_backticks_inside_literals_and_escaped_quotes(eng):
    """Pass-6: backticks INSIDE string literals must not cross-pair
    with anything (they are literal content), and backslash-escaped
    quotes must not close a literal early — in both shapes a rand()
    between two such literals stays visible to the call whitelist and
    the refresh takes the full lane. Backslashes and backticks now
    refuse UNCONDITIONALLY (ADVICE r13): _mv_code_view tracks neither
    escape nor quoted-identifier forms, so their mere presence
    downgrades to full even when the WHERE itself is deterministic —
    the always-correct lane: _mv_plan refuses both up front, in every
    lane, keeping _mv_code_view's documented precondition explicit."""
    _seed(eng, [(1, "A", 1.0, "x")],
          schema="id LONG, grp STRING, v DOUBLE, tag STRING")
    cases = [
        ("tag <> 'a`b' AND rand() < 2.0 AND tag <> 'c`d'", "full"),
        ("tag <> 'a`b' AND v < 100 AND tag <> 'c`d'", "full"),
        (r"tag <> 'abc\'sum' AND rand() < 2.0 AND tag <> 'min\'xyz'",
         "full"),
        (r"tag <> 'abc\'sum' AND v < 100 AND tag <> 'min\'xyz'",
         "full"),
    ]
    for i, (where, lane) in enumerate(cases):
        eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvq{i} AS "
                f"SELECT grp, COUNT(*) AS n FROM ns1.src "
                f"WHERE {where} GROUP BY grp")
        eng.sql(f"INSERT INTO ns1.src VALUES ({i + 10}, 'A', 1.0, 'y')")
        got = eng.sql(f"REFRESH MATERIALIZED VIEW ns1.mvq{i}") \
            .collect()[0].mode
        assert got == lane, (where, got)


def test_keyword_inside_literal_keeps_the_incremental_lane(eng):
    """_mv_plan scans keywords on the code view: 'union' and 'order'
    inside WHERE literals are data, not structure, so the single-source
    lane holds and its rows equal a full recompute."""
    _seed(eng, [(1, "A", 10.0, "x"), (2, "B", 5.0, "union")],
          schema="id LONG, grp STRING, v DOUBLE, tag STRING")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "WHERE tag <> 'union' AND tag <> 'order' GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 1.0, 'y'), "
            "(4, 'C', 2.0, 'order'), (5, 'C', 4.0, 'z')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 3)
    incremental = _mv_rows(eng)
    assert incremental == [("A", 2, 11.0), ("C", 1, 4.0)]
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv FULL").collect()[0]
    assert r.mode == "full"
    assert _mv_rows(eng) == incremental


def test_dotted_literal_keeps_the_incremental_lane(eng):
    """The qualified-reference check reads the code view: 'a.b' inside
    a WHERE literal is data, not a table.column reference."""
    _seed(eng, [(1, "A", 10.0, "x"), (2, "B", 5.0, "a.b")],
          schema="id LONG, grp STRING, v DOUBLE, tag STRING")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "WHERE tag <> 'a.b' GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 1.0, 'y'), "
            "(4, 'C', 2.0, 'a.b'), (5, 'C', 4.0, 'z')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 3)
    incremental = _mv_rows(eng)
    assert incremental == [("A", 2, 11.0), ("C", 1, 4.0)]
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv FULL").collect()[0]
    assert r.mode == "full"
    assert _mv_rows(eng) == incremental


@pytest.fixture(scope="module")
def lane_eng(spark, tmp_path_factory):
    e = Engine(spark, str(tmp_path_factory.mktemp("lanes") / "wh"))
    e.sql("CREATE NAMESPACE ns1")
    for tbl in ("src", "src2"):
        e.sql(f"CREATE TABLE ns1.{tbl} "
              "(id BIGINT, grp STRING, v DOUBLE, tag STRING, ts TIMESTAMP)")
    e.sql("CREATE TABLE ns1.dim (grp STRING, label STRING)")
    e.sql("CREATE TABLE ns1.dim2 (label STRING, region STRING)")
    return e


_U2 = ("(SELECT grp, v FROM ns1.src UNION ALL "
       "SELECT grp, v FROM ns1.src2) u")
_LANES = [
    ("single", ["src"], "SELECT grp, COUNT(*) AS n, SUM(v) AS sv "
     "FROM ns1.src GROUP BY grp"),
    ("single", ["src"], "SELECT date_trunc('day', ts) AS day, "
     "COUNT(*) AS n FROM ns1.src GROUP BY date_trunc('day', ts)"),
    ("single", ["src"], "SELECT grp, SUM(v) AS sv FROM ns1.src "
     "GROUP BY grp HAVING SUM(v) > 10"),
    ("single", ["src"], "SELECT COUNT(*) AS n, AVG(v) AS av FROM ns1.src"),
    ("union", ["src"], "SELECT grp, COUNT(*) AS n FROM (SELECT grp "
     "FROM ns1.src WHERE v > 0 UNION ALL SELECT grp FROM ns1.src "
     "WHERE v < 0) u GROUP BY grp"),
    ("union", ["src", "src2"], f"SELECT grp, SUM(v) AS sv FROM {_U2} "
     "GROUP BY grp"),
    ("union", ["src", "src2"], f"SELECT grp, COUNT(*) AS n FROM {_U2} "
     "WHERE v > 1 GROUP BY grp"),
    ("join", ["dim", "src"], "SELECT d.label AS label, COUNT(*) AS n, "
     "SUM(f.v) AS sv FROM ns1.src f JOIN ns1.dim d ON f.grp = d.grp "
     "GROUP BY d.label"),
    ("join", ["dim", "dim2", "src"], "SELECT e.region AS region, "
     "COUNT(*) AS n FROM ns1.src f JOIN ns1.dim d ON f.grp = d.grp "
     "JOIN ns1.dim2 e ON d.label = e.label GROUP BY e.region"),
    ("join", ["dim", "src"], "SELECT f.grp AS grp, COUNT(d.label) AS n "
     "FROM ns1.src f LEFT JOIN ns1.dim d ON f.grp = d.grp GROUP BY f.grp"),
    (None, ["src"], "SELECT `grp`, COUNT(*) AS n FROM ns1.src "
     "GROUP BY `grp`"),
    (None, ["src"], "SELECT grp, COUNT(*) AS n FROM ns1.src "
     "WHERE tag <> 'a\\'b' GROUP BY grp"),
    (None, ["src"], "SELECT grp, COUNT(DISTINCT v) AS nd FROM ns1.src "
     "GROUP BY grp"),
    (None, ["src"], "SELECT grp, SUM(v) OVER (PARTITION BY grp) AS sv "
     "FROM ns1.src"),
    (None, ["src", "src2"], "SELECT grp, COUNT(*) AS n FROM (SELECT grp "
     "FROM ns1.src UNION SELECT grp FROM ns1.src2) u GROUP BY grp"),
    (None, ["src"], "SELECT grp, COUNT(*) AS n FROM ns1.src "
     "WHERE src.v > 0 GROUP BY grp"),
    (None, ["dim", "src"], "SELECT grp, COUNT(*) AS n FROM ns1.src "
     "JOIN ns1.dim ON src.grp = dim.grp GROUP BY grp"),
    (None, ["src"], "SELECT grp, COUNT(*) AS __mv_n FROM ns1.src "
     "GROUP BY grp"),
    (None, ["dim", "src"], "SELECT d.grp AS grp, COUNT(*) AS n "
     "FROM ns1.src f RIGHT JOIN ns1.dim d ON f.grp = d.grp "
     "GROUP BY d.grp"),
    (None, ["src", "src2"], f"SELECT grp, COUNT(*) AS n FROM {_U2} "
     "GROUP BY grp HAVING COUNT(*) > 1"),
]


@pytest.mark.parametrize("lane,tables,q", _LANES)
def test_mv_plan_lane_routing(lane_eng, spark, lane, tables, q):
    """The FROM shape picks the lane; every refusal is None. The parse
    reads table definitions only and runs no Spark job."""
    txn = lane_eng.catalog.begin(read_only=True)
    with spark_jobs(spark) as jobs:
        plan = lane_eng._mv_plan(q, [f"ns1.{t}" for t in tables], txn)
    assert (plan and plan.lane) == lane
    assert jobs.n == 0


def test_refresh_leaves_no_persistent_rdds(eng, spark):
    """Pass-6: the incremental refresh caches the delta for its three
    consumers and must RELEASE it — a localCheckpoint here leaked one
    persisted RDD per refresh for the session lifetime."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    for i in range(3):
        eng.sql(f"INSERT INTO ns1.src VALUES ({i + 2}, 'A', 2.0)")
        assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
            .collect()[0].mode == "incremental"
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


# --- r13 ADVICE fixes ---------------------------------------------------------


def test_schema_ddl_refused_on_mv(eng):
    """ADVICE r13 (low): ALTER TABLE ADD/DROP/RENAME COLUMN on an MV
    desyncs its schema from the stored query and only surfaces later as
    a confusing cast/AnalysisException at the next refresh — refuse at
    the DDL, naming the remedy."""
    _seed(eng, [(1, "A", 10.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    for stmt in ("ALTER TABLE ns1.mv ADD COLUMNS (extra DOUBLE)",
                 "ALTER TABLE ns1.mv RENAME COLUMN n TO n2",
                 "ALTER TABLE ns1.mv DROP COLUMNS (mx)"):
        with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
            eng.sql(stmt)
    # plain source tables still alter fine through the same handlers
    eng.sql("ALTER TABLE ns1.src ADD COLUMNS (extra DOUBLE)")


def test_session_timezone_drift_forces_full_then_restamps(eng):
    """ADVICE r13 (low): _MV_SAFE_WORDS admits session-timezone-
    dependent functions (to_date, date_format, …) — a refresh under a
    DIFFERENT spark.sql.session.timeZone must not merge new-zone delta
    rows into old-zone stored rows. Zone drift forces the full lane;
    the rewrite restamps the zone so the NEXT refresh is incremental
    again."""
    _seed(eng, [(1, "A", 10.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    old = eng.spark.conf.get("spark.sql.session.timeZone")
    other = "Pacific/Kiritimati" if old != "Pacific/Kiritimati" else "UTC"
    try:
        eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 5.0)")
        eng.spark.conf.set("spark.sql.session.timeZone", other)
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "full"
        eng.sql("INSERT INTO ns1.src VALUES (3, 'B', 2.0)")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "incremental"
        assert _mv_rows(eng) == [("A", 2, 15.0, 5.0, 10.0),
                                 ("B", 1, 2.0, 2.0, 2.0)]
    finally:
        eng.spark.conf.set("spark.sql.session.timeZone", old)


def test_repointed_source_pointer_forces_full_not_noop(eng):
    """ADVICE r13 (medium): a source whose DATA-FILE LIST is unchanged
    but whose pointer state changed (metadata_location repointed — the
    persistable member of the hydration signature; a delete-only MOR
    snapshot manifests exactly this way) must NOT probe as 'noop': the
    stored rows may reflect logically-deleted data."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    txn = eng.catalog.begin()
    td = eng.catalog.describe_table(txn, "ns1", "src")
    td.metadata_location = "file:///repointed/v2/metadata.json"
    eng.catalog.alter_table(txn, "ns1", "src", td)
    eng.catalog.commit(txn)
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"


def test_mv_semantic_sig_covers_mor_and_pointer_state():
    """The per-source signature must see every hydration-visible axis:
    policy props, iceberg.mor_deletes, iceberg.identity_fill, and the
    metadata_location — four defs differing in exactly one axis each
    produce four distinct signatures (ADVICE r13 medium)."""
    from olympia_spark.catalog.defs import TableDef
    defs = [
        TableDef(),
        TableDef(properties={"iceberg.mor_deletes": "[{\"path\": \"d\"}]"}),
        TableDef(properties={"iceberg.identity_fill": "p_col"}),
        TableDef(metadata_location="file:///m/v7.metadata.json"),
    ]
    sigs = [Engine._mv_semantic_sig(t) for t in defs]
    assert len({repr(s) for s in sigs}) == 4
    assert Engine._mv_semantic_sig(TableDef()) == sigs[0]


def test_failed_delta_probe_leaves_no_persistent_rdds(eng, spark,
                                                      monkeypatch):
    """ADVICE r13 (low): the delta persist + retraction probe must sit
    INSIDE the try/finally that owns unpersist — a probe that throws
    (scan failure, expired files) would otherwise leak the persisted
    DataFrame for the session lifetime."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")

    def boom(_self=None, *a, **k):
        raise RuntimeError("injected: 1/0")

    bad = (spark.createDataFrame([("insert",)], "_change_type string")
           .select(F.udf(boom, "int")(F.lit(1)).alias("x"),
                   "_change_type"))
    monkeypatch.setattr(Engine, "table_changes",
                        lambda self, *a, **k: bad)
    with pytest.raises(Exception):
        eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


# --- r13: AVG incremental lane (VERDICT r12 #3) --------------------------------


AVG_Q = ("SELECT grp, AVG(v) AS av, COUNT(*) AS n, SUM(v) AS sv "
         "FROM ns1.src GROUP BY grp")


def _avg_rows(eng, mv="mv"):
    return [tuple(r) for r in
            eng.sql(f"SELECT * FROM ns1.{mv} ORDER BY grp NULLS FIRST")
            .collect()]


def test_avg_incremental_two_rounds_equals_recompute(eng):
    """AVG decomposes into hidden SUM/COUNT companions: two append+
    refresh rounds stay on the incremental lane and the merged avg
    equals a from-scratch recompute each round."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 7.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AVG_Q}")
    assert _avg_rows(eng) == [("A", 15.0, 2, 30.0), ("B", 7.0, 1, 7.0)]
    for batch in ([(4, "A", 30.0), (5, "C", 1.0)],
                  [(6, "B", 9.0), (7, "C", 3.0)]):
        vals = ", ".join(f"({i}, '{g}', {v})" for i, g, v in batch)
        eng.sql(f"INSERT INTO ns1.src VALUES {vals}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert (r.mode, r.delta_rows) == ("incremental", 2)
        full = [tuple(x) for x in
                eng.read_table("ns1.src").groupBy("grp")
                .agg(F.avg("v").alias("av"), F.count("*").alias("n"),
                     F.sum("v").alias("sv")).orderBy("grp").collect()]
        assert _avg_rows(eng) == full


def test_avg_companions_invisible_to_reads(eng):
    """The companion columns live in the parquet files but OUTSIDE the
    declared schema: SELECT * / DESCRIBE / time travel never see them,
    while the raw files DO carry them (the physical evidence)."""
    _seed(eng, [(1, "A", 10.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT AVG(v) AS av, grp FROM ns1.src GROUP BY grp")
    df = eng.sql("SELECT * FROM ns1.mv")
    assert df.columns == ["av", "grp"]   # declared order preserved too
    txn = eng.catalog.begin(read_only=True)
    td = eng.catalog.describe_table(txn, "ns1", "mv")
    raw = eng.spark.read.parquet(*eng._scan_uris(td.file_paths()))
    assert {"__mv_sum__av", "__mv_cnt__av"} <= set(raw.columns)
    desc = [f.name for f in td.spark_schema().fields]
    assert desc == ["av", "grp"]


def test_avg_null_inputs_and_global_avg(eng):
    """A group whose stored inputs were all NULL (avg NULL, cnt 0) must
    adopt the delta's values; a global AVG (no GROUP BY) merges through
    the constant-key join."""
    _seed(eng, [(1, "A", None), (2, "B", 4.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, AVG(v) AS av FROM ns1.src GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvg AS "
            "SELECT AVG(v) AS av, COUNT(*) AS n FROM ns1.src")
    assert _avg_rows(eng) == [("A", None), ("B", 4.0)]
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 6.0), (4, 'B', NULL)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mvg") \
        .collect()[0].mode == "incremental"
    assert _avg_rows(eng) == [("A", 6.0), ("B", 4.0)]
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mvg").collect()] == [(5.0, 4)]


def test_avg_integer_column_long_sum_companion(eng):
    """AVG over an integer column: the companion SUM is a LONG and adds
    exactly; avg output type (double) matches Spark's Average."""
    _seed(eng, [(1, "A", 1.0), (2, "A", 2.0)],
          schema="id LONG, grp STRING, v DOUBLE")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, AVG(id) AS aid FROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (6, 'A', 3.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    assert _avg_rows(eng) == [("A", 3.0)]


def test_avg_legacy_files_without_companions_full_then_incremental(eng):
    """An AVG MV whose files lack the companions (legacy materialization,
    simulated by rewriting the MV's files from the declared projection)
    must take the FULL lane once — which writes the companions back —
    then the next refresh is incremental again."""
    from olympia_spark.catalog.actions import ActionType
    _seed(eng, [(1, "A", 2.0), (2, "B", 4.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, AVG(v) AS av FROM ns1.src GROUP BY grp")
    txn = eng.catalog.begin()
    td = eng.catalog.describe_table(txn, "ns1", "mv")
    declared_only = eng.read_table("ns1.mv")
    files = eng._write_files(declared_only, "ns1", "mv", [], tdef=td)
    eng.catalog.update_table_files(
        txn, "ns1", "mv", files, td.file_paths(), ActionType.TABLE_UPDATE,
        {"added": [f.path for f in files], "removed": td.file_paths()})
    eng.catalog.commit(txn)
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 4.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    assert _avg_rows(eng) == [("A", 3.0), ("B", 4.0)]
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 8.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    assert _avg_rows(eng) == [("A", 3.0), ("B", 6.0)]


def test_companion_namespace_reserved(eng):
    """A user alias in the companions' __mv_ namespace is REFUSED at
    create (r13 pass 3 hardened the original full-lane downgrade: the
    declared-schema strip would silently drop the column)."""
    _seed(eng, [(1, "A", 2.0)])
    with pytest.raises(ValueError, match="__mv_"):
        eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
                "SELECT grp, COUNT(*) AS __mv_sum__x FROM ns1.src "
                "GROUP BY grp")


# --- r13: multi-source UNION ALL incremental lane (VERDICT r12 #4) -------------


def _seed_two(eng):
    _seed(eng, [(1, "A", 10.0), (2, "B", 5.0)], tbl="a")
    eng.write_table(eng.spark.createDataFrame(
        [(1, "A", 3.0), (2, "A", 4.0)], "id LONG, grp STRING, w DOUBLE"),
        "ns1.b")


UNION_Q = ("SELECT grp, COUNT(*) AS n, SUM(v) AS sv, AVG(v) AS av FROM "
           "(SELECT grp, v FROM ns1.a UNION ALL "
           "SELECT grp, w AS v FROM ns1.b WHERE w > 3) u GROUP BY grp")


def test_union_mv_incremental_per_source_deltas(eng):
    """The channel-report shape: an aggregation over a UNION ALL of
    projection/filter branches refreshes O(delta) PER SOURCE — appends
    to either (or both) sources take the incremental lane, branch
    WHEREs apply to the delta, and AVG merges through its companions."""
    _seed_two(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {UNION_Q}")
    assert _mv_rows(eng) == [("A", 2, 14.0, 7.0), ("B", 1, 5.0, 5.0)]
    eng.sql("INSERT INTO ns1.a VALUES (3, 'B', 7.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    eng.sql("INSERT INTO ns1.b VALUES (9, 'B', 100.0), (10, 'B', 1.0)")
    eng.sql("INSERT INTO ns1.a VALUES (4, 'A', 2.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 3)
    assert _mv_rows(eng) == [
        ("A", 3, 16.0, 16.0 / 3), ("B", 3, 112.0, 112.0 / 3)]
    # unchanged afterwards → noop, commits nothing
    ver = eng.catalog.history()[0]["version"]
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "noop"
    assert eng.catalog.history()[0]["version"] == ver


def test_union_mv_single_source_unchanged_contributes_nothing(eng):
    """Appending to ONE source consumes only that source's change feed;
    the other branch is absent from the delta union (sound because
    every branch emits the same output names)."""
    _seed_two(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {UNION_Q}")
    eng.sql("INSERT INTO ns1.b VALUES (7, 'B', 6.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    assert _mv_rows(eng) == [("A", 2, 14.0, 7.0), ("B", 2, 11.0, 5.5)]


def test_union_mv_same_source_in_two_branches(eng):
    """One source feeding TWO branches (the b151 oracle shape): its
    delta flows through both branches' projections."""
    _seed(eng, [(1, "A", 10.0), (2, "B", 5.0)], tbl="a")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, SUM(v) AS sv FROM "
            "(SELECT grp, v FROM ns1.a UNION ALL "
            "SELECT grp, v + 100 AS v FROM ns1.a WHERE grp = 'A') u "
            "GROUP BY grp")
    eng.sql("INSERT INTO ns1.a VALUES (3, 'A', 1.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    assert _mv_rows(eng) == [("A", 222.0), ("B", 5.0)]


@pytest.mark.slow
def test_union_mv_retraction_in_one_source_subtracts(eng):
    """r14: UNION_Q is COUNT/SUM/AVG-only, so a DELETE in one source
    rides the SIGNED delta through that source's branches and
    SUBTRACTS — the incremental lane, not full (deletes forced full
    only until VERDICT r13 #2)."""
    _seed_two(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {UNION_Q}")
    eng.sql("DELETE FROM ns1.a WHERE id = 1")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    # a keeps (B,5); b contributes only (A,4) past the w>3 filter
    assert _mv_rows(eng) == [("A", 1, 4.0, 4.0), ("B", 1, 5.0, 5.0)]
    assert eng.spark.sparkContext._jsc.sc() \
        .getPersistentRDDs().size() == 0


@pytest.mark.slow
def test_union_mv_grammar_refusals_downgrade_to_full(eng):
    """Shapes the union plan must NOT claim: aggregating branches, bare
    UNION (dedups — not append-safe), mismatched branch output names,
    nested subqueries, joins. Each still materializes correctly and
    refreshes on the FULL lane."""
    _seed_two(eng)
    cases = [
        # aggregating branch
        "SELECT grp, SUM(v) AS sv FROM (SELECT grp, SUM(v) AS v "
        "FROM ns1.a GROUP BY grp UNION ALL SELECT grp, w AS v "
        "FROM ns1.b) u GROUP BY grp",
        # bare UNION
        "SELECT grp, COUNT(*) AS n FROM (SELECT grp, v FROM ns1.a "
        "UNION SELECT grp, w AS v FROM ns1.b) u GROUP BY grp",
        # mismatched branch output names
        "SELECT grp, COUNT(*) AS n FROM (SELECT grp, v FROM ns1.a "
        "UNION ALL SELECT grp, w FROM ns1.b) u GROUP BY grp",
        # join inside the subquery
        "SELECT x.grp, COUNT(*) AS n FROM (SELECT a1.grp AS grp "
        "FROM ns1.a a1 JOIN ns1.b b1 ON a1.id = b1.id "
        "UNION ALL SELECT grp FROM ns1.b) x GROUP BY x.grp",
    ]
    for i, q in enumerate(cases):
        try:
            eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvu{i} AS {q}")
        except Exception:
            continue     # some shapes may be refused outright — fine
        eng.sql(f"INSERT INTO ns1.a VALUES ({50 + i}, 'A', 1.0)")
        got = eng.sql(f"REFRESH MATERIALIZED VIEW ns1.mvu{i}") \
            .collect()[0].mode
        assert got == "full", (q, got)


@pytest.mark.slow
def test_union_mv_literal_containing_keywords_stays_sound(eng):
    """Branch/outer literals containing ' GROUP BY ', ' UNION ALL ' or
    parens must not confuse the position-preserving code view — the
    plan still parses and the refresh merges correctly."""
    _seed_two(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM "
            "(SELECT grp, v FROM ns1.a WHERE grp <> ' UNION ALL (x' "
            "UNION ALL SELECT grp, w AS v FROM ns1.b "
            "WHERE grp <> ' GROUP BY (' ) u "
            "WHERE grp <> 'zz GROUP BY q' GROUP BY grp")
    eng.sql("INSERT INTO ns1.a VALUES (5, 'C', 1.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert _mv_rows(eng) == [("A", 3,), ("B", 1,), ("C", 1,)]


def test_comments_strip_literal_aware_before_normalize(eng):
    """r13 review (blind-spot #7 class): _normalize collapses newlines,
    so a surviving `--` comment would swallow every clause after it on
    the re-assembled line (statement-eating), and in the union plan a
    comment containing ' UNION ALL SELECT ... ' would parse as a
    PHANTOM branch. Comments now strip at the SQL entry in the SAME
    one-pass grammar as _scrub_literals — literal-preserving, so a
    '--' INSIDE a string literal is content, not a comment. All three
    MVs parse to their comment-free queries and refresh incrementally
    with correct values (API-level raw text normalizes through the
    same helper, so the delta re-emission is comment-free there too)."""
    _seed_two(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv1 AS "
            "SELECT grp, COUNT(*) AS n -- per group\n"
            "FROM ns1.a WHERE v > 0 GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT grp, SUM(v) AS sv FROM "
            "(SELECT grp, v FROM ns1.a -- UNION ALL SELECT grp, v FROM ns1.b\n"
            " UNION ALL SELECT grp, w AS v FROM ns1.b) u GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv3 AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.a "
            "WHERE grp <> '--not a comment' GROUP BY grp")
    eng.sql("INSERT INTO ns1.a VALUES (40, 'A', 1.0)")
    for mv in ("mv1", "mv2", "mv3"):
        assert eng.sql(f"REFRESH MATERIALIZED VIEW ns1.{mv}") \
            .collect()[0].mode == "incremental", mv
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mv1 ORDER BY grp").collect()] == \
        [("A", 2), ("B", 1)]
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mv2 ORDER BY grp").collect()] == \
        [("A", 18.0), ("B", 5.0)]
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mv3 ORDER BY grp").collect()] == \
        [("A", 2), ("B", 1)]


def test_comment_in_api_level_query_text_stays_sound(eng):
    """Direct create_materialized_view calls store RAW sql_text (with
    the comment); the plan normalizes through the same comment-stripping
    helper, so the incremental lane's delta re-emission is comment-free
    and the merged values match a from-scratch recompute."""
    _seed(eng, [(1, "A", 1.0)])
    eng.create_materialized_view(
        "ns1.mvapi",
        "SELECT grp, COUNT(*) AS n -- note\nFROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mvapi") \
        .collect()[0].mode == "incremental"
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mvapi ORDER BY grp").collect()] == [("A", 2)]


def test_spec_and_constraint_ddl_refused_on_mv(eng):
    """r13 review pass 2: ADD PARTITION FIELD on an MV injects a
    synthesized generated column the next refresh cannot produce;
    ADD CONSTRAINT would fire inside the refresh rewrite — both refuse
    like the column DDL."""
    _seed(eng, [(1, "A", 10.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    for stmt in ("ALTER TABLE ns1.mv ADD PARTITION FIELD grp",
                 "ALTER TABLE ns1.mv ADD CONSTRAINT pos CHECK (n > 0)"):
        with pytest.raises(ValueError, match="MATERIALIZED VIEW"):
            eng.sql(stmt)
    # refresh still healthy afterwards
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 1.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"


def test_duplicate_group_by_keys_downgrade_to_full(eng):
    """r13 review pass 2: GROUP BY k, k is valid SQL but would mint two
    merge output columns named k — refuse to the full lane instead of
    an AMBIGUOUS_REFERENCE at the first refresh."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp, grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'B', 2.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mv ORDER BY grp").collect()] == \
        [("A", 1), ("B", 1)]


def test_nested_bracketed_comments_strip_whole(eng):
    """r13 review pass 2 (reproduced): Spark bracketed comments NEST
    (SPARK-28880) — `/* a /* b */ c */` must strip WHOLE, not end at
    the first `*/` and leave ` c */` in the executed text."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    got = [tuple(r) for r in eng.sql(
        "SELECT grp /* outer /* inner */ tail */, COUNT(*) AS n "
        "FROM ns1.src GROUP BY grp ORDER BY grp").collect()]
    assert got == [("A", 1), ("B", 1)]


# --- r13 review pass 3 --------------------------------------------------------


def test_compound_aggregate_expressions_downgrade_to_full(eng):
    """Pass 3 (reproduced): 'MIN(v) + MAX(v) AS m' matched the greedy
    aggregate regex as kind=MIN with inner 'v) + MAX(v' — the merge
    would combine a compound expression with single-aggregate math
    (least() of compound values, silently wrong). Paren balance on the
    inner (code view) refuses it to the full lane; a genuine single
    aggregate whose LITERAL contains a paren stays incremental."""
    _seed(eng, [(1, "A", 0.0), (2, "A", 10.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, MIN(v) + MAX(v) AS m FROM ns1.src GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT grp, COUNT(CASE WHEN grp = ')' THEN 1 END) AS n "
            "FROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', -5.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    assert _mv_rows(eng) == [("A", 5.0)]          # min(-5)+max(10)
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2") \
        .collect()[0].mode == "incremental"


def test_time_dependent_policy_expression_forces_full(eng):
    """Pass 3: a row filter whose TEXT is unchanged but whose value is
    time-dependent (current_date()) invalidates stored rows with no
    retraction events — the probe screens policy expressions with the
    query whitelist and forces the full lane; a deterministic policy
    stays incremental."""
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("ALTER TABLE ns1.src SET ROW FILTER "
            "(v >= 0 AND current_date() >= DATE '2000-01-01')")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'A', 2.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    # deterministic policy: one full for the sig change, then back to
    # the incremental lane
    eng.sql("ALTER TABLE ns1.src SET ROW FILTER (v >= 0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    eng.sql("INSERT INTO ns1.src VALUES (3, 'B', 3.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    assert _mv_rows(eng) == [("A", 2), ("B", 1)]


def test_concurrent_policy_commit_mid_refresh_downgrades(eng, spark,
                                                         monkeypatch):
    """Pass 3: the change feed is governed at the LATEST committed
    policies, not the refresh's pinned version — a policy commit
    landing between the probe and the feed must not merge new-policy
    delta rows into old-policy stored rows. The post-materialization
    seal re-describes the sources and downgrades to the full lane,
    whose recompute is internally consistent under the new policy."""
    from olympia_spark.engine import Engine
    _seed(eng, [(1, "A", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "GROUP BY grp")
    eng.sql("INSERT INTO ns1.src VALUES (2, 'B', 4.0)")
    other = Engine(spark, eng.catalog.storage.root)
    cls = type(eng)
    orig = cls.table_changes
    fired = {}

    def hooked(self, *a, **k):
        if not fired:
            fired["x"] = True
            other.sql("ALTER TABLE ns1.src SET ROW FILTER (v < 4)")
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "table_changes", hooked)
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    # the full lane recomputes AT THE PINNED VERSION (old policy), so
    # this refresh is internally consistent-at-cur: B present. The
    # unsealed incremental would instead have consumed a delta governed
    # by the NEW filter (B's v=4.0 hidden) merged into old-policy
    # stored rows — a state no single version produces.
    assert _mv_rows(eng) == [("A", 1, 1.0), ("B", 1, 4.0)]
    # the NEXT refresh sees the policy signature change and recomputes
    # under the new filter
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"
    assert _mv_rows(eng) == [("A", 1, 1.0)]


def test_mv_over_metadata_virtual_table_commits(eng):
    """Pass 3: the $files lane's table_files() minted a fresh auto-txn
    mid-statement, so CREATE MATERIALIZED VIEW over ns.t$files staged
    into a dropped transaction and 'succeeded' WITHOUT existing.
    table_files/table_partitions now read through a read-only snapshot;
    the create commits and the MV is queryable."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvf AS "
            "SELECT CAST(SUM(num_rows) AS BIGINT) AS n_rows "
            "FROM ns1.src$files")
    assert [tuple(r) for r in
            eng.sql("SELECT * FROM ns1.mvf").collect()] == [(2,)]
    eng.sql("INSERT INTO ns1.src VALUES (3, 'C', 3.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mvf") \
        .collect()[0].mode == "full"
    assert [tuple(r) for r in
            eng.sql("SELECT * FROM ns1.mvf").collect()] == [(3,)]


def test_reserved_mv_prefix_output_refused_at_create(eng):
    """Pass 3: on a NON-incrementalizable query the plan parsers'
    __mv_ namespace check never runs, and the declared-schema strip
    would silently DROP a user column named __mv_* — create refuses."""
    _seed(eng, [(1, "A", 1.0)])
    eng.write_table(eng.spark.createDataFrame(
        [(1, 2.0)], "id LONG, w DOUBLE"), "ns1.u")
    with pytest.raises(ValueError, match="__mv_"):
        eng.sql("CREATE MATERIALIZED VIEW ns1.mvx AS "
                "SELECT a.grp AS __mv_tag, COUNT(*) AS n "
                "FROM ns1.src a JOIN ns1.u b ON a.id = b.id "
                "GROUP BY a.grp")


def test_mv_semantic_sig_covers_format_schema_reader_options():
    """Pass 3: the per-source signature must also see format flips,
    schema drift and external reader options — a re-registered CSV
    source over the SAME paths with header=false yields different rows
    with an identical file list."""
    from olympia_spark.catalog.defs import TableDef
    defs = [
        TableDef(schema_json="s1"),
        TableDef(schema_json="s2"),
        TableDef(schema_json="s1", format="CSV"),
        TableDef(schema_json="s1", format="CSV",
                 properties={"read.option.header": "false"}),
    ]
    sigs = [Engine._mv_semantic_sig(t) for t in defs]
    assert len({repr(s) for s in sigs}) == 4


def test_union_branch_type_drift_aligns_to_stored_schema(eng):
    """r13 review pass 4: a subset-of-branches delta skips the full
    union's type coercion, so merge-join comparisons between the
    stored keys and a lone branch's ORIGINAL type ride on Spark's
    comparison coercion instead of the union coercion. In this Spark
    the two agree (probed: string∪int → int, string∪date → date,
    string∪bool → boolean — always the non-string side, same as
    comparison promotion), so no double-match is constructible today;
    the merge still casts the delta to the STORED schema's types
    first, making the invariant hold by construction rather than by
    coercion-table coincidence. Pin: a mixed-type union MV appending
    through its STRING branch merges exactly like a from-scratch
    recompute (string '01' lands in int group 1)."""
    eng.write_table(eng.spark.createDataFrame(
        [("01",), ("2",)], "k STRING"), "ns1.t1")
    eng.write_table(eng.spark.createDataFrame(
        [(1,)], "k INT"), "ns1.t2")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT k, COUNT(*) AS n FROM "
            "(SELECT k FROM ns1.t1 UNION ALL SELECT k FROM ns1.t2) u "
            "GROUP BY k")
    assert [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mv ORDER BY k").collect()] == [(1, 2), (2, 1)]
    eng.sql("INSERT INTO ns1.t1 VALUES ('01'), ('3')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    full = [tuple(x) for x in eng.spark.sql(
        "SELECT k, COUNT(*) AS n FROM (SELECT CAST(k AS INT) AS k "
        "FROM VALUES ('01'),('2'),('01'),('3') AS t1(k) "
        "UNION ALL SELECT k FROM VALUES (1) AS t2(k)) u "
        "GROUP BY k ORDER BY k").collect()]
    got = [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mv ORDER BY k").collect()]
    assert got == full == [(1, 3), (2, 1), (3, 1)]


# --- r14: retraction lane (VERDICT r13 #2) -------------------------------------


RAGG = ("SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv, "
        "AVG(v) AS av FROM ns1.src GROUP BY grp")


def _recompute_ragg(eng):
    return [tuple(x) for x in eng.spark.sql(
        "SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv, "
        "AVG(v) AS av FROM {df} GROUP BY grp ORDER BY grp NULLS FIRST",
        df=eng.read_table("ns1.src")).collect()]


def test_deletes_subtract_sum_count_avg(eng):
    """A DELETE on a SUM/COUNT/AVG-only MV refreshes INCREMENTALLY:
    delete events ride the signed delta (−1) and subtract exactly —
    never a full recompute (VERDICT r13 #2). Cross-checked against a
    from-scratch aggregate."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0),
                (4, "B", None), (5, "C", 7.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {RAGG}")
    eng.sql("DELETE FROM ns1.src WHERE id IN (1, 4)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    assert _mv_rows(eng) == _recompute_ragg(eng) == [
        ("A", 1, 1, 20.0, 20.0), ("B", 1, 1, 5.0, 5.0),
        ("C", 1, 1, 7.0, 7.0)]
    # second wave: mixed insert+delete in ONE window
    eng.sql("INSERT INTO ns1.src VALUES (6, 'A', 2.0), (7, 'D', 1.0)")
    eng.sql("DELETE FROM ns1.src WHERE id = 5")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert _mv_rows(eng) == _recompute_ragg(eng)


def test_delete_last_nonnull_input_makes_sum_null_not_zero(eng):
    """The SUM companion-count distinction: deleting the only non-NULL
    input of a group that keeps a NULL row must yield SUM NULL —
    plain subtraction would say 0.0 (the silent-wrong case the
    __mv_cnt__ companion exists for)."""
    _seed(eng, [(1, "A", 10.0), (2, "A", None)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, SUM(v) AS sv, COUNT(*) AS n "
            "FROM ns1.src GROUP BY grp")
    eng.sql("DELETE FROM ns1.src WHERE id = 1")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", None, 1)]


def test_group_vanishes_when_all_rows_deleted(eng):
    """Deleting EVERY contributing row of a group removes its stored
    row — the hidden per-group row count reaching zero, not a 0-sum
    zombie row."""
    _seed(eng, [(1, "A", 10.0), (2, "A", -10.0), (3, "B", 5.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, SUM(v) AS sv, COUNT(*) AS n "
            "FROM ns1.src GROUP BY grp")
    eng.sql("DELETE FROM ns1.src WHERE grp = 'A'")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("B", 5.0, 1)]
    # sum was 0 for the vanished group — subtraction alone could not
    # distinguish it from a real 0-sum group; the row count does


def test_global_aggregate_survives_total_deletion(eng):
    """A no-GROUP-BY MV keeps its single row when every source row is
    deleted: COUNT 0 / SUM NULL / AVG NULL — exactly the
    recompute-on-empty result."""
    _seed(eng, [(1, "A", 4.0), (2, "B", 6.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT COUNT(*) AS n, SUM(v) AS sv, AVG(v) AS av "
            "FROM ns1.src")
    eng.sql("DELETE FROM ns1.src WHERE id IN (1, 2)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [(0, None, None)]
    # and rows can come back afterwards
    eng.sql("INSERT INTO ns1.src VALUES (3, 'C', 9.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [(1, 9.0, 9.0)]


def test_update_moves_rows_across_groups_incrementally(eng):
    """An UPDATE surfaces in the change feed as its delete+insert pair
    (COW multiset diff) — the signed delta subtracts from the old
    group and adds to the new one in ONE incremental refresh."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv "
            "FROM ns1.src GROUP BY grp")
    eng.sql("UPDATE ns1.src SET grp = 'B', v = 11.0 WHERE id = 1")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)  # del + ins
    assert [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mv ORDER BY grp").collect()] == [
        ("A", 1, 20.0), ("B", 2, 16.0)]


def test_minmax_delete_lanes_by_shape(eng):
    """MIN/MAX under deletes, by plan shape (r15): a GROUPED
    single-source plan takes the group-scoped recompute — untouched
    groups keep their stored rows (asserted by touching only A); a
    GLOBAL MIN/MAX plan (no keys to scope by) still goes full; so does
    a JOIN-lane MIN/MAX plan."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 7.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, MAX(v) AS mx, COUNT(*) AS n "
            "FROM ns1.src GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvglob AS "
            "SELECT MAX(v) AS mx, COUNT(*) AS n FROM ns1.src")
    eng.sql("DELETE FROM ns1.src WHERE id = 2")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv ORDER BY grp").collect()] \
        == [("A", 10.0, 1), ("B", 7.0, 1)]
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvglob").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mvglob").collect()] == [(10.0, 2)]


def test_minmax_scoped_recompute_is_key_pruned(eng, spark):
    """The scoped recompute's source scan carries the key-membership
    predicate down to the parquet scan (VERDICT r14 #4 'pytest pinning
    the scan is key-pruned'): the single-key form renders as an IN
    list, visible in PushedFilters."""
    from olympia_spark.engine import Engine
    pred = Engine._mv_key_predicate(
        ["grp"], [{"grp": "A"}, {"grp": "B"}], ["grp"])
    assert pred == "(grp) IN ('A', 'B')"
    _seed(eng, [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 5.0)])
    plan = eng.read_table("ns1.src").filter(F.expr(pred)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(grp" in plan, plan
    # NULL keys get an IS NULL arm (IN alone would miss them); tuples
    # with unliteralizable values refuse
    pred = Engine._mv_key_predicate(
        ["grp"], [{"grp": "A"}, {"grp": None}], ["grp"])
    assert pred == "(grp) IN ('A') OR (grp) IS NULL"
    assert Engine._mv_key_predicate(
        ["grp"], [{"grp": object()}], ["grp"]) is None


def test_minmax_scoped_mixed_window_and_vanish(eng):
    """One window mixing deletes, inserts into a touched group, and
    inserts into an UNtouched group — the scoped recompute covers every
    touched group (including insert-only ones) and a fully-deleted
    group vanishes."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 7.0),
                (4, "C", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n "
            "FROM ns1.src GROUP BY grp")
    eng.sql("DELETE FROM ns1.src WHERE id IN (1, 3)")  # un-extreme A; B→empty
    eng.sql("INSERT INTO ns1.src VALUES (5, 'A', 15.0), (6, 'D', 2.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    exp = [tuple(x) for x in
           eng.read_table("ns1.src").groupBy("grp")
           .agg(F.min("v").alias("mn"), F.max("v").alias("mx"),
                F.count("*").alias("n")).orderBy("grp").collect()]
    assert [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mv ORDER BY grp").collect()] == exp
    assert ("B",) not in {(t[0],) for t in exp}


def test_minmax_scoped_soak_matches_recompute(eng):
    """Seeded random insert/delete soak over a MIN/MAX+AVG plan — every
    refresh stays non-full and equals recompute."""
    import random
    rnd = random.Random(5)
    _seed(eng, [(i, rnd.choice("ABC"), float(rnd.randint(-20, 20)))
                for i in range(12)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    nid = 100
    for step in range(6):
        if step % 2:
            eng.sql(f"DELETE FROM ns1.src WHERE id % 5 = {step % 5}")
        else:
            vals = ", ".join(
                f"({nid + k}, '{rnd.choice('ABC')}', "
                f"{float(rnd.randint(-20, 20))})"
                for k in range(rnd.randint(1, 3)))
            nid += 3
            eng.sql(f"INSERT INTO ns1.src VALUES {vals}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "incremental", (step, r)
        full = [tuple(x) for x in
                eng.read_table("ns1.src").groupBy("grp")
                .agg(F.count("*").alias("n"), F.sum("v").alias("sv"),
                     F.min("v").alias("mn"), F.max("v").alias("mx"))
                .orderBy(F.col("grp").asc_nulls_first()).collect()]
        assert _mv_rows(eng) == full, step


def test_retraction_respects_where_clause(eng):
    """Delete events evaluate the MV's WHERE exactly like inserts did:
    deleting a row the WHERE never admitted must not subtract."""
    _seed(eng, [(1, "A", 10.0), (2, "A", -3.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "WHERE v > 0 GROUP BY grp")
    eng.sql("DELETE FROM ns1.src WHERE id = 2")   # filtered-out row
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv").collect()] == [("A", 1, 10.0)]


# --- r14: broadcast-dim JOIN lane (VERDICT r13 #1) ------------------------------


JOIN_Q = ("SELECT d.band AS band, COUNT(*) AS n, SUM(f.v) AS sv, "
          "AVG(f.v) AS av FROM ns1.src f JOIN ns1.dim d "
          "ON f.grp = d.grp GROUP BY d.band")


def _seed_join(eng):
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0),
                (4, "C", 2.0)])
    eng.write_table(eng.spark.createDataFrame(
        [("A", "hi"), ("B", "lo"), ("C", "lo")],
        "grp STRING, band STRING"), "ns1.dim")


def _recompute_join(eng):
    eng.read_table("ns1.src").createOrReplaceTempView("rjf")
    eng.read_table("ns1.dim").createOrReplaceTempView("rjd")
    return [tuple(x) for x in eng.spark.sql(
        "SELECT d.band AS band, COUNT(*) AS n, SUM(f.v) AS sv, "
        "AVG(f.v) AS av FROM rjf f JOIN rjd d ON f.grp = d.grp "
        "GROUP BY d.band ORDER BY band").collect()]


def _join_mv_rows(eng):
    return [tuple(r) for r in eng.sql(
        "SELECT * FROM ns1.mvj ORDER BY band NULLS FIRST").collect()]


def test_join_mv_fact_append_is_incremental(eng, spark):
    """The dashboard shape — fact JOIN small dim GROUP BY dim.attr —
    refreshes O(fact delta) under an append-only fact and an unchanged
    dim: the delta joins the dim at refresh time and merges with the
    existing machinery (VERDICT r13 #1)."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    assert _join_mv_rows(eng) == [("hi", 2, 30.0, 15.0),
                                  ("lo", 2, 7.0, 3.5)]
    eng.sql("INSERT INTO ns1.src VALUES (5, 'B', 8.0), (6, 'A', 4.0), "
            "(7, 'ZZZ', 99.0)")  # ZZZ has no dim row — inner join drops
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 3)
    assert _join_mv_rows(eng) == _recompute_join(eng) == [
        ("hi", 3, 34.0, 34.0 / 3), ("lo", 3, 15.0, 5.0)]
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


def test_join_mv_dim_append_is_incremental(eng):
    """A dim-side append is ALSO exact as the delta side of an inner
    join: (F ⋈ (D ∪ ΔD)) adds F ⋈ ΔD — the unchanged fact reads whole
    (correct, though O(fact); dim appends are the rare direction)."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    # a NEW dim row matches existing fact rows it never matched before
    eng.sql("INSERT INTO ns1.dim VALUES ('A', 'xtra')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    assert _join_mv_rows(eng) == _recompute_join(eng) == [
        ("hi", 2, 30.0, 15.0), ("lo", 2, 7.0, 3.5),
        ("xtra", 2, 30.0, 15.0)]


def test_join_mv_both_sides_changed_is_incremental(eng):
    """Both INNER join sides moved in one window: the telescoping
    expansion (VERDICT r14 #3) applies per-slot deltas sequentially —
    ΔF joins the PRE dim (watermark version), then ΔD joins the POST
    fact, folding the ΔF ⋈ ΔD cross term — so the new fact row that
    matches ONLY the new dim row still lands exactly once."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    eng.sql("INSERT INTO ns1.src VALUES (5, 'D', 1.0)")
    eng.sql("INSERT INTO ns1.dim VALUES ('D', 'lo')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    assert _join_mv_rows(eng) == _recompute_join(eng) == [
        ("hi", 2, 30.0, 15.0), ("lo", 3, 8.0, 8.0 / 3)]


def test_left_join_mv_both_sides_changed_forces_full(eng):
    """LEFT keeps the one-sided rule even when the preserved side also
    moved: a dim-side append RETRACTS previously NULL-padded rows,
    which no additive delta can express."""
    _seed_join(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvj AS "
            "SELECT d.band AS band, COUNT(*) AS n, SUM(f.v) AS sv, "
            "AVG(f.v) AS av FROM ns1.src f LEFT JOIN ns1.dim d "
            "ON f.grp = d.grp GROUP BY d.band")
    eng.sql("INSERT INTO ns1.src VALUES (5, 'D', 1.0)")
    eng.sql("INSERT INTO ns1.dim VALUES ('D', 'lo')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
    assert r.mode == "full"
    eng.read_table("ns1.src").createOrReplaceTempView("rjf")
    eng.read_table("ns1.dim").createOrReplaceTempView("rjd")
    exp = [tuple(x) for x in eng.spark.sql(
        "SELECT d.band AS band, COUNT(*) AS n, SUM(f.v) AS sv, "
        "AVG(f.v) AS av FROM rjf f LEFT JOIN rjd d ON f.grp = d.grp "
        "GROUP BY d.band ORDER BY band NULLS FIRST").collect()]
    assert _join_mv_rows(eng) == exp


def test_three_way_join_mv_two_slots_changed(eng):
    """The telescoping expansion over a 3-table chain with TWO changed
    slots (fact and the far dim) — per-slot terms at the right
    versions, merged sequentially, equals recompute; a simultaneous
    fact DELETE rides its slot's signed term."""
    _seed_join(eng)
    eng.write_table(eng.spark.createDataFrame(
        [("hi", "prio"), ("lo", "bulk")],
        "band STRING, tier STRING"), "ns1.dim2")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvs AS "
            "SELECT e.tier AS tier, COUNT(*) AS n, SUM(f.v) AS sv "
            "FROM ns1.src f JOIN ns1.dim d ON f.grp = d.grp "
            "JOIN ns1.dim2 e ON d.band = e.band GROUP BY e.tier")
    eng.sql("INSERT INTO ns1.src VALUES (6, 'B', 9.0)")
    eng.sql("DELETE FROM ns1.src WHERE id = 1")
    eng.sql("INSERT INTO ns1.dim2 VALUES ('hi', 'gold')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvs").collect()[0]
    assert r.mode == "incremental"
    got = [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mvs ORDER BY tier").collect()]
    eng.read_table("ns1.src").createOrReplaceTempView("rjf")
    eng.read_table("ns1.dim").createOrReplaceTempView("rjd")
    eng.read_table("ns1.dim2").createOrReplaceTempView("rje")
    exp = [tuple(x) for x in eng.spark.sql(
        "SELECT e.tier AS tier, COUNT(*) AS n, SUM(f.v) AS sv "
        "FROM rjf f JOIN rjd d ON f.grp = d.grp "
        "JOIN rje e ON d.band = e.band GROUP BY e.tier "
        "ORDER BY tier").collect()]
    assert got == exp


def test_join_mv_multi_slot_soak_matches_recompute(eng):
    """Seeded random multi-slot append/delete sequence over the
    two-table INNER join MV — every refresh must stay incremental and
    equal recompute (the property pin of VERDICT r14 #3)."""
    import random
    rnd = random.Random(42)
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    nid, bands = 100, ["hi", "lo", "mid"]
    grps = ["A", "B", "C"]
    for step in range(6):
        # mutate a random non-empty subset of slots in ONE window
        which = rnd.sample(["f", "d"], rnd.randint(1, 2))
        if "f" in which:
            if step == 4:
                eng.sql("DELETE FROM ns1.src WHERE id % 2 = 0")
            else:
                g = rnd.choice(grps + ["Z"])   # Z: no dim match yet
                eng.sql(f"INSERT INTO ns1.src VALUES "
                        f"({nid}, '{g}', {float(rnd.randint(1, 9))})")
                nid += 1
        if "d" in which:
            g = rnd.choice(["Z", "Y", "X"])
            if g not in grps:
                grps.append(g)
                eng.sql(f"INSERT INTO ns1.dim VALUES "
                        f"('{g}', '{rnd.choice(bands)}')")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
        assert r.mode == "incremental", (step, which, r)
        assert _join_mv_rows(eng) == _recompute_join(eng), (step, which)


def test_join_mv_fact_deletes_subtract(eng):
    """Retraction × join: fact deletes ride the signed delta through
    the join and subtract (the plan is SUM/COUNT/AVG-only)."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    eng.sql("DELETE FROM ns1.src WHERE id IN (3, 4)")  # all of 'lo'
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
    assert r.mode == "incremental"
    assert _join_mv_rows(eng) == _recompute_join(eng) == [
        ("hi", 2, 30.0, 15.0)]        # 'lo' group vanished


def test_join_mv_dim_semantic_drift_forces_full(eng):
    """A dim change that is NOT a data delta — a row-filter policy
    flip here — drifts the per-source signature and forces the full
    lane even though no dim file moved (blind-spot #5: metadata-only
    semantic changes are invisible to file-list probes)."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    eng.sql("INSERT INTO ns1.src VALUES (5, 'A', 6.0)")
    eng.sql("ALTER TABLE ns1.dim SET ROW FILTER (band = 'lo')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
    assert r.mode == "full"
    # the recompute sees only the filter-visible dim rows: 'hi' is gone
    assert _join_mv_rows(eng) == [("lo", 2, 7.0, 3.5)]


def test_join_mv_where_on_and_global_aggregate(eng):
    """WHERE may reference both sides; a no-GROUP-BY join MV merges on
    the constant key; MIN/MAX work while deltas stay append-only."""
    _seed_join(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvj2 AS "
            "SELECT COUNT(*) AS n, SUM(f.v) AS sv, MAX(f.v) AS mx "
            "FROM ns1.src f INNER JOIN ns1.dim d ON f.grp = d.grp "
            "WHERE d.band = 'lo' AND f.v > 1")
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mvj2").collect()] == [(2, 7.0, 5.0)]
    eng.sql("INSERT INTO ns1.src VALUES (5, 'C', 50.0), (6, 'A', 70.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj2").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mvj2").collect()] == [(3, 57.0, 50.0)]


def test_join_mv_grammar_refusals_downgrade_to_full(eng):
    """Shapes the join plan must NOT claim — each still materializes
    correctly and refreshes on the FULL lane: outer/semi forms, a
    second join, missing aliases, table-name qualifiers over the alias
    contract, nondeterministic ON, USING, unaliased expressions."""
    _seed_join(eng)
    eng.write_table(eng.spark.createDataFrame(
        [("hi", 1)], "band STRING, w INT"), "ns1.dim2")
    cases = [
        # no aliases: qualified refs could not resolve on temp views,
        # so the lane demands explicit simple aliases (all-bare refs
        # keep the statement itself valid here)
        "SELECT band, COUNT(*) AS n FROM ns1.src "
        "JOIN ns1.dim2 ON id = w GROUP BY band",
        # USING form
        "SELECT grp, COUNT(*) AS n FROM ns1.src f "
        "JOIN ns1.dim d USING (grp) GROUP BY grp",
        # nondeterministic WHERE (rand() in ON is refused by Spark
        # itself at create time — INVALID_NON_DETERMINISTIC_EXPRESSIONS)
        "SELECT d.band AS band, COUNT(*) AS n FROM ns1.src f "
        "JOIN ns1.dim d ON f.grp = d.grp WHERE rand() < 2 "
        "GROUP BY d.band",
        # expression key whose alias SHADOWS a real column: Spark
        # resolves the bare ``GROUP BY band`` token as the COLUMN
        # d.band (column wins over alias), so groups are per RAW value
        # while the stored key holds upper() — several stored rows per
        # key value, a multi-matching merge; the r15 expression-key
        # lane must refuse exactly this shadowed-alias form. A
        # table-name qualifier over a bound alias (SUM(src.v) with
        # alias f) needs no lane guard: Spark itself refuses it at
        # create time.
        "SELECT upper(d.band) AS band, COUNT(*) AS n FROM ns1.src f "
        "JOIN ns1.dim d ON f.grp = d.grp GROUP BY band",
    ]
    for i, q in enumerate(cases):
        eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvg{i} AS {q}")
        eng.sql(f"INSERT INTO ns1.src VALUES ({i + 10}, 'A', 1.0)")
        got = eng.sql(f"REFRESH MATERIALIZED VIEW ns1.mvg{i}") \
            .collect()[0].mode
        assert got == "full", (q, got)
    # LEFT inside a 3-table chain → full (LEFT is only sound in the
    # two-table form where the preserved side is the delta)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvg9 AS "
            "SELECT d.band AS band, COUNT(*) AS n FROM ns1.src f "
            "JOIN ns1.dim d ON f.grp = d.grp "
            "LEFT JOIN ns1.dim2 e ON d.band = e.band GROUP BY d.band")
    eng.sql("INSERT INTO ns1.src VALUES (30, 'A', 1.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mvg9") \
        .collect()[0].mode == "full"


def test_three_way_join_mv_star_is_incremental(eng):
    """r14: the JOIN lane generalizes to a CHAIN — fact JOIN dim1 JOIN
    dim2 (the dashboard star) refreshes O(fact delta), the delta
    joining BOTH dims read at the pinned version; inner chains are
    multilinear in each input, so a dim1-side append is also
    incremental (joined against full fact and full dim2)."""
    _seed_join(eng)
    eng.write_table(eng.spark.createDataFrame(
        [("hi", "prio"), ("lo", "bulk")],
        "band STRING, tier STRING"), "ns1.dim2")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvs AS "
            "SELECT e.tier AS tier, COUNT(*) AS n, SUM(f.v) AS sv "
            "FROM ns1.src f JOIN ns1.dim d ON f.grp = d.grp "
            "JOIN ns1.dim2 e ON d.band = e.band GROUP BY e.tier")

    def recompute():
        eng.read_table("ns1.src").createOrReplaceTempView("swf")
        eng.read_table("ns1.dim").createOrReplaceTempView("swd")
        eng.read_table("ns1.dim2").createOrReplaceTempView("swe")
        return [tuple(x) for x in eng.spark.sql(
            "SELECT e.tier AS tier, COUNT(*) AS n, SUM(f.v) AS sv "
            "FROM swf f JOIN swd d ON f.grp = d.grp "
            "JOIN swe e ON d.band = e.band GROUP BY e.tier "
            "ORDER BY tier").collect()]

    def mv_rows():
        return [tuple(x) for x in eng.sql(
            "SELECT * FROM ns1.mvs ORDER BY tier").collect()]

    eng.sql("INSERT INTO ns1.src VALUES (30, 'A', 6.0), (31, 'B', 2.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvs").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    assert mv_rows() == recompute()
    # middle-slot (dim1) append: still one changed source → incremental
    eng.sql("INSERT INTO ns1.dim VALUES ('D', 'hi')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvs").collect()[0]
    assert r.mode == "incremental"
    assert mv_rows() == recompute()
    # fact deletes subtract through the whole chain
    eng.sql("DELETE FROM ns1.src WHERE grp = 'B'")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvs").collect()[0]
    assert r.mode == "incremental"
    assert mv_rows() == recompute()
    # two sources changed in ONE window: since r15 the telescoping
    # expansion keeps the INNER chain incremental (VERDICT r14 #3)
    eng.sql("INSERT INTO ns1.src VALUES (40, 'C', 1.0)")
    eng.sql("INSERT INTO ns1.dim2 VALUES ('xx', 'bulk')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvs").collect()[0]
    assert r.mode == "incremental"
    assert mv_rows() == recompute()
    assert eng.spark.sparkContext._jsc.sc().getPersistentRDDs() \
        .size() == 0


def test_retraction_lane_matches_recompute_under_random_ops(eng):
    """Oracle-by-construction (blind-spot 0d applied to the signed
    delta): a seeded random sequence of INSERT/DELETE/UPDATE batches,
    refreshing after each and comparing the MV to a from-scratch
    aggregate — every refresh on this SUM/COUNT/AVG plan must stay
    incremental and exact, including batches that empty groups,
    resurrect them, or mix inserts with deletes."""
    import random
    rng = random.Random(14)
    _seed(eng, [(i, grp, float(v)) for i, (grp, v) in enumerate(
        [("A", 10), ("A", -3), ("B", 5), ("B", 0), ("C", 7)])])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv, "
            "AVG(v) AS av FROM ns1.src WHERE v > -50 GROUP BY grp")
    next_id = 100
    for step in range(6):
        op = rng.choice(["ins", "del", "upd", "mix"])
        if op in ("ins", "mix"):
            vals = ", ".join(
                f"({next_id + j}, '{rng.choice('ABCD')}', "
                f"{rng.choice([rng.randint(-5, 20), 'NULL'])})"
                for j in range(rng.randint(1, 3)))
            next_id += 3
            eng.sql(f"INSERT INTO ns1.src VALUES {vals}")
        if op in ("del", "mix"):
            eng.sql(f"DELETE FROM ns1.src WHERE id % 7 = {rng.randint(0, 6)}")
        if op == "upd":
            eng.sql(f"UPDATE ns1.src SET grp = '{rng.choice('ABCD')}', "
                    f"v = v + 1 WHERE id % 5 = {rng.randint(0, 4)}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        if r.delta_rows == 0 and r.mode == "noop":
            continue                    # a no-op DELETE matched nothing
        assert r.mode == "incremental", (step, op, r)
        got = _mv_rows(eng)
        want = [tuple(x) for x in eng.spark.sql(
            "SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, SUM(v) AS sv, "
            "AVG(v) AS av FROM {df} WHERE v > -50 "
            "GROUP BY grp ORDER BY grp NULLS FIRST",
            df=eng.read_table("ns1.src")).collect()]
        assert got == want, (step, op, got, want)


@pytest.mark.slow
def test_join_lane_matches_recompute_under_alternating_appends(eng):
    """Oracle-by-construction for the join lane: alternating fact and
    dim appends (one side per refresh window), each refresh asserted
    incremental and compared against a from-scratch join aggregate —
    including a dim append that multiplies existing fact rows into a
    new group and a fact append keyed to a dim row added in an
    EARLIER window."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvj AS {JOIN_Q}")
    steps = [
        ("INSERT INTO ns1.src VALUES (10, 'C', 3.0), (11, 'A', 1.0)",),
        ("INSERT INTO ns1.dim VALUES ('D', 'hi')",),
        ("INSERT INTO ns1.src VALUES (12, 'D', 9.0)",),
        ("DELETE FROM ns1.src WHERE id IN (1, 12)",),
        ("INSERT INTO ns1.dim VALUES ('A', 'dup')",),
    ]
    for i, (stmt,) in enumerate(steps):
        eng.sql(stmt)
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvj").collect()[0]
        assert r.mode == "incremental", (i, stmt, r)
        assert _join_mv_rows(eng) == _recompute_join(eng), (i, stmt)


def test_join_mv_keyword_literals_do_not_confuse_parse(eng):
    """Blind-spot #7 applied to the join parser: SQL keywords INSIDE
    string literals (' JOIN ', ' GROUP BY ', ' ON ') must neither
    split clauses nor inflate the join count — the structural scan
    runs on the literal-blanked code view while clause text slices
    from the normalized original. Each query stays on the incremental
    lane and merges correctly."""
    _seed_join(eng)
    cases = [
        # literal ' JOIN ' inside the ON condition
        ("SELECT d.band AS band, COUNT(*) AS n FROM ns1.src f "
         "JOIN ns1.dim d ON f.grp = d.grp AND d.band <> 'x JOIN y' "
         "GROUP BY d.band"),
        # literal ' GROUP BY ' inside the WHERE
        ("SELECT d.band AS band, COUNT(*) AS n FROM ns1.src f "
         "JOIN ns1.dim d ON f.grp = d.grp "
         "WHERE d.band <> 'a GROUP BY b' GROUP BY d.band"),
        # literal ' ON ' + parens inside a WHERE literal
        ("SELECT d.band AS band, SUM(f.v) AS sv FROM ns1.src f "
         "JOIN ns1.dim d ON f.grp = d.grp "
         "WHERE f.grp <> ') ON (' GROUP BY d.band"),
    ]
    for i, q in enumerate(cases):
        eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvk{i} AS {q}")
        eng.sql(f"INSERT INTO ns1.src VALUES ({i + 50}, 'A', 2.0)")
        r = eng.sql(f"REFRESH MATERIALIZED VIEW ns1.mvk{i}").collect()[0]
        assert r.mode == "incremental", (q, r)
        # merged result equals a from-scratch recompute
        eng.read_table("ns1.src").createOrReplaceTempView("kjf")
        eng.read_table("ns1.dim").createOrReplaceTempView("kjd")
        want = [tuple(x) for x in eng.spark.sql(
            q.replace("ns1.src", "kjf").replace("ns1.dim", "kjd")
            + " ORDER BY band").collect()]
        got = [tuple(x) for x in eng.sql(
            f"SELECT * FROM ns1.mvk{i} ORDER BY band").collect()]
        assert got == want, (q, got, want)


def test_implicit_comma_join_takes_full_lane(eng):
    """FROM a, b (implicit join) has no JOIN token — neither the union
    nor the join parser may claim it; the refresh stays on the
    always-correct full lane."""
    _seed_join(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mvi AS "
            "SELECT d.band AS band, COUNT(*) AS n "
            "FROM ns1.src f, ns1.dim d "
            "WHERE f.grp = d.grp GROUP BY d.band")
    eng.sql("INSERT INTO ns1.src VALUES (60, 'A', 2.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvi").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mvi ORDER BY band").collect()] == \
        [("hi", 3), ("lo", 2)]


def test_mv_over_mv_cascades_incrementally(eng):
    """Composability: an MV whose SOURCE is another MV consumes the
    upstream's COW-overwrite change feed incrementally — the upstream
    refresh rewrites all its files, but exceptAll cancellation nets
    the feed down to only the CHANGED groups (delete+insert pairs),
    which the signed delta merges exactly. Refresh cascade:
    src append → refresh mv1 (incremental) → refresh mv2
    (incremental, fed by mv1's net diff)."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv1 AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv "
            "FROM ns1.src GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT COUNT(*) AS n_groups, SUM(sv) AS total "
            "FROM ns1.mv1")
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 7.0), (5, 'C', 1.0)")
    r1 = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv1").collect()[0]
    assert r1.mode == "incremental"
    r2 = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2").collect()[0]
    # mv1's rewrite touched groups B (changed) and C (new); group A's
    # rows cancelled in the feed — the delta is 1 delete (old B) +
    # 2 inserts (new B, new C), NOT the whole 3-row relation
    assert (r2.mode, r2.delta_rows) == ("incremental", 3)
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv2").collect()] == [(3, 43.0)]
    # steady state: nothing changed → both noop
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv1") \
        .collect()[0].mode == "noop"
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv2") \
        .collect()[0].mode == "noop"


def test_join_mv_structural_column_name_takes_full_lane(eng):
    """r14 review pass: a source column literally named 'where' (legal
    unquoted in Spark's non-ANSI parser) sitting unqualified in the ON
    region would mis-split the lazily-scanned clause partition — the
    lane must refuse such sources up front so the refresh takes the
    full lane instead of crashing mid-refresh on re-emitted SQL."""
    _seed(eng, [(1, "A", 1.0), (2, "B", 2.0)])
    eng.write_table(eng.spark.createDataFrame(
        [("A", "hi", 1), ("B", "lo", 1)],
        "grp STRING, band STRING, `where` INT"), "ns1.dimw")
    try:
        eng.sql("CREATE MATERIALIZED VIEW ns1.mvw AS "
                "SELECT d.band AS band, COUNT(*) AS n "
                "FROM ns1.src f JOIN ns1.dimw d "
                "ON f.grp = d.grp AND where = 1 GROUP BY d.band")
    except Exception:
        # Spark itself may refuse the bare keyword — equally safe;
        # fall back to a qualified-but-present structural column,
        # which must STILL refuse the lane (the guard is on the
        # source's column set, not the query text)
        eng.sql("CREATE MATERIALIZED VIEW ns1.mvw AS "
                "SELECT d.band AS band, COUNT(*) AS n "
                "FROM ns1.src f JOIN ns1.dimw d "
                "ON f.grp = d.grp GROUP BY d.band")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 3.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvw").collect()[0]
    assert r.mode == "full"
    assert [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mvw ORDER BY band").collect()] == \
        [("hi", 2), ("lo", 1)]


LEFT_Q = ("SELECT d.band AS band, COUNT(*) AS n, SUM(f.v) AS sv "
          "FROM ns1.src f LEFT JOIN ns1.dim d ON f.grp = d.grp "
          "GROUP BY d.band")


def _recompute_left(eng):
    eng.read_table("ns1.src").createOrReplaceTempView("ljf")
    eng.read_table("ns1.dim").createOrReplaceTempView("ljd")
    return [tuple(x) for x in eng.spark.sql(
        "SELECT d.band AS band, COUNT(*) AS n, SUM(f.v) AS sv "
        "FROM ljf f LEFT JOIN ljd d ON f.grp = d.grp "
        "GROUP BY d.band ORDER BY band NULLS FIRST").collect()]


def test_left_join_mv_fact_append_incremental(eng):
    """r14: LEFT JOIN is fact-preserving, so a fact-side append is
    additive exactly like INNER — including appended rows with NO dim
    match, which land in the NULL-padded group (eqNullSafe merge)."""
    _seed_join(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvl AS {LEFT_Q}")
    eng.sql("INSERT INTO ns1.src VALUES (10, 'A', 4.0), "
            "(11, 'NOMATCH', 9.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvl").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    got = [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mvl ORDER BY band NULLS FIRST").collect()]
    assert got == _recompute_left(eng) == [
        (None, 1, 9.0), ("hi", 3, 34.0), ("lo", 2, 7.0)]
    # fact deletes subtract through the preserved side too
    eng.sql("DELETE FROM ns1.src WHERE id = 11")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvl").collect()[0]
    assert r.mode == "incremental"
    got = [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mvl ORDER BY band NULLS FIRST").collect()]
    assert got == _recompute_left(eng) == [("hi", 3, 34.0),
                                           ("lo", 2, 7.0)]


def test_left_join_mv_dim_append_forces_full(eng):
    """r14: a dim-side append under LEFT JOIN is NOT additive — fact
    rows previously padded with NULLs would need retraction when a new
    dim row starts matching them — so the refresh downgrades to full
    (and the recompute is correct)."""
    _seed_join(eng)
    eng.sql("INSERT INTO ns1.src VALUES (11, 'NOMATCH', 9.0)")
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mvl AS {LEFT_Q}")
    eng.sql("INSERT INTO ns1.dim VALUES ('NOMATCH', 'xtra')")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mvl").collect()[0]
    assert r.mode == "full"
    got = [tuple(x) for x in eng.sql(
        "SELECT * FROM ns1.mvl ORDER BY band NULLS FIRST").collect()]
    assert got == _recompute_left(eng) == [
        ("hi", 2, 30.0), ("lo", 2, 7.0), ("xtra", 1, 9.0)]


def test_refresh_cascade_chain_and_diamond(eng):
    """r14 CASCADE: a src → mv1 → {mv2a, mv2b} → mv3 diamond refreshes
    leaves-first in one verb, each view on its own lane; every
    upstream refreshes exactly ONCE; a second cascade with nothing
    changed is all-noop and commits nothing; FULL applies to the
    TARGET only."""
    _seed(eng, [(1, "A", 10.0), (2, "B", 5.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv1 AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv "
            "FROM ns1.src GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2a AS "
            "SELECT COUNT(*) AS n_groups, SUM(sv) AS total "
            "FROM ns1.mv1")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2b AS "
            "SELECT grp, SUM(sv) AS sv2 FROM ns1.mv1 GROUP BY grp")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv3 AS "
            "SELECT a.n_groups AS ng, COUNT(*) AS n "
            "FROM ns1.mv2a a JOIN ns1.mv2b b ON 1 = 1 "
            "GROUP BY a.n_groups")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'C', 1.0)")
    got = [tuple(r) for r in eng.sql(
        "REFRESH MATERIALIZED VIEW ns1.mv3 CASCADE").collect()]
    by_view = {v: m for v, m, _n in got}
    assert [v for v, _m, _n in got].index("ns1.mv1") < \
        [v for v, _m, _n in got].index("ns1.mv2a")
    assert [v for v, _m, _n in got][-1] == "ns1.mv3"
    assert len(got) == 4 and by_view["ns1.mv1"] == "incremental"
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv3").collect()] == [(3, 3)]
    ver = eng.catalog.history()[0]["version"]
    got2 = [tuple(r) for r in eng.sql(
        "REFRESH MATERIALIZED VIEW ns1.mv3 CASCADE").collect()]
    assert all(m == "noop" for _v, m, _n in got2)
    assert eng.catalog.history()[0]["version"] == ver
    # FULL hits the target only: upstreams stay noop
    got3 = [tuple(r) for r in eng.sql(
        "REFRESH MATERIALIZED VIEW ns1.mv3 FULL CASCADE").collect()]
    modes = {v: m for v, m, _n in got3}
    assert modes["ns1.mv3"] == "full"
    assert all(m == "noop" for v, m in modes.items() if v != "ns1.mv3")


def test_refresh_cascade_on_plain_table_raises(eng):
    _seed(eng, [(1, "A", 1.0)])
    with pytest.raises(ValueError, match="not a materialized view"):
        eng.sql("REFRESH MATERIALIZED VIEW ns1.src CASCADE")


# --- expression GROUP BY keys (r15, VERDICT r14 #2) ---------------------------

def _seed_ts(eng, tbl="ev"):
    import datetime as dt
    rows = [(i, dt.datetime(2024, 1, 1 + i % 3, 8 + i % 5),
             "A" if i % 2 else "B", float(i)) for i in range(12)]
    eng.write_table(eng.spark.createDataFrame(
        rows, "id LONG, ts TIMESTAMP, grp STRING, v DOUBLE"),
        f"ns1.{tbl}")


def _daily_recompute(eng, tbl="ev"):
    return [tuple(x) for x in
            eng.read_table(f"ns1.{tbl}")
            .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            .orderBy("day").collect()]


DAILY = ("SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
         "COUNT(*) AS n, SUM(v) AS sv FROM ns1.ev "
         "GROUP BY CAST(date_trunc('day', ts) AS DATE)")


def test_expr_group_key_daily_bucket_incremental(eng):
    """The dashboard-bucket shape (VERDICT r14 #2): GROUP BY
    date_trunc(...) stores the expression's VALUE as the key column
    and re-emits the same expression in the delta SQL — an append
    refreshes O(delta) on the incremental lane and matches recompute,
    including a brand-new day bucket."""
    _seed_ts(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {DAILY}")
    eng.sql("INSERT INTO ns1.ev VALUES "
            "(100, TIMESTAMP '2024-01-05 09:00:00', 'A', 7.0), "
            "(101, TIMESTAMP '2024-01-01 10:00:00', 'B', 3.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    got = [tuple(x) for x in
           eng.sql("SELECT * FROM ns1.mv ORDER BY day").collect()]
    assert got == _daily_recompute(eng)


def test_expr_group_key_by_alias_and_retraction(eng):
    """GROUP BY may reference the key's ALIAS (Spark resolves it when
    no column shadows the name); deletes ride the signed feed exactly
    as with bare-column keys — a bucket whose every row is deleted
    vanishes."""
    _seed_ts(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "COUNT(*) AS n, SUM(v) AS sv FROM ns1.ev GROUP BY day")
    eng.sql("DELETE FROM ns1.ev WHERE day(ts) = 2")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental" and r.delta_rows == 4
    got = [tuple(x) for x in
           eng.sql("SELECT * FROM ns1.mv ORDER BY day").collect()]
    assert got == _daily_recompute(eng) and len(got) == 2


def test_expr_key_shadowed_alias_downgrades(eng):
    """``upper(grp) AS grp … GROUP BY grp``: Spark resolves the bare
    GROUP BY token as the COLUMN (valid SQL — the select is a function
    of the key), so groups are per RAW value while the stored key
    holds upper() — several stored rows can share one key value and
    the merge would multi-match. The lane must refuse → full."""
    _seed_ts(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT upper(grp) AS grp, COUNT(*) AS n FROM ns1.ev "
            "GROUP BY grp")
    eng.sql("INSERT INTO ns1.ev VALUES "
            "(300, TIMESTAMP '2024-01-03 03:00:00', 'B', 1.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"


def test_expr_key_nondeterministic_expression_downgrades(eng):
    """An expression key outside the whitelist (here: a zone-dependent
    call is FINE — tz drift has its own guard — but an unknown
    function is not) refuses to the full lane."""
    _seed_ts(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT hash(grp) AS hg, COUNT(*) AS n FROM ns1.ev "
            "GROUP BY hash(grp)")
    eng.sql("INSERT INTO ns1.ev VALUES "
            "(301, TIMESTAMP '2024-01-03 03:00:00', 'B', 1.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "full"


def test_expr_key_union_lane(eng):
    """The union lane's OUTER select accepts expression keys over the
    branch output names; each source's delta maps through its branches
    and re-groups under the same expression."""
    _seed_ts(eng, "ev1")
    _seed_ts(eng, "ev2")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT substring(grp, 1, 1) AS g1, COUNT(*) AS n, "
            "SUM(v) AS sv FROM ("
            "SELECT grp, v FROM ns1.ev1 UNION ALL "
            "SELECT grp, v FROM ns1.ev2) u "
            "GROUP BY substring(grp, 1, 1)")
    eng.sql("INSERT INTO ns1.ev2 VALUES "
            "(400, TIMESTAMP '2024-01-04 04:00:00', 'C', 9.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    got = [tuple(x) for x in
           eng.sql("SELECT * FROM ns1.mv ORDER BY g1").collect()]
    exp = [tuple(x) for x in
           eng.read_table("ns1.ev1").unionAll(eng.read_table("ns1.ev2"))
           .groupBy(F.substring("grp", 1, 1).alias("g1"))
           .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
           .orderBy("g1").collect()]
    assert got == exp


def test_expr_key_join_lane(eng):
    """The join lane accepts aliased expression keys over qualified
    columns — the delta joins the pinned dim and re-groups under the
    same expression."""
    _seed_join(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT upper(d.band) AS ub, COUNT(*) AS n, "
            "SUM(f.v) AS sv FROM ns1.src f "
            "JOIN ns1.dim d ON f.grp = d.grp GROUP BY upper(d.band)")
    eng.sql("INSERT INTO ns1.src VALUES (50, 'A', 4.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    got = [tuple(x) for x in
           eng.sql("SELECT * FROM ns1.mv ORDER BY ub").collect()]
    exp = [tuple(x) for x in
           eng.read_table("ns1.src").alias("f")
           .join(eng.read_table("ns1.dim").alias("d"), "grp")
           .groupBy(F.upper("band").alias("ub"))
           .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
           .orderBy("ub").collect()]
    assert got == exp


def test_expr_key_soak_matches_recompute(eng):
    """Seeded random append/delete sequence over the daily-bucket MV —
    after every refresh the MV equals a from-scratch recompute."""
    import random
    rnd = random.Random(7)
    _seed_ts(eng)
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {DAILY}")
    nid = 1000
    for step in range(5):
        if step == 2:
            eng.sql("DELETE FROM ns1.ev WHERE id % 3 = 0")
        else:
            vals = ", ".join(
                f"({nid + k}, TIMESTAMP '2024-01-0{rnd.randint(1, 7)} "
                f"0{rnd.randint(1, 9)}:00:00', "
                f"'{rnd.choice('AB')}', {float(rnd.randint(-9, 9))})"
                for k in range(rnd.randint(1, 3)))
            nid += 3
            eng.sql(f"INSERT INTO ns1.ev VALUES {vals}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "incremental", (step, r)
        got = [tuple(x) for x in
               eng.sql("SELECT * FROM ns1.mv ORDER BY day").collect()]
        assert got == _daily_recompute(eng), step


# --- HAVING materialized views (r15, VERDICT r14 #5) --------------------------

HAV = ("SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
       "GROUP BY grp HAVING SUM(v) > 50")


def test_having_boundary_crossing_both_directions(eng):
    """The stored table keeps ALL groups (full state via companions);
    the rewritten predicate applies at read time — so a group crossing
    the HAVING boundary in EITHER direction appears/disappears under
    the INCREMENTAL lane (the crafted pin of VERDICT r14 #5)."""
    _seed(eng, [(1, "A", 30.0), (2, "A", 30.0), (3, "B", 10.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {HAV}")
    assert _mv_rows(eng) == [("A", 2, 60.0)]
    # B crosses UP
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 45.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    assert _mv_rows(eng) == [("A", 2, 60.0), ("B", 2, 55.0)]
    # A crosses DOWN via the signed retraction feed
    eng.sql("DELETE FROM ns1.src WHERE id = 1")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert _mv_rows(eng) == [("B", 2, 55.0)]


def test_having_alias_reference_and_count(eng):
    """HAVING may reference a select alias or repeat a stored
    aggregate CALL (rewritten to its alias); both refresh
    incrementally."""
    _seed(eng, [(1, "A", 1.0), (2, "A", 1.0), (3, "B", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n FROM ns1.src GROUP BY grp "
            "HAVING n >= 2")
    assert _mv_rows(eng) == [("A", 2)]
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 1.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW ns1.mv") \
        .collect()[0].mode == "incremental"
    assert _mv_rows(eng) == [("A", 2), ("B", 2)]


def test_having_unstored_aggregate_downgrades(eng):
    """A HAVING aggregate the select list does not store has no output
    column to filter on → full lane; results stay correct (the stored
    rows are then the post-HAVING recompute)."""
    _seed(eng, [(1, "A", 1.0), (2, "A", 1.0), (3, "B", 1.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, SUM(v) AS sv FROM ns1.src GROUP BY grp "
            "HAVING COUNT(*) >= 2")
    assert _mv_rows(eng) == [("A", 2.0)]
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 1.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "full"
    assert _mv_rows(eng) == [("A", 2.0), ("B", 2.0)]


def test_having_hidden_groups_stay_stored(eng):
    """Below-threshold groups are INVISIBLE to SELECT and the change
    feed but PRESENT in the stored files — the substrate that lets
    them cross the boundary incrementally later."""
    _seed(eng, [(1, "A", 60.0), (2, "B", 10.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {HAV}")
    assert _mv_rows(eng) == [("A", 1, 60.0)]
    txn = eng.catalog.begin(read_only=True)
    tdef = eng.catalog.describe_table(txn, "ns1", "mv")
    raw = eng.spark.read.parquet(*eng._scan_uris(tdef.file_paths()))
    assert raw.count() == 2            # both groups physically stored
    assert {r.grp for r in raw.select("grp").collect()} == {"A", "B"}
    # change feed across the create->refresh window shows only
    # VISIBLE content (per-side HAVING filter)
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.src VALUES (3, 'B', 100.0)")
    eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")
    v1 = eng.catalog.history()[0]["version"]
    feed = eng.table_changes("ns1.mv", v0, v1)
    assert {(r.grp, r._change_type) for r in feed.collect()} \
        == {("B", "insert")}           # A unchanged-and-cancelled; the
    # below-threshold B row of the FROM side is filtered per-side


def test_having_on_expression_key(eng):
    """HAVING composes with an expression GROUP BY key."""
    _seed_ts(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "SUM(v) AS sv FROM ns1.ev "
            "GROUP BY CAST(date_trunc('day', ts) AS DATE) "
            "HAVING SUM(v) > 20")
    eng.sql("INSERT INTO ns1.ev VALUES "
            "(500, TIMESTAMP '2024-01-01 01:00:00', 'A', 10.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    got = [tuple(x) for x in
           eng.sql("SELECT * FROM ns1.mv ORDER BY day").collect()]
    exp = [t for t in [(d, s) for d, _n, s in _daily_recompute(eng)]
           if t[1] > 20]
    assert got == exp


def test_stacked_mv_over_having_mv_refreshes_correctly(eng):
    """A downstream MV over a HAVING MV: the upstream's change feed is
    HAVING-filtered per side, so the downstream's incremental
    consumption nets to exactly the visible-content diff."""
    _seed(eng, [(1, "A", 60.0), (2, "B", 10.0), (3, "C", 70.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {HAV}")
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv2 AS "
            "SELECT COUNT(*) AS n_groups, SUM(sv) AS total "
            "FROM ns1.mv")
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv2").collect()] == [(2, 130.0)]
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 100.0)")
    reps = {r.view: r.mode for r in eng.sql(
        "REFRESH MATERIALIZED VIEW ns1.mv2 CASCADE").collect()}
    assert reps == {"ns1.mv": "incremental", "ns1.mv2": "incremental"}
    assert [tuple(x) for x in
            eng.sql("SELECT * FROM ns1.mv2").collect()] == [(3, 240.0)]


@pytest.mark.slow
def test_having_soak_matches_recompute(eng):
    """Seeded random ops against a HAVING MV — visible rows equal the
    full query (WITH its HAVING) recomputed from scratch after every
    refresh."""
    import random
    rnd = random.Random(99)
    _seed(eng, [(i, rnd.choice("ABC"), float(rnd.randint(0, 40)))
                for i in range(10)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {HAV}")
    nid = 100
    for step in range(5):
        if step == 3:
            eng.sql("DELETE FROM ns1.src WHERE id % 4 = 1")
        else:
            vals = ", ".join(
                f"({nid + k}, '{rnd.choice('ABC')}', "
                f"{float(rnd.randint(0, 40))})"
                for k in range(rnd.randint(1, 3)))
            nid += 3
            eng.sql(f"INSERT INTO ns1.src VALUES {vals}")
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
        assert r.mode == "incremental", (step, r)
        exp = [tuple(x) for x in
               eng.read_table("ns1.src").groupBy("grp")
               .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
               .filter(F.col("sv") > 50)
               .orderBy(F.col("grp").asc_nulls_first()).collect()]
        assert _mv_rows(eng) == exp, step


def test_minmax_scoped_predicate_roundtrip(eng, spark):
    """_mv_key_predicate × _mv_sql_literal: the literal predicate must
    select EXACTLY the keyed rows for adversarial values — strings with
    embedded quotes, NULL keys (IS NULL arm), float inf/NaN (Spark
    casts 'inf'/'nan' and treats NaN = NaN as TRUE in comparisons, so
    NaN group keys round-trip), dates; backslash strings refuse."""
    import datetime as dt
    import math
    vals = ["plain", "it's", "", "A", None]
    fvals = [1.5, -0.0, float("inf"), float("nan"), 12345.6789]
    rows = [(i, vals[i % 5], fvals[i % 5],
             dt.date(2024, 1, 1 + i % 5)) for i in range(10)]
    df = spark.createDataFrame(rows, "id LONG, s STRING, f DOUBLE, d DATE")
    keys = [{"s": "it's"}, {"s": None}]
    pred = Engine._mv_key_predicate(["s"], keys, ["s"])
    got = {r.id for r in df.filter(F.expr(pred)).collect()}
    assert got == {1, 4, 6, 9}, pred
    keys = [{"f": float("nan"), "d": dt.date(2024, 1, 4)},
            {"f": float("inf"), "d": dt.date(2024, 1, 3)}]
    pred = Engine._mv_key_predicate(["f", "d"], keys, ["f", "d"])
    got = {r.id for r in df.filter(F.expr(pred)).collect()}
    assert got == {2, 3, 7, 8}, pred
    assert Engine._mv_key_predicate(
        ["s"], [{"s": "a\\b"}], ["s"]) is None


def test_minmax_scoped_with_expression_key(eng):
    """Scoped MIN/MAX retraction composes with an expression GROUP BY
    key: the predicate evaluates the EXPRESSION against the source
    (``(CAST(date_trunc(...) AS DATE)) IN (DATE '...')``) and only the
    touched day buckets re-aggregate."""
    _seed_ts(eng)
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "MAX(v) AS mx, COUNT(*) AS n FROM ns1.ev GROUP BY day")
    eng.sql("DELETE FROM ns1.ev WHERE v >= 10.0")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)
    got = [tuple(x) for x in
           eng.sql("SELECT * FROM ns1.mv ORDER BY day").collect()]
    exp = [tuple(x) for x in
           eng.read_table("ns1.ev")
           .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
           .agg(F.max("v").alias("mx"), F.count("*").alias("n"))
           .orderBy("day").collect()]
    assert got == exp


# --- r15 optimization: structural feed cardinalities (_feed_counts_meta) -------


def _feed_and_meta(eng, tbl, v0, v1):
    feed = eng.table_changes(tbl, v0, v1)
    meta = eng._feed_counts_meta(tbl, v0, v1)
    actual = {
        "n_inserts": feed.filter("_change_type = 'insert'").count(),
        "n_deletes": feed.filter("_change_type = 'delete'").count()}
    return meta, actual


def test_feed_counts_meta_pure_append_exact_and_refresh_jobless(eng):
    """Pure-append diff: the meta counts equal the scanned feed's
    (footer row counts of the entered files), so the refresh report's
    delta_rows needs no count job — and must still be exact."""
    _seed(eng, [(1, "A", 10.0), (2, "B", 5.0)])
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.src VALUES (3, 'A', 2.0), (4, 'C', 9.0), "
            "(5, 'C', 1.0)")
    v1 = eng.catalog.history()[0]["version"]
    meta, actual = _feed_and_meta(eng, "ns1.src", v0, v1)
    assert meta == actual == {"n_inserts": 3, "n_deletes": 0}


def test_feed_counts_meta_two_sided_cow_declines(eng):
    """An UPDATE rewrites files (two-sided diff): cancellation makes
    the feed size data-dependent — meta must decline (None), never
    guess."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("UPDATE ns1.src SET v = v + 1 WHERE grp = 'A'")
    v1 = eng.catalog.history()[0]["version"]
    meta, actual = _feed_and_meta(eng, "ns1.src", v0, v1)
    assert meta == {"n_inserts": None, "n_deletes": None}
    assert actual == {"n_inserts": 2, "n_deletes": 2}


def test_feed_counts_meta_row_filter_declines(eng):
    """A current row-filter policy drops feed rows reader-side — footer
    counts would overcount; meta must decline."""
    _seed(eng, [(1, "A", 10.0)])
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.src VALUES (2, 'B', 3.0), (3, 'B', 4.0)")
    eng.set_row_filter("ns1.src", "grp = 'A'")
    v1 = eng.catalog.history()[0]["version"]
    meta = eng._feed_counts_meta("ns1.src", v0, v1)
    assert meta == {"n_inserts": None, "n_deletes": None}


def test_feed_counts_meta_having_mv_declines(eng):
    """A HAVING MV's feed is filtered by the predicate — footer counts
    overcount hidden groups; meta must decline on its feed."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "GROUP BY grp HAVING COUNT(*) >= 2")
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 7.0)")
    eng.sql("REFRESH MATERIALIZED VIEW ns1.mv")
    v1 = eng.catalog.history()[0]["version"]
    meta = eng._feed_counts_meta("ns1.mv", v0, v1)
    assert meta == {"n_inserts": None, "n_deletes": None}


def test_feed_counts_meta_append_refresh_delta_rows_exact(eng):
    """End to end: the incremental refresh's reported delta_rows on the
    metadata fast path equals the appended row count."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 7.0), (5, 'C', 1.0)")
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert (r.mode, r.delta_rows) == ("incremental", 2)


# --- r15 optimization-round plan-shape pins -------------------------------------


def test_refresh_merged_plan_single_exchange(eng, monkeypatch):
    """r15 opt: the incremental refresh's merged frame shuffles ONCE —
    the delta feeds `_mv_merge` as per-row signed contributions
    (no pre-aggregation of its own), so the only Exchange in the
    written plan is the merge groupBy (guide §2.4: operations keyed
    the same way share one exchange)."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql(f"CREATE MATERIALIZED VIEW ns1.mv AS {AGG}")
    eng.sql("INSERT INTO ns1.src VALUES (4, 'B', 7.0), (5, 'C', 1.0)")
    plans = []
    orig = Engine._write_files

    def spy(self, df, ns, tbl, *a, **kw):
        if tbl == "mv":
            plans.append(df._jdf.queryExecution().executedPlan()
                         .toString())
        return orig(self, df, ns, tbl, *a, **kw)

    monkeypatch.setattr(Engine, "_write_files", spy)
    r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    assert r.mode == "incremental"
    assert len(plans) == 1
    import re as _re
    n_exchange = len(_re.findall(r"\bExchange\b", plans[0]))
    assert n_exchange == 1, plans[0]
    assert "SortMergeJoin" not in plans[0]


def test_empty_local_frames_fold_out_of_unions(eng):
    """r15 opt: empty engine frames (empty `_scan` sides, empty
    `_local_df`) are true LocalRelations, so Catalyst's
    PropagateEmptyRelation erases them from unions — an RDD-backed
    empty frame (unknown cardinality) would ride the whole plan as a
    dead leg. Schema fidelity is preserved exactly."""
    import pyspark.sql.types as T

    sch = T.StructType([
        T.StructField("a", T.StringType()),
        T.StructField("b", T.DecimalType(25, 6)),
        T.StructField("c", T.TimestampNTZType()),
    ])
    empty = eng._local_df([], sch)
    assert [f.dataType for f in empty.schema.fields] == \
        [f.dataType for f in sch.fields]
    assert empty.count() == 0
    big = eng.spark.range(3).selectExpr(
        "CAST(id AS STRING) a", "CAST(id AS DECIMAL(25,6)) b",
        "CAST(NULL AS TIMESTAMP_NTZ) c")
    folded = big.unionByName(empty)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Union" not in folded, folded
    # the change feed of a PURE APPEND (structurally empty delete side)
    # plans with no union leg and no RDD scan
    _seed(eng, [(1, "A", 1.0)], tbl="feedsrc")
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("INSERT INTO ns1.feedsrc VALUES (2, 'B', 2.0)")
    v1 = eng.catalog.history()[0]["version"]
    feed = eng.table_changes("ns1.feedsrc", v0, v1)
    opt = feed._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in opt, opt
    assert "ExistingRDD" not in opt, opt
    rows = [(r.id, r.grp, r.v, r._change_type) for r in feed.collect()]
    assert rows == [(2, "B", 2.0, "insert")]


def test_feed_counts_meta_delete_window_exact(eng):
    """r15 opt: a window whose only table writes are TABLE_DELETE
    commits (COW deletes write a multiset-subset of what they remove)
    has footer-derivable counts: n_inserts=0,
    n_deletes = rows_from − rows_to — exactly what the scanned feed
    cancels to. Multi-delete windows compose; delta_rows and the
    MIN/MAX probe pay zero count jobs."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0),
                (4, "C", 7.0)])
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("DELETE FROM ns1.src WHERE grp = 'A'")
    v1 = eng.catalog.history()[0]["version"]
    meta, actual = _feed_and_meta(eng, "ns1.src", v0, v1)
    assert meta == actual == {"n_inserts": 0, "n_deletes": 2}
    # two deletes in one window still compose exactly
    eng.sql("DELETE FROM ns1.src WHERE grp = 'B'")
    v2 = eng.catalog.history()[0]["version"]
    meta, actual = _feed_and_meta(eng, "ns1.src", v0, v2)
    assert meta == actual == {"n_inserts": 0, "n_deletes": 3}


def test_feed_counts_meta_delete_plus_append_window_declines(eng):
    """A window mixing a DELETE with an APPEND is neither one-sided nor
    delete-only — meta must decline (cancellation could hide appended
    rows that a later delete removed file-wise)."""
    _seed(eng, [(1, "A", 10.0), (2, "B", 5.0)])
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("DELETE FROM ns1.src WHERE grp = 'A'")
    eng.sql("INSERT INTO ns1.src VALUES (3, 'C', 1.0)")
    v1 = eng.catalog.history()[0]["version"]
    meta, actual = _feed_and_meta(eng, "ns1.src", v0, v1)
    assert meta == {"n_inserts": None, "n_deletes": None}
    assert actual == {"n_inserts": 1, "n_deletes": 1}


def test_feed_counts_meta_rollback_in_window_declines(eng):
    """A rollback root carries file-list changes with NO table action —
    the provenance walk cannot prove the window delete-only and must
    decline. Both rows share one file, so each DELETE rewrites it to a
    non-empty file and the window's file diff is two-sided."""
    eng.write_table(eng.spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 5.0)],
        "id LONG, grp STRING, v DOUBLE").coalesce(1), "ns1.src")
    v0 = eng.catalog.history()[0]["version"]
    eng.sql("DELETE FROM ns1.src WHERE grp = 'A'")
    eng.catalog.rollback_to(v0)
    eng.sql("DELETE FROM ns1.src WHERE grp = 'B'")
    v1 = eng.catalog.history()[0]["version"]
    meta = eng._feed_counts_meta("ns1.src", v0, v1)
    assert meta == {"n_inserts": None, "n_deletes": None}
    # and the scanned feed stays the ground truth
    feed = eng.table_changes("ns1.src", v0, v1)
    assert sorted((r.id, r._change_type) for r in feed.collect()) == \
        [(2, "delete")]


def test_retraction_refresh_uses_meta_counts_no_feed_count_job(eng,
                                                               spark):
    """End to end: a DELETE-window refresh reports exact delta_rows
    from footer arithmetic — no count/first job against the persisted
    feed (the feed materializes once, inside the merged write)."""
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    eng.sql("CREATE MATERIALIZED VIEW ns1.mv AS "
            "SELECT grp, COUNT(*) AS n, SUM(v) AS sv FROM ns1.src "
            "GROUP BY grp")
    eng.sql("DELETE FROM ns1.src WHERE v >= 20.0")
    # the old path ran d.agg(...).first() against the persisted feed —
    # pin that NO first() fires during this refresh (counts come from
    # the action walk + footer stats; the feed materializes once,
    # inside the merged write)
    from pyspark.sql.classic.dataframe import DataFrame as _CDF
    calls = []
    orig_first = _CDF.first
    _CDF.first = lambda self: (calls.append(1), orig_first(self))[1]
    try:
        r = eng.sql("REFRESH MATERIALIZED VIEW ns1.mv").collect()[0]
    finally:
        _CDF.first = orig_first
    assert (r.mode, r.delta_rows) == ("incremental", 1)
    assert _mv_rows(eng) == [("A", 1, 10.0), ("B", 1, 5.0)]
    assert calls == [], "feed count job ran despite meta fast path"


def test_mv_merge_sql_text_matches_full_recompute(eng):
    """r16: _mv_merge builds its frame as one spark.sql text (737 -> ~8
    py4j round-trips per merge); this pins every merge it builds to a
    full recompute of the same query — same rows, same column names and
    types — on the clause families at once: a grouped plan with every
    aggregate family (COUNT(*), COUNT(col), SUM+AVG companions, MIN/MAX,
    a NULL group key, a NULL value), the signed lane's deletes with a
    vanishing group (no MIN/MAX: a delete sends those to the
    group-scoped recompute instead), and the no-GROUP-BY (global)
    shape."""
    import unittest.mock as mock

    from olympia_spark.engine import Engine as E
    _seed(eng, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0),
                (4, None, 2.0)])
    queries = {
        "ns1.mv": "SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, "
                  "SUM(v) AS sv, AVG(v) AS av, MIN(v) AS mn, MAX(v) AS mx "
                  "FROM ns1.src GROUP BY grp",
        "ns1.mvd": "SELECT grp, COUNT(*) AS n, COUNT(v) AS nv, "
                   "SUM(v) AS sv, AVG(v) AS av FROM ns1.src GROUP BY grp",
        "ns1.mvg": "SELECT COUNT(*) AS n, SUM(v) AS sv, AVG(v) AS av "
                   "FROM ns1.src"}
    for mv, q in queries.items():
        eng.sql(f"CREATE MATERIALIZED VIEW {mv} AS {q}")
    calls = []
    orig = E._mv_merge_sql

    def spy(old, delta, plan, schema):
        calls.append(plan)
        return orig(old, delta, plan, schema)

    def rows(df):
        return sorted(map(tuple, df.collect()),
                      key=lambda r: tuple((x is None, str(x)) for x in r))

    def refresh_matches_recompute(mv):
        calls.clear()
        with mock.patch.object(E, "_mv_merge_sql", staticmethod(spy)):
            r = eng.sql(f"REFRESH MATERIALIZED VIEW {mv}").collect()[0]
        assert r.mode == "incremental" and calls
        got, want = eng.sql(f"SELECT * FROM {mv}"), eng.sql(queries[mv])
        assert [(f.name, f.dataType) for f in got.schema.fields] == \
            [(f.name, f.dataType) for f in want.schema.fields]
        assert rows(got) == rows(want)

    eng.sql("INSERT INTO ns1.src VALUES (5, 'B', 7.0), (6, 'C', 1.0), "
            "(7, NULL, 4.0), (8, 'A', NULL)")
    for mv in queries:
        refresh_matches_recompute(mv)
    # signed deletes: stored group C vanishes, A and the NULL group
    # shrink; the global shape (constant-key GROUP BY inside the merge)
    # takes the same signed window
    eng.sql("DELETE FROM ns1.src WHERE grp = 'C' OR id IN (1, 4)")
    eng.sql("INSERT INTO ns1.src VALUES (9, 'D', 3.0)")
    refresh_matches_recompute("ns1.mvd")
    refresh_matches_recompute("ns1.mvg")


def test_stored_state_schema_comes_from_the_footer(eng, spark):
    """Refresh reads the stored MV state (companions and row count
    included) with the schema Spark records in the file footer, instead
    of a schema-inference job; for every shape it equals Spark's own
    inference, before and after an incremental refresh."""
    eng.sql("CREATE TABLE ns1.src (id BIGINT, grp STRING, v DOUBLE, "
            "p DECIMAL(30,2), ts TIMESTAMP)")
    eng.sql("CREATE TABLE ns1.dim (grp STRING, label STRING)")
    eng.sql("INSERT INTO ns1.src VALUES "
            "(1, 'A', 1.5, 2.25, TIMESTAMP'2024-01-01 10:00:00'), "
            "(2, 'B', NULL, NULL, TIMESTAMP'2024-01-02 11:00:00')")
    eng.sql("INSERT INTO ns1.dim VALUES ('A', 'x'), ('B', 'y')")
    shapes = {
        "agg": AGG,
        "avg": "SELECT grp, AVG(v) AS av, SUM(p) AS sp FROM ns1.src "
               "GROUP BY grp",
        "glob": "SELECT COUNT(*) AS n, AVG(p) AS ap FROM ns1.src",
        "day": "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n "
               "FROM ns1.src GROUP BY date_trunc('day', ts)",
        "join": "SELECT d.label AS label, SUM(f.v) AS sv FROM ns1.src f "
                "JOIN ns1.dim d ON f.grp = d.grp GROUP BY d.label",
        "uni": "SELECT grp, COUNT(*) AS n FROM (SELECT grp FROM ns1.src "
               "WHERE v > 0 UNION ALL SELECT grp FROM ns1.src "
               "WHERE v < 0) u GROUP BY grp",
    }

    def schemas_agree():
        for mv in shapes:
            tdef = eng.catalog.describe_table(
                eng.catalog.begin(read_only=True), "ns1", mv)
            paths = tdef.file_paths()
            inferred = spark.read.parquet(*eng._scan_uris(paths)).schema
            assert eng._footer_schema(paths[0]) == inferred, mv

    for mv, q in shapes.items():
        eng.sql(f"CREATE MATERIALIZED VIEW ns1.{mv} AS {q}")
    schemas_agree()
    eng.sql("INSERT INTO ns1.src VALUES "
            "(3, 'A', 2.0, 1.10, TIMESTAMP'2024-01-01 12:00:00')")
    for mv in shapes:
        r = eng.sql(f"REFRESH MATERIALIZED VIEW ns1.{mv}").collect()[0]
        assert r.mode == "incremental", mv
    schemas_agree()
