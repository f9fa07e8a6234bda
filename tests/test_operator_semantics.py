"""Crafted-input SEMANTIC probes for operators whose DuckDB oracles share
the generation/transform expression with the Spark side (the recurring
blind spot: both sides can be broken identically and the hash gate stays
green). Each test builds a tiny documents fixture with a KNOWN ground
truth and asserts the registered operator reproduces it."""

from __future__ import annotations

import pytest

from olympia_spark.operators import load_all_modules, registry

load_all_modules()


def _docs(spark, tmp_path, rows):
    """Write rows of (doc_id, text, lang, source, n_chars) as the
    documents table of a scratch sf dir; returns the dir."""
    d = str(tmp_path / "sfsem")
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, "
              "n_chars LONG")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_winnowing_guarantee_shared_substring(spark, tmp_path):
    """Winnowing's defining property (SIGMOD'03): two documents sharing
    a sufficiently long substring MUST share fingerprints; unrelated
    documents must not pair."""
    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, f"alpha beta {shared} gamma delta", "en", "s0", 0),
        (2, f"zzz unrelated prefix {shared} qqq", "en", "s0", 0),
        (3, "completely different content about spark catalyst plans "
            "and shuffle exchanges nothing else", "en", "s0", 0),
        (4, "yet another unique document mentioning parquet footers "
            "and bloom filters only", "en", "s0", 0),
    ]
    d = _docs(spark, tmp_path, rows)
    pairs = {(r.doc_a, r.doc_b): r.shared for r in
             registry.QUERIES["dedup_winnowing"](spark, d).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_bm25_ranks_heavier_tf_and_ignores_nonmatching(spark, tmp_path):
    filler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"table table table {filler}", "en", "s0", 0),
        (2, f"table iota kappa {filler}", "en", "s0", 0),
        (3, f"lambda mu nu {filler}", "en", "s0", 0),   # no query term
    ]
    d = _docs(spark, tmp_path, rows)
    out = registry.QUERIES["text_bm25_topk"](spark, d).collect()
    ranked = [r.doc_id for r in out]
    assert ranked.index(1) < ranked.index(2)     # higher tf → higher rank
    assert 3 not in ranked                       # no query term → no score
    scores = {r.doc_id: r.bm25 for r in out}
    assert scores[1] > scores[2] > 0


def test_mad_outliers_flags_only_true_outliers(spark, tmp_path):
    rows = ([(i, "x", "en", "sa", 100) for i in range(10)]
            + [(10, "x", "en", "sa", 1000)]           # lone outlier
            + [(20 + i, "x", "en", "sb", 50 + i) for i in range(11)])
    d = _docs(spark, tmp_path, rows)
    out = {r.source: r for r in
           registry.QUERIES["data_mad_outliers"](spark, d).collect()}
    sa = out["sa"]
    assert sa.med == 100 and sa.mad == 0
    assert sa.n_outliers == 1                     # only the 1000-char doc
    sb = out["sb"]                                 # 50..60 → med 55, mad 3
    assert sb.med == 55 and sb.mad == 3
    # |x-55| > 9 → none of 50..60 qualifies
    assert sb.n_outliers == 0


def test_host_cap_keeps_top5_per_host(spark, tmp_path):
    # 8 docs on ONE synthesized host: ids 0,7,14,...49 (id % 7 == 0)
    rows = [(i * 7, "x", "en", "sa", 100 + i) for i in range(8)]
    d = _docs(spark, tmp_path, rows)
    out = registry.QUERIES["data_host_cap"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.host == "sa-h0" and r.n_kept == 5
    # keeps the 5 LARGEST n_chars: 103..107
    assert r.kept_chars == sum(100 + i for i in range(3, 8))


def test_token_freq_spectrum_counts_of_counts(spark, tmp_path):
    rows = [(1, "x x x y", "en", "sa", 0), (2, "y y z", "en", "sa", 0)]
    d = _docs(spark, tmp_path, rows)
    out = {r.occurrences: r.n_words for r in
           registry.QUERIES["text_token_freq_spectrum"](spark, d)
           .collect()}
    assert out == {1: 1, 3: 2}      # z once; x and y three times each


def test_shard_plan_actually_balances(spark, tmp_path):
    """C87 semantic claim: serpentine placement BALANCES token totals.
    Crafted skew — one giant doc and many small ones — must still land
    within one giant-doc of even; and a degenerate assignment (e.g.
    everything to shard 0) must be impossible: all 8 shards populated."""
    rows = [(0, " ".join(["w"] * 800), "en", "s", 800)]
    rows += [(i, " ".join(["w"] * (10 + i % 7)), "en", "s", 10)
             for i in range(1, 65)]
    d = _docs(spark, tmp_path, rows)
    out = {r.shard: (r.n_docs, r.tok_sum) for r in
           registry.QUERIES["data_shard_plan"](spark, d).collect()}
    assert set(out) == set(range(8))
    sums = [v[1] for v in out.values()]
    assert sum(v[0] for v in out.values()) == 65
    # every shard except the giant's is within the small-doc range;
    # the giant's shard exceeds the rest by ~the giant alone
    rest = sorted(sums)[:-1]
    assert max(rest) - min(rest) <= 17      # one small doc of slack
    assert max(sums) >= 800


def test_salt_plan_non_vacuous_and_bounded(spark):
    """C88: the plan must be NON-EMPTY at the gate scales (a uniform
    key would make both engines agree on an empty result — vacuous
    green) and every planned key must obey the per-task bound."""
    rows = registry.QUERIES["data_salt_plan"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "salt plan empty — operator is vacuous at test scale"
    for r in rows:
        assert r.salt_factor >= 2
        assert r.max_rows_per_task <= 100
        assert r.salt_factor * r.max_rows_per_task >= r.cnt


def test_line_dedup_drops_known_duplicates(spark, tmp_path):
    """C89 ground truth: doc 1 repeats doc 0's chunk twice (cross-doc
    AND intra-doc) — only doc 0's first copy survives; doc 2 is
    untouched."""
    chunk = " ".join(f"t{i}" for i in range(8))      # one 8-token unit
    other = " ".join(f"u{i}" for i in range(8))
    rows = [
        (0, chunk, "en", "a", 10),
        (1, chunk + " " + chunk, "en", "b", 10),     # two dup copies
        (2, other, "en", "b", 10),
    ]
    d = _docs(spark, tmp_path, rows)
    out = {r.source: r for r in
           registry.QUERIES["text_line_dedup"](spark, d).collect()}
    assert out["a"].total_lines == 1 and out["a"].kept_lines == 1
    # source b: 3 units (2 dup copies + 1 unique) → only the unique kept
    assert out["b"].total_lines == 3 and out["b"].kept_lines == 1
    assert abs(out["b"].retained_frac - round(1 / 3, 4)) < 1e-9


def test_q2_shape_equals_independent_min_recompute(spark):
    """B87: the window-decorrelated min must agree with an independent
    groupBy-min recompute (different plan, same semantics), and the
    result must be non-empty at the gate scale."""
    from pyspark.sql import functions as F
    from olympia_spark.tables import load
    sf = "/root/testdata/sf0.01"
    got = registry.QUERIES["b87_q2_shape"](spark, sf).collect()
    assert got, "Q2 shape returned no rows — filters too tight"
    li = load(spark, sf, "lineitem")
    cost = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.round(F.min(F.col("l_extendedprice")
                               / F.col("l_quantity"))
                         .cast("decimal(25,10)"), 4)
                 .cast("double").alias("uc")))
    reg = load(spark, sf, "region")
    first_region = reg.agg(F.min("r_name")).first()[0]
    rs = (load(spark, sf, "supplier")
          .join(load(spark, sf, "nation"),
                F.col("s_nationkey") == F.col("n_nationkey"))
          .join(reg.filter(F.col("r_name") == first_region),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey"))
    best = (cost.join(rs, cost.l_suppkey == rs.s_suppkey)
            .groupBy("l_partkey").agg(F.min("uc").alias("mc")))
    mins = {r.l_partkey: r.mc for r in best.collect()}
    for r in got:
        assert abs(r.unit_cost - mins[r.p_partkey]) < 1e-12, r


def _tpch(spark, tmp_path, **tables):
    """Write crafted TPC-H-ish tables (name -> (rows, schema)) as a
    scratch sf dir."""
    d = str(tmp_path / "sftpch")
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    return d


@pytest.mark.slow
def test_q21_counts_only_sole_late_supplier_on_multi_supplier_orders(
        spark, tmp_path):
    """B91 ground truth: supplier 1 waits-blame on order 100 ONLY —
    order 101 has two late suppliers (NOT EXISTS kills it), order 102
    is single-supplier (EXISTS kills it), order 103 is status 'O',
    order 104's supplier sits outside the MIN nation."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            # (orderkey, partkey, suppkey, qty, price, returnflag)
            (100, 1, 1, 1.0, 10.0, "R"), (100, 1, 2, 1.0, 10.0, "N"),
            (101, 1, 1, 1.0, 10.0, "R"), (101, 1, 2, 1.0, 10.0, "R"),
            (102, 1, 1, 1.0, 10.0, "R"),
            (103, 1, 1, 1.0, 10.0, "R"), (103, 1, 2, 1.0, 10.0, "N"),
            (104, 1, 3, 1.0, 10.0, "R"), (104, 1, 1, 1.0, 10.0, "N"),
        ], "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, "
           "l_quantity DOUBLE, l_extendedprice DOUBLE, "
           "l_returnflag STRING"),
        orders=([
            (100, "F"), (101, "F"), (102, "F"), (103, "O"), (104, "F"),
        ], "o_orderkey LONG, o_orderstatus STRING"),
        supplier=([
            (1, "Supp#1", 10), (2, "Supp#2", 10), (3, "Supp#3", 20),
        ], "s_suppkey LONG, s_name STRING, s_nationkey LONG"),
        nation=([
            (10, "AAA", 1), (20, "BBB", 1),
        ], "n_nationkey LONG, n_name STRING, n_regionkey LONG"))
    out = {r.s_name: r.numwait for r in
           registry.QUERIES["b91_q21_shape"](spark, d).collect()}
    assert out == {"Supp#1": 1}
    # and non-vacuous at the driver gate scale
    assert registry.QUERIES["b91_q21_shape"](
        spark, "/root/testdata/sf0.01").count() > 0


def test_q17_small_lot_threshold_is_per_part_half_avg(spark, tmp_path):
    """B92 ground truth: part 1's avg qty = 4 → cap 2 → exactly the
    two qty-1 lines qualify (revenue 3.0 + 5.0); part 2 is the wrong
    brand and must not contribute even though all its lines are tiny."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 1, 1, 1.0, 3.0, "N"), (2, 1, 1, 1.0, 5.0, "N"),
            (3, 1, 1, 10.0, 99.0, "N"),
            (4, 2, 1, 0.5, 77.0, "N"), (5, 2, 1, 0.5, 78.0, "N"),
        ], "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, "
           "l_quantity DOUBLE, l_extendedprice DOUBLE, "
           "l_returnflag STRING"),
        part=([
            (1, "Brand#1", 10), (2, "Brand#2", 10),
        ], "p_partkey LONG, p_brand STRING, p_size LONG"))
    row = registry.QUERIES["b92_q17_shape"](spark, d).first()
    assert row.n_lines == 2
    assert abs(row.small_lot_revenue - 8.0) < 1e-9
    # non-vacuous at the driver gate scale
    assert registry.QUERIES["b92_q17_shape"](
        spark, "/root/testdata/sf0.01").first().n_lines > 0


def test_q22_exact_decimal_threshold_and_dormancy(spark, tmp_path):
    """B93 ground truth: pool = nations < 13; avg positive balance =
    (300+100+300)/3 = 233.3 → c1 and c3 (300) pass the threshold; c4
    (250, nation 20) is out of the pool; c3 has a recent order and
    must drop at the anti-join — leaving exactly c1."""
    import datetime
    d = _tpch(
        spark, tmp_path,
        customer=([
            (1, "c1", 2, 300.0), (2, "c2", 3, 100.0),
            (3, "c3", 4, 300.0), (4, "c4", 20, 250.0),
        ], "c_custkey LONG, c_name STRING, c_nationkey LONG, "
           "c_acctbal DOUBLE"),
        orders=([
            (10, 3, datetime.datetime(2000, 6, 1)),  # recent → c3 drops
            (11, 1, datetime.datetime(1999, 1, 1)),  # old → c1 dormant
        ], "o_orderkey LONG, o_custkey LONG, o_orderdate TIMESTAMP"))
    out = [(r.cntry, r.numcust, r.totacctbal) for r in
           registry.QUERIES["b93_q22_shape"](spark, d).collect()]
    assert out == [(2, 1, 300.0)]


@pytest.mark.slow
def test_q20_half_share_threshold_and_nation_gate(spark, tmp_path):
    """B94 ground truth: supplier 1 ships part 1 ('small x') mostly in
    the recent window (6 of 10 → qualifies); supplier 2's recent share
    is 4 of 10 (fails); supplier 3 qualifies on quantity but sits in
    nation 20 (fails the nation gate)."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 1, 1, 4.0, 0.0, "1995-06-01 00:00:00"),
            (2, 1, 1, 6.0, 0.0, "1996-06-01 00:00:00"),
            (3, 1, 2, 6.0, 0.0, "1995-06-01 00:00:00"),
            (4, 1, 2, 4.0, 0.0, "1996-06-01 00:00:00"),
            (5, 1, 3, 1.0, 0.0, "1996-06-01 00:00:00"),
            (6, 2, 1, 9.0, 0.0, "1996-06-01 00:00:00"),  # wrong part name
        ], "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, "
           "l_quantity DOUBLE, l_extendedprice DOUBLE, "
           "l_shipdate STRING"),
        part=([
            (1, "small x"), (2, "red y"),
        ], "p_partkey LONG, p_name STRING"),
        supplier=([
            (1, "S1", 2), (2, "S2", 2), (3, "S3", 20),
        ], "s_suppkey LONG, s_name STRING, s_nationkey LONG"),
        nation=([
            (2, "AAA", 1), (20, "BBB", 1),
        ], "n_nationkey LONG, n_name STRING, n_regionkey LONG"))
    out = [(r.s_suppkey, r.s_name) for r in
           registry.QUERIES["b94_q20_shape"](spark, d).collect()]
    assert out == [(1, "S1")]


def test_encoding_gate_flags_mojibake_and_boundary(spark, tmp_path):
    """C90 ground truth (the fixture corpus is all-clean ASCII, so the
    FLAG path is unexercised by the oracle gate — pin it on crafted
    damage): a U+FFFD doc flags regardless of ratio; CP1252-style
    mojibake ('Ã©' per word) flags on the 5% ratio; exactly-5% does
    NOT flag (strict >); clean text never flags."""
    clean = "a clean english sentence with ordinary words only"
    rows = [
        (0, clean, "en", "s", 0),
        (1, "lost byte � here " + clean, "en", "s", 0),   # U+FFFD
        (2, "cafÃ© " * 10, "en", "s", 0),            # mojibake
        # exactly 1 suspicious char in 20 → 1*20 > 20 is FALSE
        (3, "é" + "x" * 19, "en", "s", 0),
        # 2 suspicious in 20 → 2*20 > 20 → flagged
        (4, "éé" + "x" * 18, "en", "s", 0),
    ]
    d = _docs(spark, tmp_path, rows)
    out = registry.QUERIES["text_encoding_gate"](spark, d).first()
    assert out.docs == 5
    assert out.flagged == 3            # docs 1, 2, 4
    assert out.repl_chars == 1
    assert out.susp_chars > 0


@pytest.mark.slow
def test_q11_threshold_is_1_5x_mean_part_value(spark, tmp_path):
    """B96 ground truth: part values 10/1/1/1 → mean 3.25 → 1.5× mean
    = 4.875 → only part 1 qualifies; a supplier outside the nation
    subset must not contribute value."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 1, 1, 1.0, 10.0, "N"),
            (2, 2, 1, 1.0, 1.0, "N"),
            (3, 3, 1, 1.0, 1.0, "N"),
            (4, 4, 1, 1.0, 1.0, "N"),
            (5, 1, 9, 1.0, 100.0, "N"),   # foreign supplier — excluded
        ], "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, "
           "l_quantity DOUBLE, l_extendedprice DOUBLE, "
           "l_returnflag STRING"),
        supplier=([
            (1, "S1", 2), (9, "S9", 20),
        ], "s_suppkey LONG, s_name STRING, s_nationkey LONG"),
        nation=([
            (2, "AAA", 1), (20, "BBB", 1),
        ], "n_nationkey LONG, n_name STRING, n_regionkey LONG"))
    out = [(r.l_partkey, r.part_value) for r in
           registry.QUERIES["b96_q11_shape"](spark, d).collect()]
    assert out == [(1, 10.0)]


def test_quality_linear_matches_independent_hash_recompute(spark, tmp_path):
    """C91 ground truth: recompute the hashed milli-weights with
    python hashlib (independent of BOTH engines' md5/conv paths) and
    check the per-source sums and the cross-multiplied filter."""
    import hashlib

    def wt(word: str) -> int:
        return (int(hashlib.md5(word.encode()).hexdigest()[:4], 16)
                % 64) * 37 % 21 - 10

    texts = {1: "aa bb cc dd", 2: "ee", 3: "aa aa aa"}
    rows = [(i, t, "en", "s", 0) for i, t in texts.items()]
    d = _docs(spark, tmp_path, rows)
    out = registry.QUERIES["text_quality_linear"](spark, d).first()
    exp = {i: ([wt(w) for w in t.split()]) for i, t in texts.items()}
    assert out.docs == 3
    assert out.score_sum == sum(sum(v) for v in exp.values())
    assert out.tok_sum == sum(len(v) for v in exp.values())
    want_filtered = sum(
        1 for v in exp.values() if sum(v) * 2 < -len(v))
    assert out.filtered == want_filtered


def test_q13_counts_zero_order_customers_and_residual_condition(
        spark, tmp_path):
    """B100 ground truth: c1 has 2 counted orders + 1 urgent
    (excluded), c2 has only an urgent order (counts as ZERO, must
    appear), c3 has none at all."""
    d = _tpch(
        spark, tmp_path,
        customer=([
            (1, "c1", 1, 0.0), (2, "c2", 1, 0.0), (3, "c3", 1, 0.0),
        ], "c_custkey LONG, c_name STRING, c_nationkey LONG, "
           "c_acctbal DOUBLE"),
        orders=([
            (10, 1, "3-MEDIUM"), (11, 1, "5-LOW"), (12, 1, "1-URGENT"),
            (13, 2, "1-URGENT"),
        ], "o_orderkey LONG, o_custkey LONG, o_orderpriority STRING"))
    out = {r.c_count: r.custdist for r in
           registry.QUERIES["b100_q13_shape"](spark, d).collect()}
    assert out == {2: 1, 0: 2}


def test_q15_max_equality_keeps_all_tied_suppliers(spark, tmp_path):
    """B101 ground truth: two suppliers tie at the quarterly maximum —
    BOTH must survive the scalar-MAX equality (exact DECIMAL, no
    float-order flakiness); the off-window line never counts."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 1, 1, 1.0, 100.0, 0.0, "1996-02-01 00:00:00"),
            (2, 1, 2, 1.0, 60.0, 0.0, "1996-02-01 00:00:00"),
            (3, 1, 2, 1.0, 40.0, 0.0, "1996-03-01 00:00:00"),
            (4, 1, 3, 1.0, 10.0, 0.0, "1996-02-01 00:00:00"),
            (5, 1, 1, 1.0, 999.0, 0.0, "1997-06-01 00:00:00"),  # off-win
        ], "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, "
           "l_quantity DOUBLE, l_extendedprice DOUBLE, "
           "l_discount DOUBLE, l_shipdate STRING"),
        supplier=([
            (1, "S1", 1), (2, "S2", 1), (3, "S3", 1),
        ], "s_suppkey LONG, s_name STRING, s_nationkey LONG"))
    out = [(r.s_suppkey, r.total_revenue) for r in
           registry.QUERIES["b101_q15_shape"](spark, d).collect()]
    assert out == [(1, 100.0), (2, 100.0)]


def test_host_concentration_simpson_ground_truth(spark, tmp_path):
    """C92: a source where every doc shares one host must score 1.0;
    a perfectly spread source scores 1/#hosts — computed by hand on
    crafted ids (host = doc_id % 7)."""
    # source 'mono': 3 docs all with doc_id % 7 == 0 → one host → 1.0
    rows = [(0, "x", "en", "mono", 1), (7, "x", "en", "mono", 1),
            (14, "x", "en", "mono", 1)]
    # source 'spread': ids 1..4 → 4 distinct hosts → Simpson = 4/16
    rows += [(i, "x", "en", "spread", 1) for i in range(1, 5)]
    d = _docs(spark, tmp_path, rows)
    out = {r.source: r for r in
           registry.QUERIES["data_host_concentration"](spark, d)
           .collect()}
    assert out["mono"].n_hosts == 1 and out["mono"].simpson == 1.0
    assert out["spread"].n_hosts == 4
    assert abs(out["spread"].simpson - 0.25) < 1e-9


# --- round-10 TPC-DS starter shapes: crafted ground-truth pins ---------------

def test_b104_rollup_rank_ground_truth(spark, tmp_path):
    """B104 crafted pin: hand-computed rollup totals, rank ordering with
    NULLS FIRST tiebreaks, and subtotals COMPETING with leaves inside
    one partition (the Q67 trick the oracle alone can't distinguish
    from a leaves-only ranking)."""
    import datetime as dt
    rows = [
        ("A", "F", dt.datetime(1995, 6, 1), 10.0),
        ("A", "F", dt.datetime(1995, 7, 1), 5.0),
        ("A", "O", dt.datetime(1996, 1, 1), 40.0),
        ("N", "O", dt.datetime(1996, 2, 1), 7.0),
    ]
    d = _tpch(spark, tmp_path, lineitem=(
        rows, "l_returnflag STRING, l_linestatus STRING, "
              "l_shipdate TIMESTAMP, l_quantity DOUBLE"))
    got = {(r.rf, r.ls, r.ship_year, r.sum_qty, r.rk) for r in
           registry.QUERIES["b104_rollup_topk"](spark, d).collect()}
    assert got == {
        (None, None, None, 62.0, 1),        # grand total, own partition
        ("A", None, None, 55.0, 1),         # rf subtotal beats every leaf
        ("A", "O", None, 40.0, 2),          # NULL year ranks BEFORE leaf
        ("A", "O", 1996, 40.0, 3),
        ("A", "F", None, 15.0, 4),
        ("A", "F", 1995, 15.0, 5),
        ("N", None, None, 7.0, 1),          # all-tie partition: NULLS
        ("N", "O", None, 7.0, 2),           # FIRST tiebreak orders it
        ("N", "O", 1996, 7.0, 3),
    }


def test_b105_carry_forward_alignment_ground_truth(spark, tmp_path):
    """B105 crafted pin: a day present in only ONE channel must still
    see the other channel's carried running sum (day 2 below has no
    click row, yet web_cum=2 from day 1) — the exact alignment case a
    naive join-then-compare silently drops; and a NULL history side
    (user 2, day 1 of user 1) must drop per SQL NULL comparison."""
    import datetime as dt

    def ev(eid, day, uid, etype):
        return (eid, dt.datetime(2024, 1, day, 12, 0), uid, etype, 1.0, "")
    rows = [
        ev(1, 1, 1, "click"), ev(2, 1, 1, "click"),       # u1 d1: 2 clicks
        ev(3, 3, 1, "click"),                              # u1 d3: 1 click
        ev(4, 2, 1, "view"),                               # u1 d2: 1 view
        ev(5, 4, 1, "view"), ev(6, 4, 1, "view"), ev(7, 4, 1, "view"),
        ev(8, 1, 2, "view"),                               # u2: views only
    ]
    d = _tpch(spark, tmp_path, events=(
        rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING"))
    got = {(r.day, r.n_users, r.lead_margin) for r in
           registry.QUERIES["b105_cumulative_align"](spark, d).collect()}
    # d1: str_cum NULL -> dropped; d2: web 2 (carried) > str 1 -> margin 1
    # d3: web 3 > str 1 (carried) -> margin 2; d4: web 3 < str 4 -> dropped
    assert got == {(dt.date(2024, 1, 2), 1, 1), (dt.date(2024, 1, 3), 1, 2)}


def test_b106_intersect_requires_all_channels(spark, tmp_path):
    """B106 crafted pin: only the part present in ALL THREE channels
    survives the INTERSECT chain — a two-channel part (p2) or a
    one-channel part (p3) must not leak into the shared CTE."""
    rows = [
        (1, "A", 10.0, 0.0), (1, "N", 20.0, 0.0), (1, "R", 30.0, 0.0),
        (1, "A", 5.0, 0.0),
        (2, "A", 100.0, 0.0), (2, "N", 100.0, 0.0),
        (3, "R", 100.0, 0.0),
    ]
    d = _tpch(spark, tmp_path, lineitem=(
        rows, "l_partkey BIGINT, l_returnflag STRING, "
              "l_extendedprice DOUBLE, l_discount DOUBLE"))
    got = {(r.channel, r.n_lines, r.revenue) for r in
           registry.QUERIES["b106_intersect_channels"](spark, d).collect()}
    assert got == {("A", 2, 15.0), ("N", 1, 20.0), ("R", 1, 30.0)}


def test_b107_band_boundaries_and_type_filter(spark, tmp_path):
    """B107 crafted pin: half-open band boundaries (02:59 in band_0_3,
    03:00 in band_3_6), the last band reaching 23:xx, and the shared
    type filter excluding an in-band 'error' event."""
    import datetime as dt

    def ev(eid, h, mi, etype):
        return (eid, dt.datetime(2024, 1, 1, h, mi), 1, etype, 1.0, "")
    rows = [
        ev(1, 2, 59, "click"),      # band_0_3
        ev(2, 3, 0, "view"),        # band_3_6 (boundary goes RIGHT)
        ev(3, 23, 30, "click"),     # band_21_24
        ev(4, 0, 0, "view"),        # band_0_3
        ev(5, 4, 0, "error"),       # excluded by type filter
    ]
    d = _tpch(spark, tmp_path, events=(
        rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING"))
    r = registry.QUERIES["b107_multiband_scan"](spark, d).first()
    assert r.band_0_3 == 2 and r.band_3_6 == 1 and r.band_21_24 == 1
    assert sum(r) == 4


def test_b108_exists_disjunction_ground_truth(spark, tmp_path):
    """B108 crafted pin: the AND arm and the OR-of-EXISTS arms gate
    independently — c1 (O + URGENT) and c2 (O + HIGH) pass, c3 (O but
    neither priority) fails the disjunction, c4 (URGENT but no O
    order) fails the conjunct, c5 (no orders) fails everything."""
    cust = [(i, f"seg{i}") for i in range(1, 6)]
    orders = [
        (100, 1, "O", "3-MEDIUM"), (101, 1, "F", "1-URGENT"),
        (102, 2, "O", "2-HIGH"),
        (103, 3, "O", "3-MEDIUM"),
        (104, 4, "F", "1-URGENT"),
    ]
    d = _tpch(
        spark, tmp_path,
        customer=(cust, "c_custkey BIGINT, c_mktsegment STRING"),
        orders=(orders, "o_orderkey BIGINT, o_custkey BIGINT, "
                        "o_orderstatus STRING, o_orderpriority STRING"))
    got = {(r.c_mktsegment, r.n_customers) for r in
           registry.QUERIES["b108_exists_disjunction"](spark, d).collect()}
    assert got == {("seg1", 1), ("seg2", 1)}


def test_b109_overlap_classes_ground_truth(spark, tmp_path):
    """B109 crafted pin: overlap classes count DISTINCT customers, not
    orders — customer 2 has two urgent orders yet counts once; 1 is
    urgent-only, 3 is low-only, 4 is neither channel."""
    orders = [
        (100, 1, "O", "1-URGENT"),
        (101, 2, "O", "1-URGENT"), (102, 2, "O", "1-URGENT"),
        (103, 2, "O", "5-LOW"),
        (104, 3, "O", "5-LOW"),
        (105, 4, "O", "3-MEDIUM"),
    ]
    d = _tpch(
        spark, tmp_path,
        orders=(orders, "o_orderkey BIGINT, o_custkey BIGINT, "
                        "o_orderstatus STRING, o_orderpriority STRING"))
    r = registry.QUERIES["b109_channel_overlap"](spark, d).first()
    assert (r.both_channels, r.urgent_only, r.low_only) == (1, 1, 1)


def test_b110_netting_ground_truth(spark, tmp_path):
    """B110 crafted pin: multi-line returns aggregate before netting
    (order 1: 30+10 off 100), a no-returns order keeps full value, a
    fully-returned order nets to 0, and an orphan return row (no such
    order) must not mint an output row (LEFT join direction)."""
    orders = [(1, 10, 100.0), (2, 10, 50.0), (3, 20, 80.0)]
    li = [
        (1, "R", 30.0), (1, "R", 10.0),
        (3, "R", 80.0),
        (2, "N", 999.0),          # non-return line — not netted
        (99, "R", 5.0),           # orphan return — no matching order
    ]
    d = _tpch(
        spark, tmp_path,
        orders=(orders, "o_orderkey BIGINT, o_custkey BIGINT, "
                        "o_totalprice DOUBLE"),
        lineitem=(li, "l_orderkey BIGINT, l_returnflag STRING, "
                      "l_extendedprice DOUBLE"))
    got = {(r.o_custkey, r.n_orders, r.net_value) for r in
           registry.QUERIES["b110_returns_netting"](spark, d).collect()}
    assert got == {(10, 2, 110.0), (20, 1, 0.0)}


def test_b111_growth_ground_truth(spark, tmp_path):
    """B111 crafted pin: only strictly-growing consecutive months
    survive — the first month per group (NULL LAG), a drop, and a
    flat month are all excluded; a single-month group emits nothing."""
    import datetime as dt

    def li(n, rf, month):
        return [(rf, dt.datetime(1995, month, d + 1)) for d in range(n)]
    rows = (li(2, "A", 1) + li(3, "A", 2) + li(1, "A", 3)
            + li(1, "A", 4) + li(5, "A", 5) + li(4, "N", 6))
    d = _tpch(spark, tmp_path, lineitem=(
        rows, "l_returnflag STRING, l_shipdate TIMESTAMP"))
    got = {(r.rf, r.mon, r.n, r.prev_n) for r in
           registry.QUERIES["b111_period_growth"](spark, d).collect()}
    assert got == {("A", dt.date(1995, 2, 1), 3, 2),
                   ("A", dt.date(1995, 5, 1), 5, 1)}


# --- round-11 TPC-DS shapes: crafted ground-truth pins ------------------------

def test_b113_neighbor_comparison_ground_truth(spark, tmp_path):
    """B113 crafted pin: strict above-centered-average (a tie must NOT
    qualify), boundary months drop (no LAG or no LEAD), and the
    carried neighbors/average are exact."""
    import datetime as dt
    rows = []
    # rf A months: counts 1, 5, 3 → month 2 qualifies (5*3 > 9)
    for mon, cnt in ((1, 1), (2, 5), (3, 3)):
        rows += [("A", dt.date(1995, mon, 15))] * cnt
    # rf B: all-equal counts → middle month TIES the average: excluded
    for mon in (1, 2, 3):
        rows += [("B", dt.date(1995, mon, 15))] * 2
    # rf C: single month → no neighbors, excluded
    rows += [("C", dt.date(1995, 1, 15))] * 4
    d = _tpch(spark, tmp_path, lineitem=(
        rows, "l_returnflag STRING, l_shipdate DATE"))
    got = [(r.rf, r.mon, r.n, r.prev_n, r.next_n, r.avg_win) for r in
           registry.QUERIES["b113_moving_avg_neighbor"](spark, d)
           .collect()]
    assert got == [("A", dt.date(1995, 2, 1), 5, 1, 3, 3.0)]


def test_b114_strict_growth_and_period_presence(spark, tmp_path):
    """B114 crafted pin: only entities present in BOTH periods with
    STRICTLY more than 2x growth survive — a exactly-2x entity and
    single-period entities must drop."""
    import datetime as dt
    orders = [
        (1, dt.date(1995, 3, 1), 10.0), (1, dt.date(1996, 3, 1), 30.0),
        (2, dt.date(1995, 3, 1), 10.0), (2, dt.date(1996, 3, 1), 20.0),
        (3, dt.date(1996, 3, 1), 99.0),
        (4, dt.date(1995, 3, 1), 99.0),
    ]
    d = _tpch(
        spark, tmp_path,
        orders=(orders, "o_custkey LONG, o_orderdate DATE, "
                        "o_totalprice DOUBLE"),
        customer=([(1, "AUTO"), (2, "AUTO"), (3, "AUTO"), (4, "AUTO")],
                  "c_custkey LONG, c_mktsegment STRING"))
    got = [(r.o_custkey, r.seg, r.total_1995, r.total_1996) for r in
           registry.QUERIES["b114_shared_cte_two_channel"](spark, d)
           .collect()]
    assert got == [(1, "AUTO", 10.0, 30.0)]


def test_b115_both_gates_must_pass(spark, tmp_path):
    """B115 crafted pin: a line item counts only when its PART crosses
    the frequency gate AND its ORDER's customer crosses the volume
    gate — one frequent part sold once to a small customer must not
    leak through."""
    lineitem, orders = [], []
    # customer 1: 11 orders (passes >10); customer 2: 1 order
    for ok in range(1, 12):
        orders.append((ok, 1))
    orders.append((12, 2))
    # part 1: 31 line items (passes >30) — 30 on c1's order 1, one on
    # c2's order 12 (that one must be excluded by the customer gate)
    lineitem += [(1, 1, 5.0)] * 30
    lineitem.append((12, 1, 5.0))
    # part 2: below the frequency gate even on a big customer
    lineitem.append((1, 2, 100.0))
    d = _tpch(
        spark, tmp_path,
        lineitem=(lineitem, "l_orderkey LONG, l_partkey LONG, "
                            "l_extendedprice DOUBLE"),
        orders=(orders, "o_orderkey LONG, o_custkey LONG"))
    got = registry.QUERIES["b115_frequent_items_semi"](spark, d).first()
    assert (got.n_lines, got.frequent_sales) == (30, 150.0)
    # non-vacuous at the driver gate scale
    assert registry.QUERIES["b115_frequent_items_semi"](
        spark, "/root/testdata/sf0.01").first().n_lines > 0


def test_b116_presence_classes_ground_truth(spark, tmp_path):
    """B116 crafted pin: each of four customers lands in a distinct
    presence class; per-class value sums include every channel the
    customer touched."""
    orders = [
        (1, "1-URGENT", 10.0),                       # U--
        (2, "1-URGENT", 1.0), (2, "5-LOW", 2.0),     # U-L
        (3, "1-URGENT", 1.0), (3, "2-HIGH", 2.0),
        (3, "4-NOT SPECIFIED", 4.0),                 # UML
        (4, "3-MEDIUM", 7.0),                        # -M-
    ]
    d = _tpch(spark, tmp_path, orders=(
        orders, "o_custkey LONG, o_orderpriority STRING, "
                "o_totalprice DOUBLE"))
    got = {r.presence: (r.n_customers, r.total_value) for r in
           registry.QUERIES["b116_three_channel_ratio"](spark, d)
           .collect()}
    assert got == {"U--": (1, 10.0), "U-L": (1, 3.0),
                   "UML": (1, 7.0), "-M-": (1, 7.0)}


@pytest.mark.slow
def test_c2_cap_semantics_exact_scores_capped_candidates(spark, tmp_path):
    """C2 crafted pin (r10 VERDICT #6): a pair whose ENTIRE overlap is
    >-cap boilerplate shingles is excluded from candidates, while a
    pair reachable through one non-hot shingle is scored EXACTLY —
    hot shingles still count toward its intersection (unlike C59's
    lower bound). The uncapped _exact lane still sees the boilerplate
    pairs."""
    boiler = "w1 w2 w3 w4 w5"               # 3 shingles, df=20 → hot
    docs = [(i, boiler, "s") for i in range(1, 19)]
    docs.append((19, boiler + " alpha beta gamma", "s"))
    docs.append((20, boiler + " alpha beta gamma delta", "s"))
    d = _tpch(spark, tmp_path, documents=(
        docs, "doc_id LONG, text STRING, source STRING"))
    got = [(r.d1, r.d2, r.jaccard) for r in
           registry.QUERIES["dedup_ngram_jaccard"](spark, d).collect()]
    # exact score 6/7 (3 hot + 3 rare shared, |19|=6, |20|=7): the hot
    # shingles COUNT in the score even though they minted no candidate
    assert got == [(19, 20, 0.8571)]
    exact = {(r.d1, r.d2): r.jaccard for r in
             registry.QUERIES["dedup_ngram_jaccard_exact"](spark, d)
             .collect()}
    # 153 identical-boilerplate pairs at 1.0 + the (19,20) pair
    assert len(exact) == 154
    assert exact[(1, 2)] == 1.0 and exact[(19, 20)] == 0.8571


def test_b117_band_boundaries_inclusive(spark, tmp_path):
    """B117 crafted pin: counts 14/15/20/21 → only the 15 and 20
    customers survive (BETWEEN is inclusive on both edges)."""
    orders = []
    for cust, n in ((1, 14), (2, 15), (3, 20), (4, 21)):
        orders += [(cust,)] * n
    d = _tpch(
        spark, tmp_path,
        orders=(orders, "o_custkey LONG"),
        customer=([(1, "a", "S1"), (2, "b", "S2"),
                   (3, "c", "S3"), (4, "d", "S4")],
                  "c_custkey LONG, c_name STRING, c_mktsegment STRING"))
    got = [(r.c_custkey, r.n_orders) for r in
           registry.QUERIES["b117_count_band_customers"](spark, d)
           .collect()]
    assert got == [(3, 20), (2, 15)]     # n_orders DESC, custkey tiebreak


def test_b118_ten_percent_edges_inclusive_and_presence(spark, tmp_path):
    """B118 crafted pin: a part sitting EXACTLY on both ±10% edges
    (9/10/11 around avg 10) is kept; a part outside one edge and a
    part missing one channel drop."""
    li = []
    # part 1: channel revenues 9 / 10 / 11 — both edges exact
    for flag, price in (("A", 9.0), ("N", 10.0), ("R", 11.0)):
        li.append((1, flag, price))
    # part 2: 8 / 10 / 12 — A below the lower edge
    for flag, price in (("A", 8.0), ("N", 10.0), ("R", 12.0)):
        li.append((2, flag, price))
    # part 3: balanced but only two channels present
    for flag, price in (("A", 10.0), ("N", 10.0)):
        li.append((3, flag, price))
    d = _tpch(spark, tmp_path, lineitem=(
        li, "l_partkey LONG, l_returnflag STRING, "
            "l_extendedprice DOUBLE"))
    got = [(r.l_partkey, r.rev_a, r.rev_n, r.rev_r) for r in
           registry.QUERIES["b118_equal_share_channels"](spark, d)
           .collect()]
    assert got == [(1, 9.0, 10.0, 11.0)]


def test_b119_integer_ppm_and_tiebreak(spark, tmp_path):
    """B119 crafted pin: the ratio is FLOOR integer ppm (1/3 →
    333333), equal ratios break by partkey, and the limit counts per
    channel."""
    li = []
    # channel O: part 1 ratio 1/3; parts 2 and 3 both 1/2 (tie)
    li += [(101, "O", "R", 1.0), (101, "O", "N", 2.0)]
    li += [(102, "O", "R", 1.0), (102, "O", "N", 1.0)]
    li += [(103, "O", "R", 1.0), (103, "O", "N", 1.0)]
    # channel F: one part, full returns
    li += [(201, "F", "R", 4.0)]
    d = _tpch(spark, tmp_path, lineitem=(
        [(p, ls, rf, q) for p, ls, rf, q in li],
        "l_partkey LONG, l_linestatus STRING, l_returnflag STRING, "
        "l_quantity DOUBLE"))
    got = [(r.ch, r.l_partkey, r.ratio_ppm, r.rk) for r in
           registry.QUERIES["b119_return_ratio_topk"](spark, d)
           .collect()]
    assert got == [
        ("F", 201, 1000000, 1),
        ("O", 102, 500000, 1),          # tie with 103 → partkey order
        ("O", 103, 500000, 2),
        ("O", 101, 333333, 3),          # floor(1000000/3)
    ]


def test_b120_quarter_average_boundary_inclusive(spark, tmp_path):
    """B120 crafted pin: rev·4·count ≤ sum is INCLUSIVE — three items
    at exactly 25% of their group average survive, the heavy item and
    a single-item group drop."""
    li = ([(1, p, r) for p, r in ((1, 1.0), (2, 1.0), (3, 1.0),
                                  (4, 13.0))]
          + [(2, 9, 5.0)])
    d = _tpch(spark, tmp_path, lineitem=(
        li, "l_suppkey LONG, l_partkey LONG, l_extendedprice DOUBLE"))
    got = [(r.l_suppkey, r.l_partkey, r.rev) for r in
           registry.QUERIES["b120_below_avg_items"](spark, d).collect()]
    # supplier 1: sum 16, count 4 → avg 4, quarter 1 — the three 1.0
    # items sit exactly on the edge; 13.0 drops; supplier 2's single
    # item can never be ≤ a quarter of itself
    assert got == [(1, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0)]


def test_b121_cross_channel_growth_strict_and_presence(spark, tmp_path):
    """B121 crafted pin: urgent growth must STRICTLY beat rest growth
    (cross-multiplied — equal growth drops), and a customer missing
    any of the four cells drops."""
    import datetime as dt

    def rows(cust, urgent_95, urgent_96, rest_95, rest_96):
        out = []
        for total, prio, yr in ((urgent_95, "1-URGENT", 1995),
                                (urgent_96, "1-URGENT", 1996),
                                (rest_95, "5-LOW", 1995),
                                (rest_96, "5-LOW", 1996)):
            if total is not None:
                out.append((cust, prio, dt.date(yr, 6, 1), total))
        return out

    orders = (rows(1, 10.0, 30.0, 10.0, 20.0)    # 3x vs 2x → keep
              + rows(2, 10.0, 20.0, 10.0, 30.0)  # 2x vs 3x → drop
              + rows(3, 10.0, 20.0, 10.0, 20.0)  # equal → drop (strict)
              + rows(4, None, 20.0, 10.0, 20.0))  # missing a cell → drop
    d = _tpch(spark, tmp_path, orders=(
        orders, "o_custkey LONG, o_orderpriority STRING, "
                "o_orderdate DATE, o_totalprice DOUBLE"))
    got = [(r.o_custkey, r.urgent_1995, r.urgent_1996) for r in
           registry.QUERIES["b121_growth_vs_channel"](spark, d)
           .collect()]
    assert got == [(1, 10.0, 30.0)]


def test_b122_subtotals_rank_against_siblings_only(spark, tmp_path):
    """B122 crafted pin: leaves rank against sibling leaves under
    their parent, subtotals against sibling subtotals, the grand total
    alone — and equal measures resolve by the NULLS FIRST tiebreaks."""
    li = [("A", "F", 2.0), ("A", "O", 4.0), ("N", "O", 3.0)]
    d = _tpch(spark, tmp_path, lineitem=(
        li, "l_returnflag STRING, l_linestatus STRING, "
            "l_quantity DOUBLE"))
    got = [(r.rf, r.ls, r.qty_ppm, r.lochierarchy, r.rk) for r in
           registry.QUERIES["b122_rollup_level_rank"](spark, d)
           .collect()]
    assert got == [
        (None, None, 3_000_000, 2, 1),          # grand total, alone
        ("A", None, 3_000_000, 1, 1),           # subtotal tie → rf order
        ("N", None, 3_000_000, 1, 2),
        ("A", "F", 2_000_000, 0, 1),            # A's leaves compete
        ("A", "O", 4_000_000, 0, 2),
        ("N", "O", 3_000_000, 0, 1),            # N's leaf, own partition
    ]


def test_b123_dispersion_gate_and_calendar_adjacency(spark, tmp_path):
    """B123 crafted pin: the integer cov gate (8(a-b)^2 vs (a+b)^2 at
    n=2) admits high-dispersion months only, pairs need BOTH months
    dispersed AND calendar-adjacent (a gap month breaks the pair), and
    n=1 months are excluded outright."""
    import datetime as dt

    def mon(m, *qtys):
        return [("A", "F", dt.date(1995, m, 10 + i), float(q))
                for i, q in enumerate(qtys)]

    li = (mon(1, 1, 5)      # dispersed: 8*16=128 >= 36
          + mon(2, 1, 6)    # dispersed: 8*25=200 >= 49 → pair at Feb
          + mon(3, 4, 5)    # NOT dispersed: 8*1=8 < 81
          + mon(4, 1, 9)    # dispersed, but Mar wasn't → no pair
          + mon(5, 3)       # n=1 → excluded (sample var undefined)
          + mon(6, 1, 8))   # dispersed, but May excluded → gap → no pair
    d = _tpch(spark, tmp_path, lineitem=(
        li, "l_returnflag STRING, l_linestatus STRING, "
            "l_shipdate DATE, l_quantity DOUBLE"))
    got = [(r.rf, r.ls, r.mon, r.n, r.pn) for r in
           registry.QUERIES["b123_cov_consecutive_periods"](spark, d)
           .collect()]
    assert got == [("A", "F", dt.date(1995, 2, 1), 2, 2)]


# --- round-12 TPC-DS shapes: crafted ground-truth pins ------------------------


def test_b126_rollup_labels_and_totals(spark, tmp_path):
    """B126 crafted pin: channel tagging partitions the rows exactly
    (CASE == the literal UNION), rollup emits per-(channel, priority)
    cells, per-channel subtotals and ONE grand total, NULLs labeled
    'ALL'."""
    d = _tpch(spark, tmp_path, orders=([
        ("O", "1-URGENT", 10.0), ("O", "1-URGENT", 20.0),
        ("O", "5-LOW", 5.0), ("F", "1-URGENT", 7.0), ("P", "5-LOW", 3.0),
    ], "o_orderstatus STRING, o_orderpriority STRING, "
       "o_totalprice DOUBLE"))
    got = [(r.channel, r.priority, r.n_orders, r.total_value) for r in
           registry.QUERIES["b126_q5_channel_rollup"](spark, d).collect()]
    assert got == [
        ("ALL", "ALL", 5, 45.0),
        ("finished", "1-URGENT", 1, 7.0), ("finished", "ALL", 1, 7.0),
        ("open", "1-URGENT", 2, 30.0), ("open", "5-LOW", 1, 5.0),
        ("open", "ALL", 3, 35.0),
        ("pending", "5-LOW", 1, 3.0), ("pending", "ALL", 1, 3.0)]


def test_b127_requires_all_three_lenses(spark, tmp_path):
    """B127 crafted pin: a part missing ANY of the three event lenses
    (N/R/A) is excluded — the conditional aggregation's null test IS
    the triple inner join; per-brand sums aggregate only qualifying
    parts."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, "N", 2.0), (1, "R", 3.0), (1, "A", 5.0),     # all three
            (2, "N", 1.0), (2, "R", 1.0),                    # no A → out
            (3, "N", 4.0), (3, "N", 6.0), (3, "R", 2.0),
            (3, "A", 1.0),                                   # all three
            (4, "A", 9.0),                                   # only A → out
            (5, "N", 7.0), (5, "R", 8.0), (5, "A", 9.0),     # all three
        ], "l_partkey LONG, l_returnflag STRING, l_quantity DOUBLE"),
        part=([(1, "X"), (2, "X"), (3, "X"), (4, "Y"), (5, "Y")],
              "p_partkey LONG, p_brand STRING"))
    got = [(r.p_brand, r.n_parts, r.store_qty, r.return_qty,
            r.catalog_qty) for r in
           registry.QUERIES["b127_q17_fact_alignment"](spark, d).collect()]
    assert got == [("X", 2, 12, 5, 6), ("Y", 1, 7, 8, 9)]


def test_b128_window_boundaries_half_open(spark, tmp_path):
    """B128 crafted pin: the shifted window is half-open
    [d, d+8 days) — same-day supply matches, day d+7 matches, day d+8
    and earlier-than-d do not; quantity bounds gate both sides."""
    import datetime as dt

    def ts(m, day):
        return dt.datetime(1995, m, day)

    d = _tpch(spark, tmp_path, lineitem=([
        # demand (R, qty >= 45)
        (1, "R", 50.0, ts(1, 10)), (2, "R", 45.0, ts(2, 1)),
        (9, "R", 44.0, ts(1, 10)),              # qty < 45 → not demand
        # supply (N, qty <= 5) against part 1's Jan 10 demand
        (1, "N", 2.0, ts(1, 10)),               # same day → in
        (1, "N", 3.0, ts(1, 17)),               # d+7 → in
        (1, "N", 1.0, ts(1, 18)),               # d+8 → OUT (half-open)
        (1, "N", 1.0, ts(1, 9)),                # before → OUT
        (1, "N", 6.0, ts(1, 11)),               # qty 6 → not supply
        (2, "N", 5.0, ts(2, 5)),                # part 2 window → in
        (3, "N", 1.0, ts(1, 11)),               # no demand for part 3
    ], "l_partkey LONG, l_returnflag STRING, l_quantity DOUBLE, "
       "l_shipdate TIMESTAMP"))
    import datetime as dt2
    got = [(r.mon, r.n_pairs, r.n_parts, r.supply_qty) for r in
           registry.QUERIES["b128_q72_shifted_range_join"](spark, d)
           .collect()]
    assert got == [(dt2.date(1995, 1, 1), 2, 1, 5),
                   (dt2.date(1995, 2, 1), 1, 1, 5)]


def test_b129_order_level_existence_and_window_revenue(spark, tmp_path):
    """B129 crafted pin: existence consults the WHOLE order (multi-
    supplier + has-return), revenue counts only in-window rows of
    qualifying orders; single-supplier, no-return and out-of-window
    orders are excluded."""
    import datetime as dt

    def row(ok, sk, rf, y, m, price, disc=0.0):
        return (ok, sk, rf, dt.datetime(y, m, 1), price, disc)

    d = _tpch(spark, tmp_path, lineitem=([
        # order 1: 2 suppliers, return, both rows in window → rev 200
        row(1, 1, "N", 1995, 3, 100.0),
        row(1, 2, "R", 1995, 6, 200.0, 0.5),
        # order 2: single supplier → excluded despite return
        row(2, 1, "R", 1995, 4, 999.0), row(2, 1, "N", 1995, 5, 999.0),
        # order 3: two suppliers, no return → excluded
        row(3, 1, "N", 1995, 4, 999.0), row(3, 2, "N", 1995, 5, 999.0),
        # order 4: qualifies structurally but NO in-window row → excluded
        row(4, 1, "N", 1994, 5, 999.0), row(4, 2, "R", 1994, 6, 999.0),
        # order 5: return row out of window still counts for EXISTENCE,
        # revenue sums only the in-window row → rev 50
        row(5, 1, "N", 1995, 7, 50.0), row(5, 2, "R", 1994, 1, 999.0),
    ], "l_orderkey LONG, l_suppkey LONG, l_returnflag STRING, "
       "l_shipdate TIMESTAMP, l_extendedprice DOUBLE, "
       "l_discount DOUBLE"))
    r = registry.QUERIES["b129_q95_two_hop_exists"](spark, d).collect()[0]
    assert (r.n_orders, r.revenue) == (2, 250.0)


@pytest.mark.slow
def test_b130_group_average_gate_and_single_member_groups(spark, tmp_path):
    """B130 crafted pin: the 1.2x gate admits only members strictly
    above their group's mean x1.2 (nation 1: avg 200 -> only the 400
    return qualifies); a single-member group can never beat 1.2x its
    own average; N-flag rows never count as returns."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (10, 100.0, "R"), (20, 100.0, "R"), (30, 400.0, "R"),
            (40, 50.0, "R"),
            (11, 999.0, "N"),                  # not a return → ignored
        ], "l_orderkey LONG, l_extendedprice DOUBLE, "
           "l_returnflag STRING"),
        orders=([(10, 1), (11, 1), (20, 2), (30, 3), (40, 4)],
                "o_orderkey LONG, o_custkey LONG"),
        customer=([(1, 1), (2, 1), (3, 1), (4, 2)],
                  "c_custkey LONG, c_nationkey INT"))
    got = [(r.c_custkey, r.nation, r.ret_value) for r in
           registry.QUERIES["b130_q1_above_avg_returns"](spark, d)
           .collect()]
    assert got == [(3, 1, 400.0)]


@pytest.mark.slow
def test_b131_cells_need_both_periods(spark, tmp_path):
    """B131 crafted pin: a (priority, weekday) cell present in only one
    period drops; weekday numbering is DuckDB dow (Sunday=0); years
    outside the pair are ignored."""
    import datetime as dt
    d = _tpch(spark, tmp_path, orders=([
        ("P", dt.datetime(1996, 1, 7), 10.0),    # Sunday 1996 → dow 0
        ("P", dt.datetime(1997, 1, 5), 30.0),    # Sunday 1997 → dow 0
        ("P", dt.datetime(1996, 1, 8), 5.0),     # Monday, 1996 only → out
        ("P", dt.datetime(1998, 1, 4), 99.0),    # outside pair → ignored
    ], "o_orderpriority STRING, o_orderdate TIMESTAMP, "
       "o_totalprice DOUBLE"))
    got = [(r.priority, r.weekday, r.v_prev, r.v_cur, r.ratio) for r in
           registry.QUERIES["b131_q59_weekday_ratio"](spark, d).collect()]
    assert got == [("P", 0, 10.0, 30.0, 3.0)]


@pytest.mark.slow
def test_b132_band_boundaries_and_zero_pm(spark, tmp_path):
    """B132 crafted pin: hour bands are inclusive [6,11]/[18,23], noon
    belongs to neither, pm=0 groups are excluded (no inf/NULL rows)."""
    import datetime as dt

    def ev(t, hour):
        return (t, dt.datetime(2024, 1, 1, hour, 30))

    d = _tpch(spark, tmp_path, events=([
        ev("A", 6), ev("A", 11), ev("A", 18),
        ev("B", 12), ev("B", 23),
        ev("C", 7),                               # pm = 0 → excluded
    ], "event_type STRING, ts TIMESTAMP"))
    got = [(r.event_type, r.n_am, r.n_pm, r.am_pm_ratio) for r in
           registry.QUERIES["b132_q90_am_pm_ratio"](spark, d).collect()]
    assert got == [("A", 2, 1, 2.0), ("B", 0, 1, 0.0)]


def test_b133_excess_gate_strict_and_windowed(spark, tmp_path):
    """B133 crafted pin: only rows STRICTLY above 1.3x the item's
    window average qualify (part 1: 0.04 > 1.3x0.02; the 0.01 rows
    don't); a single-row item can't exceed its own average;
    out-of-window rows contribute to neither the average nor the
    revenue."""
    import datetime as dt
    in_win, out_win = dt.datetime(1995, 3, 1), dt.datetime(1996, 3, 1)
    d = _tpch(spark, tmp_path, lineitem=([
        (1, 0.01, 50.0, in_win), (1, 0.01, 60.0, in_win),
        (1, 0.04, 100.0, in_win),
        (2, 0.05, 999.0, in_win),
        (1, 0.99, 999.0, out_win),               # outside window
    ], "l_partkey LONG, l_discount DOUBLE, l_extendedprice DOUBLE, "
       "l_shipdate TIMESTAMP"))
    r = registry.QUERIES["b133_q92_excess_discount"](spark, d).collect()[0]
    assert (r.n_lines, r.excess_revenue) == (1, 100.0)


@pytest.mark.slow
def test_b134_decline_needs_adjacent_years(spark, tmp_path):
    """B134 crafted pin: returns NET against sales; only a decline in
    the IMMEDIATELY following year reports (a gap year breaks the
    pair); rising years don't report."""
    import datetime as dt

    def li(pk, rf, qty, y):
        return (pk, rf, float(qty), dt.datetime(y, 6, 1))

    d = _tpch(
        spark, tmp_path,
        lineitem=([
            li(1, "N", 12, 1996), li(1, "R", 2, 1996),   # X net 10
            li(1, "N", 5, 1997),                          # X net 5 ↓
            li(1, "N", 3, 1999),                          # gap → no pair
            li(2, "N", 5, 1996), li(2, "N", 7, 1997),     # Y rising
        ], "l_partkey LONG, l_returnflag STRING, l_quantity DOUBLE, "
           "l_shipdate TIMESTAMP"),
        part=([(1, "X"), (2, "Y")], "p_partkey LONG, p_brand STRING"))
    got = [(r.brand, r.yr, r.qty_prev, r.qty_cur) for r in
           registry.QUERIES["b134_q75_yoy_decline"](spark, d).collect()]
    assert got == [("X", 1997, 10, 5)]


@pytest.mark.slow
def test_b135_deviation_gate_exact_boundary(spark, tmp_path):
    """B135 crafted pin: months 100/100/130 (total 330, mean 110) —
    only the 130 month deviates by more than 10% of the mean (20 > 11;
    the 100 months sit at 10 < 11); non-1997 rows are ignored."""
    import datetime as dt
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 100.0, dt.datetime(1997, 1, 5)),
            (1, 100.0, dt.datetime(1997, 2, 5)),
            (1, 130.0, dt.datetime(1997, 3, 5)),
            (1, 999.0, dt.datetime(1996, 3, 5)),     # wrong year
        ], "l_partkey LONG, l_extendedprice DOUBLE, "
           "l_shipdate TIMESTAMP"),
        part=([(1, "X")], "p_partkey LONG, p_brand STRING"))
    got = [(r.brand, r.mon, r.month_value) for r in
           registry.QUERIES["b135_q89_monthly_deviation"](spark, d)
           .collect()]
    assert got == [("X", dt.date(1997, 3, 1), 130.0)]


@pytest.mark.slow
def test_b136_integer_ratio_boundary_inclusive(spark, tmp_path):
    """B136 crafted pin: the integer cross-multiplication gate keeps
    the EXACT 3/2 boundary (bef 30 / aft 20: 2x30 == 3x20 → in), drops
    4:1 and 10:16 imbalances and bef=0 items; out-of-window rows are
    invisible."""
    import datetime as dt
    may, jun = dt.datetime(1997, 5, 10), dt.datetime(1997, 6, 10)
    far = dt.datetime(1997, 1, 1)
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 30.0, may), (1, 20.0, jun),       # ratio 3/2 exact → in
            (2, 40.0, may), (2, 10.0, jun),       # 4:1 → out
            (3, 10.0, may), (3, 16.0, jun),       # 10:16 → out
            (4, 5.0, jun),                        # bef 0 → out
            (1, 99.0, far),                       # out of window
        ], "l_partkey LONG, l_quantity DOUBLE, l_shipdate TIMESTAMP"),
        part=([(1, "X"), (2, "X"), (3, "Y"), (4, "Y")],
              "p_partkey LONG, p_brand STRING"))
    got = [(r.p_brand, r.n_parts, r.qty_before, r.qty_after) for r in
           registry.QUERIES["b136_q21_pivot_balance"](spark, d).collect()]
    assert got == [("X", 1, 30, 20)]


def test_b137_share_within_category(spark, tmp_path):
    """B137 crafted pin: shares divide each brand's exact revenue by
    its OWN category's total (cross-category totals must not leak);
    a single-brand category gets share 1.0."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, 30.0), (2, 70.0), (3, 50.0)],
                  "l_partkey LONG, l_extendedprice DOUBLE"),
        part=([(1, "T1", "A"), (2, "T1", "B"), (3, "T2", "C")],
              "p_partkey LONG, p_type STRING, p_brand STRING"))
    got = [(r.cat, r.brand, r.revenue, r.share) for r in
           registry.QUERIES["b137_q98_revenue_share"](spark, d).collect()]
    assert got == [("T1", "A", 30.0, 30.0 / 100.0),
                   ("T1", "B", 70.0, 70.0 / 100.0),
                   ("T2", "C", 50.0, 1.0)]


def test_b138_not_exists_gates_negatively(spark, tmp_path):
    """B138 crafted pin: a return ANYWHERE in the order disqualifies it
    (NOT EXISTS), single-supplier and out-of-window orders drop, and
    only in-window rows contribute revenue."""
    import datetime as dt

    def row(ok, sk, rf, y, m, price):
        return (ok, sk, rf, dt.datetime(y, m, 1), price, 0.0)

    d = _tpch(spark, tmp_path, lineitem=([
        row(1, 1, "N", 1996, 3, 100.0), row(1, 2, "N", 1996, 4, 50.0),
        row(2, 1, "N", 1996, 3, 999.0), row(2, 2, "R", 1996, 4, 999.0),
        row(3, 1, "N", 1996, 5, 999.0),
        row(4, 1, "N", 1995, 3, 999.0), row(4, 2, "N", 1995, 4, 999.0),
    ], "l_orderkey LONG, l_suppkey LONG, l_returnflag STRING, "
       "l_shipdate TIMESTAMP, l_extendedprice DOUBLE, "
       "l_discount DOUBLE"))
    r = registry.QUERIES["b138_q94_exists_not_exists"](spark, d) \
        .collect()[0]
    assert (r.n_orders, r.revenue) == (1, 150.0)


def test_b139_promo_boundary_strict(spark, tmp_path):
    """B139 crafted pin: the promo gate is STRICTLY > 0.05 (a 0.05
    discount is not promotional); out-of-window rows touch neither
    numerator nor denominator."""
    import datetime as dt
    in_w, out_w = dt.datetime(1996, 3, 1), dt.datetime(1997, 3, 1)
    d = _tpch(spark, tmp_path, lineitem=([
        (100.0, 0.06, in_w), (50.0, 0.05, in_w), (50.0, 0.10, in_w),
        (999.0, 0.99, out_w),
    ], "l_extendedprice DOUBLE, l_discount DOUBLE, "
       "l_shipdate TIMESTAMP"))
    r = registry.QUERIES["b139_q61_promo_ratio"](spark, d).collect()[0]
    assert (r.promo_rev, r.total_rev, r.promo_share) == (150.0, 200.0,
                                                         0.75)


def test_b140_subset_and_channel_union_totals(spark, tmp_path):
    """B140 crafted pin: only PROMO-prefixed items count, and the
    brand total equals the sum ACROSS all three channels (the union
    the literal SQL builds)."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, "N", 10.0), (1, "R", 20.0), (1, "A", 30.0),
                   (2, "N", 999.0), (3, "A", 5.0)],
                  "l_partkey LONG, l_returnflag STRING, "
                  "l_extendedprice DOUBLE"),
        part=([(1, "PROMO A", "B1"), (2, "STD B", "B9"),
               (3, "PROMO B", "B2")],
              "p_partkey LONG, p_type STRING, p_brand STRING"))
    got = [(r.p_brand, r.total_value) for r in
           registry.QUERIES["b140_q33_restricted_channels"](spark, d)
           .collect()]
    assert got == [("B1", 60.0), ("B2", 5.0)]


def test_b141_both_bands_gate(spark, tmp_path):
    """B141 crafted pin: a row must pass the size band AND the
    quantity band AND the date window; distinct parts count once."""
    import datetime as dt
    in_d, out_d = dt.datetime(1997, 6, 1), dt.datetime(1996, 6, 1)
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 25.0, 100.0, in_d),          # all bands → in
            (1, 35.0, 999.0, in_d),          # qty out
            (1, 25.0, 999.0, out_d),         # date out
            (2, 25.0, 999.0, in_d),          # size out (part 2)
            (1, 20.0, 40.0, in_d),           # qty boundary → in
        ], "l_partkey LONG, l_quantity DOUBLE, "
           "l_extendedprice DOUBLE, l_shipdate TIMESTAMP"),
        part=([(1, 15, "X"), (2, 25, "Y")],
              "p_partkey LONG, p_size INT, p_brand STRING"))
    got = [(r.p_brand, r.n_parts, r.revenue) for r in
           registry.QUERIES["b141_q82_banded_inventory"](spark, d)
           .collect()]
    assert got == [("X", 1, 140.0)]


def test_b142_band_edges_half_open(spark, tmp_path):
    """B142 crafted pin: lag bands are (lo, hi] half-open — lag 30 in
    d30, 31 in d60, 60 in d60, 61 in d90, 91 in d90p; exact integer
    day arithmetic."""
    import datetime as dt
    base = dt.datetime(1995, 1, 1)

    def li(ok, lag):
        return (ok, base + dt.timedelta(days=lag))

    d = _tpch(
        spark, tmp_path,
        lineitem=([li(1, 30), li(1, 31), li(1, 60), li(1, 61),
                   li(1, 91), li(1, 0)],
                  "l_orderkey LONG, l_shipdate TIMESTAMP"),
        orders=([(1, base, "P")],
                "o_orderkey LONG, o_orderdate TIMESTAMP, "
                "o_orderpriority STRING"))
    r = registry.QUERIES["b142_q62_lag_band_matrix"](spark, d) \
        .collect()[0]
    assert (r.priority, r.d30, r.d60, r.d90, r.d90p) == ("P", 2, 2, 1, 1)


def test_b143_quarter_cells_and_nulls(spark, tmp_path):
    """B143 crafted pin: each order lands in exactly one quarter cell;
    a quarter with no orders counts 0 and sums NULL; non-1997 rows
    are invisible."""
    import datetime as dt
    d = _tpch(spark, tmp_path, orders=([
        ("P", dt.datetime(1997, 2, 1), 10.0),
        ("P", dt.datetime(1997, 3, 31), 20.0),
        ("P", dt.datetime(1997, 10, 1), 40.0),
        ("P", dt.datetime(1996, 5, 1), 999.0),
    ], "o_orderpriority STRING, o_orderdate TIMESTAMP, "
       "o_totalprice DOUBLE"))
    r = registry.QUERIES["b143_q66_quarterly_pivot"](spark, d) \
        .collect()[0]
    assert (r.q1_n, r.q2_n, r.q3_n, r.q4_n) == (2, 0, 0, 1)
    assert (r.q1_v, r.q2_v, r.q3_v, r.q4_v) == (30.0, None, None, 40.0)


def test_b144_two_ends_distinct_and_ordered(spark, tmp_path):
    """B144 crafted pin: 12 parts — best-10 and worst-10 OVERLAP in
    the middle (parts 3..10 appear on both sides), ends are tagged,
    ordering is exact-total desc with key tiebreak (two equal totals
    order by pk)."""
    rows = [(pk, float(pk * 10)) for pk in range(1, 13)]
    rows.append((5, 0.0))                       # part 5 total stays 50
    rows[4] = (5, 50.0)
    d = _tpch(spark, tmp_path, lineitem=(
        [(pk, v) for pk, v in rows],
        "l_partkey LONG, l_extendedprice DOUBLE"))
    got = [(r.side, r.pk) for r in
           registry.QUERIES["b144_q44_two_ended_rank"](spark, d)
           .collect()]
    best = [pk for s, pk in got if s == "best"]
    worst = [pk for s, pk in got if s == "worst"]
    assert best == [12, 11, 10, 9, 8, 7, 6, 5, 4, 3]
    # output orders side-internally by total DESC, so the worst end
    # (totals 10..100) reads largest-first
    assert worst == [10, 9, 8, 7, 6, 5, 4, 3, 2, 1]


def test_b144_ties_break_by_key(spark, tmp_path):
    """B144 crafted pin: equal totals order by pk (deterministic on
    both engines)."""
    d = _tpch(spark, tmp_path, lineitem=(
        [(1, 10.0), (2, 10.0), (3, 10.0)],
        "l_partkey LONG, l_extendedprice DOUBLE"))
    got = [(r.side, r.pk) for r in
           registry.QUERIES["b144_q44_two_ended_rank"](spark, d)
           .collect()]
    assert [pk for s, pk in got if s == "best"] == [1, 2, 3]
    assert [pk for s, pk in got if s == "worst"] == [1, 2, 3]


def test_b145_bucket_edges_inclusive(spark, tmp_path):
    """B145 crafted pin: BETWEEN buckets are inclusive on both edges;
    quantities outside 1..50 fall in NO bucket (count 0, sum NULL)."""
    d = _tpch(spark, tmp_path, lineitem=(
        [(1.0, 10.0), (10.0, 20.0), (11.0, 40.0), (50.0, 80.0),
         (0.0, 999.0), (51.0, 999.0)],
        "l_quantity DOUBLE, l_extendedprice DOUBLE"))
    r = registry.QUERIES["b145_q9_bucket_battery"](spark, d).collect()[0]
    assert (r.b1_n, r.b1_v) == (2, 30.0)
    assert (r.b2_n, r.b2_v) == (1, 40.0)
    assert (r.b3_n, r.b3_v) == (0, None)
    assert (r.b5_n, r.b5_v) == (1, 80.0)


def test_b146_integer_band_edges(spark, tmp_path):
    """B146 crafted pin: integer division banding — totals 99, 100,
    199, 200 land in bands 0, 1, 1, 2; counts and band sums exact."""
    li, orders = [], []
    for ck, total in ((1, 99), (2, 100), (3, 199), (4, 200)):
        orders.append((ck * 10, ck))
        li.append((ck * 10, float(total)))
    d = _tpch(
        spark, tmp_path,
        lineitem=(li, "l_orderkey LONG, l_quantity DOUBLE"),
        orders=(orders, "o_orderkey LONG, o_custkey LONG"))
    got = [(r.band, r.n_customers, r.band_qty) for r in
           registry.QUERIES["b146_q54_band_histogram"](spark, d)
           .collect()]
    assert got == [(0, 1, 99), (1, 2, 299), (2, 1, 200)]


def test_b147_or_spans_semi_and_local(spark, tmp_path):
    """B147 crafted pin: a row qualifies via subset membership OR the
    local predicate — a high-quantity row whose part is OUTSIDE the
    subset must survive, a low-quantity outside-subset row must not;
    a duplicate subset key marks, never multiplies."""
    import datetime as dt
    ts = dt.datetime(1996, 3, 1)
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (1, 10.0, 100.0, ts),      # in subset, low qty → in (semi)
            (2, 49.0, 200.0, ts),      # outside, qty 49 → in (local)
            (2, 48.0, 999.0, ts),      # outside, qty 48 → OUT
            (1, 49.0, 400.0, ts),      # both arms → counted ONCE
        ], "l_partkey LONG, l_quantity DOUBLE, "
           "l_extendedprice DOUBLE, l_shipdate TIMESTAMP"),
        part=([(1, 3), (1, 4), (2, 9)],   # part 1 twice under size 5
              "p_partkey LONG, p_size INT"))
    got = [(r.mon, r.n, r.revenue) for r in
           registry.QUERIES["b147_q45_semi_or_local"](spark, d)
           .collect()]
    assert got == [(dt.date(1996, 3, 1), 3, 700.0)]


# --- round 12 (session 2): b148-b150 + RRF fusion + covariance pairs ---------

def test_b148_distinct_counts_per_band(spark, tmp_path):
    """B148 crafted pin: DISTINCT is PER BAND (price 10.0 appears in
    bands 1 and 3 and counts once in each), duplicate prices inside a
    band collapse, band boundaries 12/13 and 37/38 land exactly, an
    EMPTY band (band 2) yields (0, 0, NULL), out-of-range rows
    vanish."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([
            (5.0, 10.0), (6.0, 10.0), (7.0, 20.0), (12.0, 30.0),  # band 1
            (26.0, 5.0), (37.0, 5.0), (26.0, 10.0),                # band 3
            (38.0, 7.5), (50.0, 7.5),                              # band 4
            (0.0, 99.0), (51.0, 99.0),                             # outside
        ], "l_quantity DOUBLE, l_extendedprice DOUBLE"))
    r = registry.QUERIES["b148_q28_distinct_battery"](spark, d).collect()[0]
    assert (r.b1_n, r.b1_d, r.b1_v) == (4, 3, 70.0)
    assert (r.b2_n, r.b2_d, r.b2_v) == (0, 0, None)
    assert (r.b3_n, r.b3_d, r.b3_v) == (3, 2, 20.0)
    assert (r.b4_n, r.b4_d, r.b4_v) == (2, 1, 15.0)


@pytest.mark.slow
def test_b149_rank_gate_and_level_ranks(spark, tmp_path):
    """B149 crafted pin: nations NE and NF TIE at total 60 — the gate's
    deterministic (total DESC, nation) tiebreak keeps NE and drops NF
    (and NG); the rollup covers ONLY gated rows (grand total 400);
    leaves rank within their nation, subtotals within the level."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, 60.0, 0.0), (2, 40.0, 0.0), (3, 90.0, 0.0),
                   (4, 80.0, 0.0), (5, 70.0, 0.0), (6, 60.0, 0.0),
                   (7, 60.0, 0.0), (8, 40.0, 0.0)],
                  "l_suppkey LONG, l_extendedprice DOUBLE, "
                  "l_discount DOUBLE"),
        supplier=([(1, "S1", 0), (2, "S2", 0), (3, "S3", 1), (4, "S4", 2),
                   (5, "S5", 3), (6, "S6", 4), (7, "S7", 5), (8, "S8", 6)],
                  "s_suppkey LONG, s_name STRING, s_nationkey INT"),
        nation=([(0, "NA"), (1, "NB"), (2, "NC"), (3, "ND"), (4, "NE"),
                 (5, "NF"), (6, "NG")],
                "n_nationkey INT, n_name STRING"))
    got = [(r.nation, r.supp, r.revenue, r.lochierarchy, r.rk) for r in
           registry.QUERIES["b149_q70_rank_gated_rollup"](spark, d)
           .collect()]
    assert got == [
        (None, None, 400.0, 2, 1),
        ("NA", None, 100.0, 1, 1), ("NB", None, 90.0, 1, 2),
        ("NC", None, 80.0, 1, 3), ("ND", None, 70.0, 1, 4),
        ("NE", None, 60.0, 1, 5),
        ("NA", "S1", 60.0, 0, 1), ("NA", "S2", 40.0, 0, 2),
        ("NB", "S3", 90.0, 0, 1), ("NC", "S4", 80.0, 0, 1),
        ("ND", "S5", 70.0, 0, 1), ("NE", "S6", 60.0, 0, 1),
    ]


def test_b150_setop_classes(spark, tmp_path):
    """B150 crafted pin: a tuple in all three channels counts in
    n_all3; first-channel-only tuples count in n_first_only even when
    the click repeats (DISTINCT multiset semantics) or a filtered-out
    event type shares the day; partial overlaps count in neither."""
    import datetime as dt
    t1, t2 = dt.datetime(2024, 5, 1, 9), dt.datetime(2024, 5, 2, 9)
    rows = [
        (1, t1, "click"), (1, t1, "view"), (1, t1, "purchase"),  # all 3
        (2, t1, "click"), (2, t1, "click"),                      # dup click
        (3, t1, "click"), (3, t1, "view"),                       # a+b only
        (4, t1, "view"), (4, t1, "purchase"),                    # no click
        (1, t2, "click"), (1, t2, "purchase"),                   # no view
        (5, t1, "error"), (5, t1, "click"),                      # error ignored
    ]
    d = _tpch(spark, tmp_path,
              events=(rows, "user_id LONG, ts TIMESTAMP, "
                            "event_type STRING"))
    r = registry.QUERIES["b150_q38_setop_counts"](spark, d).collect()[0]
    assert (r.n_all3, r.n_first_only) == (1, 2)


def test_sim_rrf_fusion_disagreeing_rankers(spark, tmp_path):
    """C93 crafted pin: cosine and dot product order the corpus
    DIFFERENTLY (norms differ); symmetric rank pairs (1,3)/(3,1) and
    (2,4)/(4,2) fuse to EQUAL scores and fall back to the vec_id
    tiebreak — the fusion arithmetic and both rank lists are pinned.
    Expected scores: 1/61+1/63 = 0.032266, 1/62+1/64 = 0.031754."""
    rows = [
        (0, [1.0, 0.0], 0),      # query
        (1, [0.5, 0.0], 0),      # cos r1 (1.0), dot r3 (0.5)
        (2, [2.0, 0.1], 0),      # cos r3 (0.9988), dot r1 (2.0)
        (3, [0.9, 0.45], 0),     # cos r4 (0.8944), dot r2 (0.9)
        (4, [0.1, 0.0], 0),      # cos r2 (1.0, id tiebreak), dot r4
    ]
    d = _tpch(spark, tmp_path,
              embeddings=(rows, "vec_id LONG, embedding ARRAY<FLOAT>, "
                                "label INT"))
    got = [(r.vec_id, r.rrf_score) for r in
           registry.QUERIES["sim_rrf_fusion"](spark, d).collect()]
    assert got == [(1, 0.032266), (2, 0.032266),
                   (3, 0.031754), (4, 0.031754)]


def test_sim_covariance_pairs_hand_computed(spark, tmp_path):
    """C94 crafted pin vs an INDEPENDENT hand computation (neither
    engine's path): q = floor(1000x+0.5) gives rows [1,2,-3], [2,1,0],
    [3,-1,1] (the -0.003 → -3 case pins the negative-half quantizer);
    N=3, S=[6,2,-2]; cov_num(i,j) = N·Σqq − SiSj → (2,3)=-17,
    (1,3)=12, (1,2)=-9, ordered by |cov| desc. Arrow batches are
    forced to ONE ROW so the cross-batch partial-Gram merge is what
    produces the totals."""
    rows = [
        (1, [0.001, 0.002, -0.003], 0),
        (2, [0.002, 0.001, 0.0], 0),
        (3, [0.003, -0.001, 0.001], 0),
    ]
    d = _tpch(spark, tmp_path,
              embeddings=(rows, "vec_id LONG, embedding ARRAY<FLOAT>, "
                                "label INT"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        got = [(r.i, r.j, r.cov_num) for r in
               registry.QUERIES["sim_covariance_pairs"](spark, d)
               .collect()]
    finally:
        spark.conf.set(key, old)
    assert got == [(2, 3, -17), (1, 3, 12), (1, 2, -9)]


def test_sim_covariance_pairs_random_vs_numpy(spark, tmp_path):
    """C94 independent recompute: seeded random vectors, expected
    top pairs computed DIRECTLY in numpy (quantize → full Gram →
    numerators → sort) — neither engine's path; Arrow batches forced
    to 7 rows so the cross-batch partial merge carries the totals."""
    import numpy as np
    rng = np.random.RandomState(7)
    X = (rng.rand(40, 5).astype(np.float32) - 0.5)
    rows = [(int(i), [float(v) for v in X[i]], 0) for i in range(40)]
    Q = np.floor(X.astype(np.float64) * 1000.0 + 0.5).astype(np.int64)
    N, S, G = len(Q), Q.sum(axis=0), Q.T @ Q
    exp = sorted(
        ((i + 1, j + 1, int(N * G[i, j] - S[i] * S[j]))
         for i in range(5) for j in range(i + 1, 5)),
        key=lambda t: (-abs(t[2]), t[0], t[1]))[:10]
    d = _tpch(spark, tmp_path,
              embeddings=(rows, "vec_id LONG, embedding ARRAY<FLOAT>, "
                                "label INT"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = [(r.i, r.j, r.cov_num) for r in
               registry.QUERIES["sim_covariance_pairs"](spark, d)
               .collect()]
    finally:
        spark.conf.set(key, old)
    assert got == exp


def test_sim_rrf_fusion_random_vs_python(spark, tmp_path):
    """C93 independent recompute: seeded random corpus; ranks and the
    fused ordering recomputed in PLAIN PYTHON (left-fold dot products
    mirroring Spark's aggregate(zip_with) evaluation order, half-up
    rounding) — neither engine's SQL path."""
    import math
    import numpy as np
    rng = np.random.RandomState(11)
    X = (rng.rand(30, 4).astype(np.float32) - 0.5)
    rows = [(int(i), [float(v) for v in X[i]], 0) for i in range(30)]
    Xd = X.astype(np.float64)

    def fdot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def r(v, p):
        m = 10 ** p
        return (math.floor(v * m + 0.5) / m if v >= 0
                else -math.floor(-v * m + 0.5) / m)

    qv = Xd[0]
    qn = math.sqrt(fdot(qv, qv))
    base = []
    for i in range(1, 30):
        dp = fdot(Xd[i], qv)
        cs = dp / (math.sqrt(fdot(Xd[i], Xd[i])) * qn)
        base.append((i, r(cs, 4), r(dp, 4)))
    l1 = sorted(base, key=lambda t: (-t[1], t[0]))[:20]
    l2 = sorted(base, key=lambda t: (-t[2], t[0]))[:20]
    rk1 = {t[0]: k + 1 for k, t in enumerate(l1)}
    rk2 = {t[0]: k + 1 for k, t in enumerate(l2)}
    fused = [(v, r((1.0 / (60 + rk1[v]) if v in rk1 else 0.0)
                   + (1.0 / (60 + rk2[v]) if v in rk2 else 0.0), 6))
             for v in set(rk1) | set(rk2)]
    exp = sorted(fused, key=lambda t: (-t[1], t[0]))[:10]
    d = _tpch(spark, tmp_path,
              embeddings=(rows, "vec_id LONG, embedding ARRAY<FLOAT>, "
                                "label INT"))
    got = [(r_.vec_id, r_.rrf_score) for r_ in
           registry.QUERIES["sim_rrf_fusion"](spark, d).collect()]
    assert got == exp


def test_b150_random_vs_python_setops(spark, tmp_path):
    """B150 independent recompute: seeded random event stream, both
    counts recomputed with PLAIN PYTHON set algebra."""
    import datetime as dt
    import random
    rnd = random.Random(5)
    types = ["click", "view", "purchase", "error"]
    rows = [(rnd.randint(1, 12),
             dt.datetime(2024, 3, rnd.randint(1, 6), rnd.randint(0, 23)),
             rnd.choice(types)) for _ in range(300)]
    sets = {t: {(u, ts.date()) for (u, ts, ty) in rows if ty == t}
            for t in ("click", "view", "purchase")}
    exp = (len(sets["click"] & sets["view"] & sets["purchase"]),
           len(sets["click"] - sets["view"] - sets["purchase"]))
    d = _tpch(spark, tmp_path,
              events=(rows, "user_id LONG, ts TIMESTAMP, "
                            "event_type STRING"))
    got = registry.QUERIES["b150_q38_setop_counts"](spark, d).collect()[0]
    assert (got.n_all3, got.n_first_only) == exp


# --- round 13: b153-b160 TPC-DS shape pins -------------------------------------


def test_b153_growth_chain_strictness_and_presence(spark, tmp_path):
    """B153 crafted pin: cust 1 passes (high growth 3× beats both 2×);
    cust 2 TIES the urgent comparison (strict > excludes); cust 3 is
    missing one cell (six-way inner-join presence excludes); cust 4
    TIES the rest comparison (excluded)."""
    import datetime as dt
    p1, p2 = dt.datetime(1995, 3, 1), dt.datetime(1998, 3, 1)

    def rows(k, u1, u2, h1, h2, r1=None, r2=None):
        out = [(k, "1-URGENT", p1, u1), (k, "1-URGENT", p2, u2),
               (k, "2-HIGH", p1, h1), (k, "2-HIGH", p2, h2)]
        if r1 is not None:
            out.append((k, "5-LOW", p1, r1))
        if r2 is not None:
            out.append((k, "5-LOW", p2, r2))
        return out

    d = _tpch(spark, tmp_path, orders=(
        rows(1, 10.0, 20.0, 10.0, 30.0, 10.0, 20.0)
        + rows(2, 10.0, 20.0, 10.0, 20.0, 10.0, 10.0)
        + rows(3, 10.0, 20.0, 10.0, 30.0, None, 20.0)
        + rows(4, 10.0, 20.0, 10.0, 30.0, 10.0, 30.0),
        "o_custkey LONG, o_orderpriority STRING, "
        "o_orderdate TIMESTAMP, o_totalprice DOUBLE"))
    got = [tuple(r) for r in
           registry.QUERIES["b153_q4_growth_chain"](spark, d).collect()]
    assert got == [(1, 10.0, 30.0, 10.0, 20.0, 10.0, 20.0)]


def test_b154_exact_ppm_ordering_and_window_filter(spark, tmp_path):
    """B154 crafted pin: cross-level ordering by the exact integer ppm
    mixes leaves, subtotals and the grand total deterministically;
    rows outside the shipdate window never count."""
    import datetime as dt
    ship = dt.datetime(1997, 1, 1)
    out = dt.datetime(1995, 1, 1)          # outside [1996, 1999)
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, 1.0, ship), (1, 2.0, ship), (2, 4.0, ship),
                   (3, 2.0, ship), (4, 100.0, out)],
                  "l_partkey LONG, l_quantity DOUBLE, "
                  "l_shipdate TIMESTAMP"),
        part=([(1, "B1", "T1"), (2, "B1", "T2"), (3, "B2", "T1"),
               (4, "B9", "T9")],
              "p_partkey LONG, p_brand STRING, p_type STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b154_q22_qoh_rollup"](spark, d).collect()]
    assert got == [
        ("B1", "T1", 1_500_000, 0),
        ("B2", None, 2_000_000, 1),
        ("B2", "T1", 2_000_000, 0),
        (None, None, 2_250_000, 2),
        ("B1", None, 2_333_333, 1),
        ("B1", "T2", 4_000_000, 0),
    ]


@pytest.mark.slow
def test_b155_gate_boundaries(spark, tmp_path):
    """B155 crafted pin: ret exactly AT 1.2× the nation average is
    excluded (strict >, exact decimal cross-multiplication); a
    single-customer nation can never pass (ret = avg); non-'R' rows
    never enter the return totals."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, 10.0, 0.0, "R"), (2, 2.0, 0.0, "R"),
                   (2, 100.0, 0.0, "N"),           # not a return
                   (3, 6.0, 0.0, "R"), (4, 4.0, 0.0, "R"),
                   (5, 5.0, 0.0, "R")],
                  "l_orderkey LONG, l_extendedprice DOUBLE, "
                  "l_discount DOUBLE, l_returnflag STRING"),
        orders=([(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)],
                "o_orderkey LONG, o_custkey LONG"),
        customer=([(1, "C1", 0), (2, "C2", 0), (3, "C3", 1),
                   (4, "C4", 1), (5, "C5", 2)],
                  "c_custkey LONG, c_name STRING, c_nationkey INT"),
        nation=([(0, "NA"), (1, "NB"), (2, "NC")],
                "n_nationkey INT, n_name STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b155_q30_state_return_gate"](spark, d)
           .collect()]
    # NA: rets {10, 2}: 10·2·5=100 > 12·6=72 ✓, 2 ✗.
    # NB: rets {6, 4}: 6·2·5=60 vs 10·6=60 — equality ✗ (boundary).
    # NC: single ret 5: 25 vs 30 ✗.
    assert got == [(1, "C1", "NA", 10.0)]


def test_b156_band_bounds_and_common_conjunct(spark, tmp_path):
    """B156 crafted pin: BETWEEN bounds are inclusive both ends; the
    common status conjunct applies to every band; a segment matching
    one band's attributes but another band's range does not leak."""
    d = _tpch(
        spark, tmp_path,
        orders=([(1, "F", "1-URGENT", 50000.0),     # at lower bound ✓
                 (2, "F", "1-URGENT", 150000.0),    # at upper bound ✓
                 (3, "F", "1-URGENT", 49999.99),    # below ✗
                 (4, "O", "1-URGENT", 60000.0),     # wrong status ✗
                 (5, "F", "2-HIGH", 100000.0),      # band2 ✓
                 (6, "F", "3-MEDIUM", 10000.0),     # band3 ✓
                 (7, "F", "1-URGENT", 50000.0)],    # AUTOMOBILE+URGENT ✗
                "o_custkey LONG, o_orderstatus STRING, "
                "o_orderpriority STRING, o_totalprice DOUBLE"),
        customer=([(1, "BUILDING"), (2, "BUILDING"), (3, "BUILDING"),
                   (4, "BUILDING"), (5, "MACHINERY"), (6, "AUTOMOBILE"),
                   (7, "AUTOMOBILE")],
                  "c_custkey LONG, c_mktsegment STRING"))
    r = registry.QUERIES["b156_q13_demographic_bands"](spark, d) \
        .collect()[0]
    assert (r.n_orders, r.revenue, r.n_band1, r.n_band2, r.n_band3) \
        == (4, 310000.0, 2, 1, 1)


@pytest.mark.slow
def test_b157_null_groups_are_real_groups(spark, tmp_path):
    """B157 crafted pin: each channel's literal-NULL dimensions group
    as REAL groups, distinct across channels; the customer leg joins
    only where it must."""
    import datetime as dt
    d = _tpch(
        spark, tmp_path,
        orders=([(1, 1, "A", dt.datetime(1995, 6, 1), 10.0),
                 (2, 1, "B", dt.datetime(1995, 7, 1), 20.0)],
                "o_orderkey LONG, o_custkey LONG, o_orderpriority "
                "STRING, o_orderdate TIMESTAMP, o_totalprice DOUBLE"),
        lineitem=([(dt.datetime(1996, 1, 1), 5.0)],
                  "l_shipdate TIMESTAMP, l_extendedprice DOUBLE"),
        customer=([(1, "SEG1")],
                  "c_custkey LONG, c_mktsegment STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b157_q76_null_channel_report"](spark, d)
           .collect()]
    assert got == [
        ("cust", 1995, "SEG1", None, 2, 30.0),
        ("line", 1996, None, None, 1, 5.0),
        ("ord", 1995, None, "A", 1, 10.0),
        ("ord", 1995, None, "B", 1, 20.0),
    ]


@pytest.mark.slow
def test_b158_mismatch_only_and_tie_order(spark, tmp_path):
    """B158 crafted pin: only (supplier nation ≠ customer nation) pairs
    survive; per-(order, nation) revenues aggregate before the join;
    revenue ties order deterministically by (orderkey, nation)."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, 1, 10.0, 0.0), (1, 2, 8.0, 0.0), (1, 2, 2.0, 0.0),
                   (2, 1, 10.0, 0.0)],
                  "l_orderkey LONG, l_suppkey LONG, "
                  "l_extendedprice DOUBLE, l_discount DOUBLE"),
        supplier=([(1, 0), (2, 1)],
                  "s_suppkey LONG, s_nationkey INT"),
        orders=([(1, 1), (2, 2)], "o_orderkey LONG, o_custkey LONG"),
        customer=([(1, "C1", 0), (2, "C2", 1)],
                  "c_custkey LONG, c_name STRING, c_nationkey INT"),
        nation=([(0, "N0"), (1, "N1")],
                "n_nationkey INT, n_name STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b158_q46_city_mismatch_pairs"](spark, d)
           .collect()]
    assert got == [(1, "C1", "N0", "N1", 10.0),
                   (2, "C2", "N1", "N0", 10.0)]


@pytest.mark.slow
def test_b159_dim_gate_strict_and_having_floor(spark, tmp_path):
    """B159 crafted pin: a part exactly AT its category average is
    excluded (strict >); the HAVING floor keeps a nation at exactly 10
    qualifying items and drops one at 9."""
    part = [(1, "T1", 10.0), (2, "T1", 20.0),
            (3, "T2", 10.0), (4, "T2", 10.0)]   # T2: both AT avg ✗
    li = ([(k, 2) for k in range(1, 11)]          # 10 rows, part 2, NA
          + [(k, 2) for k in range(11, 20)]       # 9 rows, part 2, NB
          + [(k, 1) for k in range(1, 6)]         # cheap part — ignored
          + [(k, 3) for k in range(1, 6)])        # gated-out type
    orders = [(k, 1 if k <= 10 else 2) for k in range(1, 20)]
    d = _tpch(
        spark, tmp_path,
        part=(part, "p_partkey LONG, p_type STRING, "
                    "p_retailprice DOUBLE"),
        lineitem=(li, "l_orderkey LONG, l_partkey LONG"),
        orders=(orders, "o_orderkey LONG, o_custkey LONG"),
        customer=([(1, 0), (2, 1)], "c_custkey LONG, c_nationkey INT"),
        nation=([(0, "NA"), (1, "NB")],
                "n_nationkey INT, n_name STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b159_q6_dim_avg_gate"](spark, d).collect()]
    assert got == [("NA", 10)]


@pytest.mark.slow
def test_b160_netting_coalesce_and_negative(spark, tmp_path):
    """B160 crafted pin: an order without returns nets at gross (LEFT
    JOIN + COALESCE, never dropped); returns exceeding gross net
    NEGATIVE; non-'R' rows never net; rollup levels order correctly.
    A hypothetical FOURTH status (order 4, 'X') must DROP — the oracle
    enumerates exactly the O/F/P legs, so the engine filters the same
    domain instead of folding unknowns into 'pend' (VERDICT r13
    What's-wrong #3)."""
    d = _tpch(
        spark, tmp_path,
        orders=([(1, "O", "P1", 100.0), (2, "F", "P1", 50.0),
                 (3, "P", "P2", 20.0), (4, "X", "P9", 77.0)],
                "o_orderkey LONG, o_orderstatus STRING, "
                "o_orderpriority STRING, o_totalprice DOUBLE"),
        lineitem=([(1, 30.0, 0.0, "R"), (1, 999.0, 0.0, "N"),
                   (3, 20.0, 0.0, "R"), (3, 5.0, 0.0, "R")],
                  "l_orderkey LONG, l_extendedprice DOUBLE, "
                  "l_discount DOUBLE, l_returnflag STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b160_q80_netted_channel_rollup"](spark, d)
           .collect()]
    assert got == [
        (None, None, 3, 115.0, 2),
        ("done", None, 1, 50.0, 1),
        ("open", None, 1, 70.0, 1),
        ("pend", None, 1, -5.0, 1),
        ("done", "P1", 1, 50.0, 0),
        ("open", "P1", 1, 70.0, 0),
        ("pend", "P2", 1, -5.0, 0),
    ]


# --- round 14: b161-b166 TPC-DS shape pins -------------------------------------


def test_b161_leg_presence_and_coalesce(spark, tmp_path):
    """B161 crafted pin: a month with ONLY 'R' lineitem rows must not
    mint a supply leg (supply sales NULL → leg absent) even though it
    carries ord-channel returns; a month absent from orders minting a
    supply leg nets returns 0 (COALESCE); P-order returns in a month
    without supply sales vanish with their leg; rollup levels order."""
    import datetime as dt

    def ts(m, d=15):
        return dt.datetime(1996, m, d)

    d = _tpch(
        spark, tmp_path,
        orders=([(1, "O", 100.0, ts(1)), (2, "P", 50.0, ts(2))],
                "o_orderkey LONG, o_orderstatus STRING, "
                "o_totalprice DOUBLE, o_orderdate TIMESTAMP"),
        lineitem=([(1, 30.0, 0.0, "R", ts(1)),
                   (2, 20.0, 0.0, "N", ts(3)),
                   (3, 5.0, 0.0, "R", ts(4))],
                  "l_orderkey LONG, l_extendedprice DOUBLE, "
                  "l_discount DOUBLE, l_returnflag STRING, "
                  "l_shipdate TIMESTAMP"))
    got = [tuple(r) for r in
           registry.QUERIES["b161_q77_channel_pnl"](spark, d).collect()]
    assert got == [
        (None, None, 170.0, 30.0, 140.0, 2),
        ("ord", None, 150.0, 30.0, 120.0, 1),
        ("supply", None, 20.0, 0.0, 20.0, 1),
        ("ord", 1, 100.0, 30.0, 70.0, 0),
        ("ord", 2, 50.0, 0.0, 50.0, 0),
        ("supply", 3, 20.0, 0.0, 20.0, 0),
    ]
    # month 4 (R-only lineitem): no leg anywhere — its returns have no
    # sales side in EITHER channel; month 2's P-returns rode the ord
    # leg's sales but never minted a supply leg


def test_b162_53_week_alignment_boundary(spark, tmp_path):
    """B162 crafted pin: the year-over-year join aligns week w with
    w+53 EXACTLY — week 52 must not pair with week 0; weekdays missing
    on either side yield NULL ppm; the epoch Monday lands in week 0
    day 0 and 371 days later (1996-01-01) in week 53 day 0."""
    import datetime as dt
    d = _tpch(
        spark, tmp_path,
        orders=([(1, 1.0, dt.datetime(1994, 12, 26)),   # w0  d0
                 (2, 2.0, dt.datetime(1995, 1, 1)),     # w0  d6
                 (3, 4.0, dt.datetime(1996, 1, 1)),     # w53 d0
                 (4, 8.0, dt.datetime(1995, 12, 25))],  # w52 d0
                "o_orderkey LONG, o_totalprice DOUBLE, "
                "o_orderdate TIMESTAMP"))
    got = [tuple(r) for r in
           registry.QUERIES["b162_q2_week_share"](spark, d).collect()]
    # only (w0, w53) aligns: mon 100c vs 400c → 250000 ppm; Sunday has
    # no w53 counterpart → NULL; w52 pairs with nothing (w105 absent)
    assert got == [(0, 250000, None, None, None, None, None, None)]


def test_b163_month_windows_gate_each_lens(spark, tmp_path):
    """B163 crafted pin: the sale lens admits ONLY the anchor month;
    return/repeat lenses admit the anchor-to-+3 window; a lens outside
    its window (or in the wrong year) nulls out and the item drops —
    per-lens windows, not one shared date filter."""
    import datetime as dt

    def ship(y, m):
        return dt.datetime(y, m, 10)

    rows = [
        # part 1: N@96-04, R@96-05, A@96-07 → qualifies
        (1, 10.0, 0.0, "N", ship(1996, 4)),
        (1, 5.0, 0.0, "R", ship(1996, 5)),
        (1, 2.0, 0.0, "A", ship(1996, 7)),
        # part 2: sale in month 5 (outside anchor) → store lens NULL
        (2, 10.0, 0.0, "N", ship(1996, 5)),
        (2, 5.0, 0.0, "R", ship(1996, 5)),
        (2, 2.0, 0.0, "A", ship(1996, 5)),
        # part 3: return in month 8 (outside window) → return lens NULL
        (3, 10.0, 0.0, "N", ship(1996, 4)),
        (3, 5.0, 0.0, "R", ship(1996, 8)),
        (3, 2.0, 0.0, "A", ship(1996, 5)),
        # part 4: repeat in the WRONG YEAR, right months → lens NULL
        (4, 10.0, 0.0, "N", ship(1996, 4)),
        (4, 5.0, 0.0, "R", ship(1996, 4)),
        (4, 2.0, 0.0, "A", ship(1995, 5)),
    ]
    d = _tpch(
        spark, tmp_path,
        lineitem=(rows, "l_partkey LONG, l_extendedprice DOUBLE, "
                        "l_discount DOUBLE, l_returnflag STRING, "
                        "l_shipdate TIMESTAMP"),
        part=([(1, "B1"), (2, "B1"), (3, "B1"), (4, "B1")],
              "p_partkey LONG, p_brand STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b163_q25_three_lens"](spark, d).collect()]
    assert got == [("B1", 1, 10.0, 5.0, 2.0)]


@pytest.mark.slow
def test_b164_gate_is_strict_and_pairs_dedup(spark, tmp_path):
    """B164 crafted pin: total 60 over 3 pairs → the 5%-of-mean gate
    sits exactly at 1.0; the customer AT the boundary (paid 1.0) is
    EXCLUDED (strict >), the customer above (2.0, summed from TWO
    lineitem rows of the same pair — the dedup) is kept; a customer
    with no small-part pairs never appears."""
    d = _tpch(
        spark, tmp_path,
        orders=([(10, 1), (20, 2), (30, 3)],
                "o_orderkey LONG, o_custkey LONG"),
        lineitem=([(10, 1, 1.2, 0.0), (10, 1, 0.8, 0.0),
                   (20, 2, 57.0, 0.0), (30, 3, 1.0, 0.0)],
                  "l_orderkey LONG, l_partkey LONG, "
                  "l_extendedprice DOUBLE, l_discount DOUBLE"),
        part=([(1, 1), (2, 10), (3, 2)],
              "p_partkey LONG, p_size INT"))
    got = [tuple(r) for r in
           registry.QUERIES["b164_q24_dedup_mean_gate"](spark, d).collect()]
    assert got == [(1, 2.0)]


@pytest.mark.slow
def test_b165_b166_window_and_gate_complement(spark, tmp_path):
    """B165/B166 crafted pin: the two gates partition the
    anchor-present customers — Q10 keeps anchor AND (other OR other),
    Q69 keeps anchor AND NEITHER; out-of-window presence never counts;
    customers without the anchor never appear in either."""
    import datetime as dt

    def o(k, c, s, y):
        return (k, c, s, 10.0, dt.datetime(y, 6, 1))

    d = _tpch(
        spark, tmp_path,
        orders=([o(1, 1, "O", 1996), o(2, 1, "F", 1997),
                 o(3, 2, "O", 1996),
                 o(4, 3, "O", 1995), o(5, 3, "F", 1996),
                 o(6, 4, "F", 1996), o(7, 4, "P", 1996),
                 o(8, 5, "O", 1996), o(9, 5, "P", 1996)],
                "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
                "o_totalprice DOUBLE, o_orderdate TIMESTAMP"),
        customer=([(1, "SEG_A", -5.0, 0), (2, "SEG_A", 3.0, 0),
                   (3, "SEG_B", 1.0, 1), (4, "SEG_B", 1.0, 1),
                   (5, "SEG_B", 10.0, 1)],
                  "c_custkey LONG, c_mktsegment STRING, "
                  "c_acctbal DOUBLE, c_nationkey INT"),
        nation=([(0, "ALPHA"), (1, "BETA")],
                "n_nationkey INT, n_name STRING"))
    q10 = [tuple(r) for r in
           registry.QUERIES["b165_q10_prospect_profile"](spark, d).collect()]
    # c1 (O+F, bal<0) and c5 (O+P, bal>0); c3's O is out-of-window
    assert q10 == [("SEG_A", 1, 0), ("SEG_B", 1, 1)]
    q69 = [tuple(r) for r in registry.QUERIES[
        "b166_q69_state_gated_demographics"](spark, d).collect()]
    # only c2: anchor present, F/P absent in window
    assert q69 == [("SEG_A", "ALPHA", 1)]


def test_b167_gate_counts_family_not_self(spark, tmp_path):
    """B167 crafted pin: the gate counts BAND-matching items of the
    same family — an item outside the outer size range never appears
    even when its family qualifies, and a family whose only items
    miss both bands is dropped entirely (count 0, not NULL-kept)."""
    d = _tpch(
        spark, tmp_path,
        part=([(1, "n_in_band", "B1", "PROMO", 5),
               (2, "n_family_rides", "B1", "LARGE", 18),
               (3, "n_too_big", "B1", "PROMO", 30),
               (4, "n_no_band", "B2", "LARGE", 10),
               (5, "n_wrong_size_band", "B3", "PROMO", 15)],
              "p_partkey LONG, p_name STRING, p_brand STRING, "
              "p_type STRING, p_size INT"))
    got = [r.p_name for r in
           registry.QUERIES["b167_q41_dim_only_gate"](spark, d).collect()]
    # B1 qualifies via part 1 (PROMO size 5): parts 1, 2 pass the
    # outer 1-20 size range, part 3 (size 30) does not; B2 has no
    # band match; B3's PROMO is size 15 — outside the PROMO 1-10 band
    assert got == ["n_family_rides", "n_in_band"]


@pytest.mark.slow
def test_b168_integer_average_split_is_exact_floor(spark, tmp_path):
    """B168 crafted pin: the two-step average split equals
    floor(S·10⁶/n) exactly — a group of 3 rows with quantity sum 10
    averages 3333333 ppm (not 3333334, not a float), at every rollup
    level including the grand total."""
    d = _tpch(
        spark, tmp_path,
        lineitem=([(1, 2.0, 1.0, 0.0, "N"), (1, 3.0, 1.0, 0.0, "N"),
                   (1, 5.0, 1.0, 0.0, "N")],
                  "l_suppkey LONG, l_quantity DOUBLE, "
                  "l_extendedprice DOUBLE, l_discount DOUBLE, "
                  "l_returnflag STRING"),
        supplier=([(1, 0)], "s_suppkey LONG, s_nationkey INT"),
        nation=([(0, "ALPHA")], "n_nationkey INT, n_name STRING"))
    got = [tuple(r) for r in
           registry.QUERIES["b168_q18_avg_rollup"](spark, d).collect()]
    assert got == [
        (None, None, 3, 3333333, 100000000, 0, 2),
        ("ALPHA", None, 3, 3333333, 100000000, 0, 1),
        ("ALPHA", "N", 3, 3333333, 100000000, 0, 0),
    ]


def test_b169_band_boundaries_inclusive(spark, tmp_path):
    """B169 crafted pin: band edges are INCLUSIVE on both ends (6 and
    11 are am; 18 and 23 are pm); hours 5, 12 and 17 fall in no band
    and vanish; revenue stays exact at the cent."""
    import datetime as dt

    def ev(i, hh, typ, val):
        return (i, dt.datetime(2024, 1, 5, hh, 30), typ, val)

    d = _tpch(
        spark, tmp_path,
        events=([ev(1, 6, "click", 1.01), ev(2, 11, "click", 2.02),
                 ev(3, 5, "click", 50.0), ev(4, 12, "click", 60.0),
                 ev(5, 17, "view", 70.0), ev(6, 18, "view", 3.03),
                 ev(7, 23, "view", 4.04)],
                "event_id LONG, ts TIMESTAMP, event_type STRING, "
                "value DOUBLE"))
    got = [tuple(r) for r in
           registry.QUERIES["b169_q71_hour_band_report"](spark, d)
           .collect()]
    assert got == [
        ("pm", 23, "view", 1, 4.04),
        ("pm", 18, "view", 1, 3.03),
        ("am", 11, "click", 1, 2.02),
        ("am", 6, "click", 1, 1.01),
    ]
