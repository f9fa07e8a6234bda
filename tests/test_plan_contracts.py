"""Physical-plan contracts for the scale-critical operators: these
properties (pushdown, pruned read schema, broadcast strategy, top-k
operator, JVM-only evaluation) ARE the 100 TB design — assert them so a
refactor can't silently regress a plan while staying value-correct."""

from __future__ import annotations

import pytest

from olympia_spark.operators import load_all_modules, registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _load():
    load_all_modules()


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return qe.explainString(mode)


def test_projection_prunes_read_schema(spark):
    plan = _plan(registry.QUERIES["b02_projection"](spark, SF))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    # the lineitem scan must not read the wide comment/price columns
    assert all("l_comment" not in ln for ln in read), read


def test_filter_pushes_down_to_scan(spark):
    plan = _plan(registry.QUERIES["b03_filter"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThan" in ln or "EqualTo" in ln or "IsNotNull" in ln
               for ln in pushed), plan


def test_star_join_broadcasts_dimensions(spark):
    plan = _plan(registry.QUERIES["b05_star_join"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(registry.QUERIES["b17_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("name", [
    "dedup_exact", "text_token_count", "text_quality_score", "text_langid",
    "text_fingerprint", "text_redact", "data_profile", "text_url_extract",
    "data_split_stratified", "sim_topk_bruteforce", "sim_quantize_int8",
    "b36_sessionize", "b37_pivot", "b38_range_frame_window",
    "text_tfidf_topterms",
])
def test_jvm_only_operators_have_no_python_in_plan(spark, name):
    """The whole-stage-codegen family must stay JVM-side: a Python UDF
    sneaking into these plans is a 10-100x regression at scale."""
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_incremental_catalog_probe_reads_persisted_index(spark):
    """dedup_incremental_catalog's corpus side must be a parquet scan of
    the persisted signature table — NOT a recompute of the corpus shingle/
    signature DAG. The probe plan therefore contains the index warehouse
    path, and the only Generates are the BATCH side's two explodes
    (shingles, then signature positions) — a corpus recompute would add
    two more."""
    from olympia_spark.operators import dedup

    eng, cut = dedup._corpus_sig_index(spark, SF)
    corpus_sigs = eng.read_table("dedup.corpus_sigs")
    batch_sigs = dedup._minhash_sigs(dedup._with_h32(
        dedup._shingles_df(spark, SF).filter(f"doc_id >= {cut}")))
    probe = corpus_sigs.alias("x").join(batch_sigs.alias("y"), ["pid", "mh"])
    plan = _plan(probe)
    assert "olympia_dedupidx_" in plan, plan
    n_generate = sum(1 for ln in plan.splitlines()
                     if ln.strip().startswith("(") and "Generate" in ln)
    assert n_generate == 2, plan


def test_lateral_topn_decorrelates_to_window(spark):
    """The correlated LATERAL must decorrelate into one rank-window pass
    — a per-outer-row re-execution (cartesian/nested-loop over the inner
    scan) would be O(outer × inner) at scale."""
    plan = _plan(registry.QUERIES["b39_lateral_topn"](spark, SF))
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_skew_salted_join_shuffles_on_salted_key(spark):
    """The salted join must exchange on (key, salt) — SALT× the
    parallelism of the 3-value raw key — and must NOT degrade to a
    broadcast (which would erase the demonstrated shape)."""
    plan = _plan(registry.QUERIES["b40_skew_salted_join"](spark, SF))
    assert "BroadcastHashJoin" not in plan, plan
    assert "salt" in plan, plan
    exch = [ln for ln in plan.splitlines()
            if "hashpartitioning" in ln and "salt" in ln]
    assert exch, plan


def test_bloom_join_injects_might_contain_on_fact_scan(spark):
    """Under the scoped confs the optimizer must build bloom_filter_agg
    from the selective dim and inject might_contain into the fact side —
    the shuffle-volume reduction IS the operator."""
    from olympia_spark.operators import relational as rel

    def build():
        return _plan(rel._bloom_join_df(spark, SF))

    plan = rel._with_confs(spark, rel._bloom_confs(spark), build)
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    # and the confs were restored — a later plain join must not inherit it
    plan2 = _plan(rel._bloom_join_df(spark, SF))
    assert "might_contain" not in plan2, plan2


def test_not_in_plans_null_aware_anti_join(spark):
    """B45's NOT IN must lower to Catalyst's null-aware anti join
    (ExistenceJoin/NAAJ family), not a filter over a materialized
    subquery — the dedicated join type is what keeps ANSI three-valued
    semantics at shuffle scale."""
    plan = _plan(registry.QUERIES["b45_not_in_nulls"](spark, SF))
    assert "LeftAnti" in plan, plan


def test_values_join_broadcasts_literal_dim(spark):
    """B47's inline VALUES relation must broadcast; the fact side must
    not exchange for the join."""
    plan = _plan(registry.QUERIES["b47_values_join"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_vocab_topk_uses_take_ordered(spark):
    """C36's top-20 must be TakeOrderedAndProject (k rows per partition
    survive), never a global sort of the vocabulary."""
    plan = _plan(registry.QUERIES["text_vocab_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_gap_fill_broadcasts_grid_not_fact(spark):
    """B43's dense calendar grid joins the fact counts via broadcast —
    the grid is days x types, constant in fact cardinality."""
    plan = _plan(registry.QUERIES["b43_gap_fill"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("name", [
    "b42_unpivot", "b43_gap_fill", "b44_string_agg", "text_chunk_tokens",
    "text_contamination", "data_heavy_hitters", "sim_centroid",
    "text_boilerplate", "text_vocab_topk", "text_pii_stats",
    "dedup_containment",
])
def test_new_round3_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_exists_subquery_decorrelates_to_semi_anti_joins(spark):
    """B48: the correlated EXISTS / NOT EXISTS must lower to left-semi /
    left-anti joins — a per-row subquery execution would be quadratic."""
    plan = _plan(registry.QUERIES["b48_exists_subquery"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_stats_agg_single_aggregation_pass(spark):
    """B49: the six sufficient statistics must come from ONE partial+final
    aggregation (two HashAggregate layers over one exchange), not one
    pass per statistic."""
    import re
    plan = _plan(registry.QUERIES["b49_stats_agg"](spark, SF))
    # formatted explain names each physical node once in the tree and once
    # as a "(N) HashAggregate" detail header — count the headers
    n_agg = len(re.findall(r"\(\d+\) HashAggregate", plan))
    assert n_agg == 2, f"expected partial+final only, saw {n_agg}\n{plan}"


@pytest.mark.parametrize("name", [
    "b50_carry_forward", "b51_median_mode", "b52_array_setops",
    "text_repetition", "data_mixture_sample", "data_dedup_keep_best",
    "sim_knn_graph", "b48_exists_subquery", "b49_stats_agg",
])
def test_new_round4_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_array_setops_no_shuffle_before_sort(spark):
    """B52 is map-only until the final presentation sort: no Exchange may
    appear below the TakeOrdered/Sort (the array ops never leave the
    scan's partitions)."""
    plan = _plan(registry.QUERIES["b52_array_setops"](spark, SF))
    assert "hashpartitioning(" not in plan, plan


def test_mixture_sample_map_only_aggregation(spark):
    """C39: one partial+final aggregation over the scan — the sampling
    decision itself adds no exchange."""
    plan = _plan(registry.QUERIES["data_mixture_sample"](spark, SF))
    assert plan.count("hashpartitioning(") == 1, plan


def test_knn_graph_blocked_join_not_cartesian(spark):
    """C41: the pair space must come from an equi-join on the block key —
    a cartesian/BNL join would be the O(n²) trap at scale."""
    plan = _plan(registry.QUERIES["sim_knn_graph"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_external_csv_scan_pushes_filters(spark, tmp_path):
    """B53: predicates must reach the CSV scan (Spark CSV supports filter
    pushdown) — the raw-ingest scan is still not a read-everything."""
    import glob
    from olympia_spark.engine import Engine
    from olympia_spark.tables import load

    base = load(spark, SF, "events").select("event_id", "event_type")
    d = str(tmp_path / "csv")
    base.coalesce(1).write.option("header", "true").csv(d)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE raw")
    eng.register_external_table(
        "raw.ev", *sorted(glob.glob(f"{d}/*.csv")), format="csv")
    plan = _plan(eng.sql(
        "SELECT COUNT(*) AS n FROM raw.ev WHERE event_type = 'click'"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo" in ln for ln in pushed), plan


def test_bucketed_join_has_no_exchange(spark):
    """B55: both sides are bucketed on the join key — the sort-merge join
    must read bucket-to-bucket with NO exchange on either side. This IS
    the operator; losing it silently re-shuffles 100 TB per join."""
    from olympia_spark.operators.relational import _bucketed_tables
    from pyspark.sql import functions as F

    o_tbl, c_tbl = _bucketed_tables(spark, SF)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, c = spark.table(o_tbl), spark.table(c_tbl)
        joined = o.join(c, o.o_custkey == c.c_custkey)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "hashpartitioning(" not in plan, plan
        # the bucket layout also feeds a groupBy on the key shuffle-free
        agg = joined.groupBy("c_custkey").agg(F.count("*").alias("n"))
        assert "hashpartitioning(" not in _plan(agg), _plan(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_interval_join_is_equi_not_nested_loop(spark):
    """B56: the grid-cell decomposition must make the interval join an
    equi-join on (user, cell) — a BroadcastNestedLoopJoin/Cartesian means
    the theta condition leaked back into the join and the operator is
    O(n²) again."""
    plan = _plan(registry.QUERIES["b56_interval_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", [
    "b57_window_count_distinct", "b61_recursive_cte", "b62_scd2_build",
    "data_pack_sequences", "data_class_balance", "graph_pagerank",
])
def test_latest_round4_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_scd2_single_sort_for_both_window_functions(spark):
    """B62: lead(valid_to) and the is_current flag must share ONE
    exchange+sort — a second sort would double the operator's cost."""
    plan = _plan(registry.QUERIES["b62_scd2_build"](spark, SF))
    import re as _re
    n_window = len(_re.findall(r"\(\d+\) Window", plan))
    assert n_window == 1, plan


def test_bpe_pairs_partial_aggregation_and_jvm_only(spark):
    """C49: the pair count must partial-aggregate map-side (two
    HashAggregate phases around the exchange — the alphabet-bounded key
    space is the scale story) and stay out of Python."""
    plan = _plan(registry.QUERIES["text_bpe_pairs"](spark, SF))
    assert plan.count("HashAggregate") >= 2, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_hard_negatives_broadcasts_anchor_side(spark):
    """C51: the n/200 anchor relation broadcasts; candidates stream once
    (no shuffle of the full embedding table against itself)."""
    plan = _plan(registry.QUERIES["data_hard_negatives"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan


def test_url_canonical_single_exchange(spark):
    """C50: map-only canonicalization + ONE shuffle for the groupBy (a
    second exchange would mean the canonical key recomputed post-agg)."""
    import re
    plan = _plan(registry.QUERIES["dedup_url_canonical"](spark, SF))
    body = plan.split("== Physical Plan ==")[-1].split("===== Subqueries")[0]
    # two pre-aggregated exchanges: the COUNT(DISTINCT url) expand pair
    # ((canon,url) then (canon)) — both carry map-side partials
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", body, re.M))
    assert n_exchanges <= 2, body
    assert "Python" not in body, body


def test_pq_topk_broadcasts_codebook_and_stays_jvm(spark):
    """C55: the PQ codebook (128 rows) must broadcast into both the
    encode join and the ADC lookup join — the corpus never shuffles to
    meet it — and every distance is a JVM higher-order expression."""
    plan = _plan(registry.QUERIES["sim_pq_topk"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("name", ["text_c4_filter", "data_token_budget"])
def test_round5_text_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_token_budget_broadcasts_denominator(spark):
    """C58: the single-row weight denominator joins by broadcast —
    the per-source aggregate never re-shuffles to meet it."""
    plan = _plan(registry.QUERIES["data_token_budget"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan, plan


def test_q5_shape_broadcasts_dimension_chain(spark):
    """B72: supplier/nation/region must broadcast at fixture scale —
    the 6-way join's fact side shuffles on its join keys only, never to
    meet a dimension. Supplier's broadcast comes from SIZE ESTIMATION,
    not a forced hint (it scales with the corpus; a forced hint would
    OOM at 100 TB) — the source asserts no F.broadcast on supplier."""
    plan = _plan(registry.QUERIES["b72_q5_shape"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    import inspect
    from olympia_spark.operators import relational
    src = inspect.getsource(relational.b72_q5)
    assert "F.broadcast(s)" not in src, "supplier must not be force-broadcast"


def test_epoch_shuffle_has_no_window(spark):
    """C65: per-epoch heads come from TakeOrderedAndProject (parallel
    partial top-k), never a WindowExec hash-partitioned on the 3-value
    epoch key — that plan funnels the whole corpus into 3 tasks."""
    plan = _plan(registry.QUERIES["data_epoch_shuffle"](spark, SF))
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_interleave_has_no_global_window(spark):
    """C66: the global position is ARITHMETIC (fold over the broadcast
    per-source count array), never `ROW_NUMBER() OVER (ORDER BY ...)`
    with no partition key — Spark plans that as a single-partition
    exchange ("Moving all data to a single partition")."""
    df = registry.QUERIES["data_interleave_sources"](spark, SF)
    plan = _plan(df)
    # every Exchange must be hash/range-partitioned, never SinglePartition
    for ln in plan.splitlines():
        if "Exchange" in ln and "SinglePartition" in ln:
            raise AssertionError(f"single-partition exchange: {ln}\n{plan}")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hot_shingle_cap_broadcast_anti_join(spark):
    """C59: the stop-shingle list joins by BROADCAST anti join — the
    shingle stream never shuffles to subtract it."""
    plan = _plan(registry.QUERIES["dedup_hot_shingle_cap"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_ivfpq_broadcasts_and_stays_jvm(spark):
    """C62: centroids, codebook, probed-cluster list, and the query's
    distance tables all broadcast; the corpus never sort-merge-joins to
    meet them and every distance is a JVM expression."""
    plan = _plan(registry.QUERIES["sim_ivfpq_topk"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("name", [
    "data_epoch_shuffle", "data_interleave_sources", "data_length_buckets",
    "sim_matryoshka_topk", "dedup_hot_shingle_cap", "pipeline_corpus_curation",
])
def test_latest_round5_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_q10_shape_takeordered_and_broadcast(spark):
    """B76: the top-20 must be TakeOrderedAndProject (never a global
    sort of the full customer ranking) and nation must broadcast."""
    plan = _plan(registry.QUERIES["b76_q10_shape"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_curriculum_head_has_no_window(spark):
    """C68: per-band heads are TakeOrdered plans — a 5-value
    W.partitionBy(band) window would funnel the corpus into 5 tasks."""
    plan = _plan(registry.QUERIES["data_curriculum_head"](spark, SF))
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("name", [
    "text_ngram_novelty", "dedup_prefix_hash", "data_curriculum_head",
    "b76_q10_shape",
])
def test_round6_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_range_search_is_map_only_filter(spark):
    """C71: the radius predicate must be a map-side Filter over the
    single scan — no Window, no global sort of the corpus (the final
    orderBy sorts only the in-radius survivors)."""
    plan = _plan(registry.QUERIES["sim_range_search"](spark, SF))
    assert "Window" not in plan, plan
    assert "Filter" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cross_source_broadcasts_pair_set(spark):
    """C70: the near-dup pair set is O(true pairs) — it must broadcast
    to meet the documents scan, never shuffle the corpus to meet it."""
    plan = _plan(registry.QUERIES["dedup_cross_source"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["sim_mips_topk", "text_entropy_gate"])
def test_mips_and_entropy_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_mips_uses_take_ordered(spark):
    """C72: the top-10 must be TakeOrderedAndProject over the single
    scan; the max-norm scalar and query row broadcast."""
    plan = _plan(registry.QUERIES["sim_mips_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q18_shape_semi_join_and_take_ordered(spark):
    """B80: the HAVING subquery must plan as LeftSemi (one aggregation
    pass, not a per-row subquery) and the top-25 as TakeOrdered."""
    plan = _plan(registry.QUERIES["b80_q18_shape"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_label_propagation_blocked_join_no_cartesian(spark):
    """C74: unlabeled x seeds pairs come from the bucket equi-join —
    never a cartesian — and evaluation stays JVM-side."""
    plan = _plan(registry.QUERIES["sim_label_propagation"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", [
    "text_segment_dedup", "data_source_kl_drift", "data_dsir_weights",
    "dedup_semantic_cluster", "data_ppl_buckets", "text_bm25_topk",
    "dedup_winnowing", "data_host_cap", "text_token_freq_spectrum",
    "data_mad_outliers",
])
def test_round7_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


@pytest.mark.parametrize("name", ["text_ngram_logprob",
                                  "data_ppl_buckets"])
def test_bigram_lm_token_relation_has_no_doc_window(spark, name):
    """C25/C84 (r15 optimization): bigrams come from the token ARRAY
    (narrow transform+explode), not a per-doc lead() window — the window
    form shuffled and sorted the whole token relation. C84's only
    remaining Windows are the per-LANG tercile ranks over doc-sized
    rows; C25 must plan with none at all."""
    plan = _plan(registry.QUERIES[name](spark, SF))
    import re as _re
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert all("doc_id" not in s for s in specs), specs
    if name == "text_ngram_logprob":
        assert "Window" not in plan, plan


def test_mm_feature_extract_arrow_native(spark):
    """C13 (r15 optimization): the payload feature pass crosses the
    Python boundary as Arrow record batches consumed by vectorized
    buffer arithmetic — MapInArrow in the plan, never the
    pandas-materializing MapInPandas or a row UDF."""
    plan = _plan(registry.QUERIES["mm_feature_extract"](spark, SF))
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dsir_has_no_window(spark):
    """C82: bigrams are built with higher-order functions over the
    words array — a per-doc lead() window (the oracle's formulation)
    would shuffle the corpus just to pair adjacent words."""
    plan = _plan(registry.QUERIES["data_dsir_weights"](spark, SF))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan   # log-ratios broadcast back


def test_segment_dedup_no_global_window(spark):
    """C80: the first-occurrence window partitions by (doc_id, seg) —
    fine-grained keys; an un-partitioned window would serialize."""
    plan = _plan(registry.QUERIES["text_segment_dedup"](spark, SF))
    import re as _re
    # every Window in the plan must carry a partition spec with doc_id;
    # the finditer MUST match at least once or the contract is vacuous
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for s in specs:
        assert "doc_id" in s, plan


def test_kl_drift_broadcasts_vocab_stats(spark):
    """C81: per-source totals and per-word corpus counts meet the
    vocab-sized count relation via broadcast — never a corpus-sized
    sort-merge join."""
    plan = _plan(registry.QUERIES["data_source_kl_drift"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_cluster_equi_join_no_cartesian(spark):
    """C83: pair generation must ride the cluster equi-join key."""
    plan = _plan(registry.QUERIES["dedup_semantic_cluster"](spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_q7_two_role_broadcast_no_cartesian(spark):
    """B84: both nation roles broadcast; the disjunctive pair filter
    must not degrade the plan to a cartesian product."""
    plan = _plan(registry.QUERIES["b84_q7_shape"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q14_single_aggregation_pass(spark):
    """B85: numerator and denominator come from ONE HashAggregate pair
    (partial+final), not two scans of the join."""
    plan = _plan(registry.QUERIES["b85_q14_shape"](spark, SF))
    assert "PushedFilters" in plan, plan
    # one partial+final pair over the join; formatted explain mentions
    # each operator twice (tree + details) → exactly 4 occurrences
    assert plan.count("HashAggregate") == 4, plan


def test_no_literal_repartition_counts_in_operator_sources():
    """VERDICT r7 weak #1: a hard-coded numPartitions in a keyed
    repartition (repartition(16, "doc_id")) raises parallelism on the
    1-split fixture but becomes a hard task CEILING on the tokenize/
    explode/window stage at corpus scale — 16 straggler-giant tasks at
    100x, an OOM generator at 100 TB. Registry-wide contract: every
    repartition in the operator library must be keyed-only (AQE/
    shuffle.partitions size it) unless it is one of the allowlisted
    WRITE-SIDE staging sites, which control fixture FILE counts and
    never appear in a returned query plan."""
    import os
    import re
    import olympia_spark.operators as ops
    allow = {
        # (file, first-arg): write/staging sites — file-count control
        ("dml_queries.py", "8"),        # zorder fixture: 8 input files
        ("sources.py", "3"),            # COPY INTO: 3 landing drops
        ("streaming.py", "_N_STAGE_FILES"),  # stream replay staging
        ("streaming.py", "4"),          # CDC source fixture files
    }
    pat = re.compile(r"\.repartition(?:ByRange)?\(\s*([^\s\"'),]+)\s*[,)]")
    hits = []
    opdir = os.path.dirname(ops.__file__)
    for fname in sorted(os.listdir(opdir)):
        if not fname.endswith(".py"):
            continue
        src = open(os.path.join(opdir, fname)).read()
        for m in pat.finditer(src):
            arg = m.group(1)
            if (fname, arg) not in allow:
                hits.append((fname, m.group(0)))
    assert not hits, (
        f"count-based repartition outside the write-side allowlist "
        f"(use keyed-only repartition so the cluster sizes the stage): "
        f"{hits}")


@pytest.mark.parametrize("name", ["dedup_edit_distance"])
def test_keyed_repartition_has_no_fixed_count_in_plan(spark, name):
    """The tokenize-stage repartition must carry NO numPartitions in the
    optimized plan (RepartitionByExpression [k] — not [k], 16), so AQE
    and spark.sql.shuffle.partitions own the stage width."""
    df = registry.QUERIES[name](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    rep = [ln for ln in opt.splitlines() if "RepartitionByExpression" in ln]
    assert rep, opt
    import re
    assert not any(re.search(r"\],\s*\d+\s*$", ln.rstrip()) for ln in rep), rep


@pytest.mark.parametrize("name", [
    "b87_q2_shape", "b88_q12_shape", "b89_q16_shape", "b90_q19_shape",
    "data_shard_plan", "data_salt_plan", "text_line_dedup",
])
def test_round8_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_q2_decorrelates_to_grouped_min_with_broadcast_dims(spark):
    """B87 (r9 VERDICT #6): the per-part min-cost correlation must run
    as a GROUPED min (map-side partial_min, narrow exchange) joined
    back by key — not a full-width sort+Window pass and never a
    per-part subquery re-execution — with the dimensions broadcast."""
    plan = _plan(registry.QUERIES["b87_q2_shape"](spark, SF))
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q19_pushes_implied_filters_into_both_scans(spark):
    """B90: Catalyst must derive the per-side implications of the
    OR-of-ANDs (p_brand IN (...) on the part scan, l_quantity bounds
    on the lineitem scan) — without them both scans read everything
    and the disjunction evaluates on the full join."""
    plan = _plan(registry.QUERIES["b90_q19_shape"](spark, SF))
    pushed = "\n".join(
        ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "p_brand" in pushed, plan
    assert "l_quantity" in pushed, plan


def test_line_dedup_single_shuffle_key(spark):
    """C89: keeper resolution and membership all key on the unit HASH
    (xxhash64 long, r9) — every exchange carries the 8-byte key, never
    the raw 8-token line string."""
    import re
    plan = _plan(registry.QUERIES["text_line_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "HashJoin" in plan, plan
    parts = re.findall(r"hashpartitioning\(([^)#]+)#", plan)
    assert parts, plan
    # unit-keyed exchanges carry the long; the only other key is the
    # final per-source output aggregation
    assert all(k.strip() in ("lh", "klh", "source") for k in parts), parts
    # the raw unit text must not be a shuffle key anywhere
    assert not re.search(r"hashpartitioning\(line#", plan), plan


# --- round 9: registry-wide SinglePartition ban + new TPC-H shapes ----------

# SinglePartition exchanges whose INPUT is not a grand-total (keys=[])
# partial aggregate, justified case by case. Keep this list SHORT — a
# new entry needs the same defense.
_SINGLE_PARTITION_ALLOWLIST = {
    # equi-depth boundary assignment: the global cumulative pass runs
    # over the (n_chars -> count) HISTOGRAM — bounded by the number of
    # DISTINCT document lengths (≤ max doc length, ~1e5), not by corpus
    # rows; the exchange input is already an aggregate.
    "data_range_bounds",
}


@pytest.mark.slow
def test_registry_has_no_unjustified_single_partition_exchange(spark):
    """r8 VERDICT #2 (generalized from the C66 contract): NO registry
    query may plan an `Exchange SinglePartition` over data-scale input
    — the one-task stage that dies at 100 TB. The only tolerated shape
    is a grand-total aggregate: the exchange's input operator is a
    partial/merge aggregate with NO grouping keys (O(tasks) rows move,
    never O(data)). Everything else must restructure (two-phase rank,
    keyed windows, broadcast offsets — see data_shard_plan)."""
    import re
    bad = {}
    for name in sorted(registry.QUERIES):
        df = registry.QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            nxt = lines[i + 1] if i + 1 < len(lines) else ""
            if re.search(r"Aggregate\(keys=\[\]", nxt):
                continue                      # grand-total partial agg
            if name in _SINGLE_PARTITION_ALLOWLIST:
                continue
            bad.setdefault(name, []).append(nxt.strip()[:90])
    assert not bad, bad


@pytest.mark.parametrize("name", ["b91_q21_shape", "b92_q17_shape",
                                  "b93_q22_shape", "b94_q20_shape",
                                  "b96_q11_shape", "text_encoding_gate",
                                  "text_quality_linear",
                                  "data_shard_plan"])
def test_round9_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_q21_decorrelates_to_single_windowed_lineitem_pass(spark):
    """B91: the stacked EXISTS + NOT EXISTS must collapse into ONE
    window pass keyed on l_orderkey — no per-row subquery
    re-execution, no nested-loop join, supplier/nation broadcast."""
    plan = _plan(registry.QUERIES["b91_q21_shape"](spark, SF))
    assert "Window" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q17_correlated_avg_runs_once_as_aggregate_join(spark):
    """B92: the correlated scalar AVG decorrelates into ONE grouped
    aggregate + equi-join — exactly one avg aggregate over lineitem,
    never a re-executed subquery; the part dimension broadcasts."""
    plan = _plan(registry.QUERIES["b92_q17_shape"](spark, SF))
    assert plan.count("partial_avg") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_shard_plan_two_phase_rank_no_single_partition(spark):
    """C87 (r8 weak FIXED): the global rank must be the two-phase
    range-partitioned form — a window keyed by partition id, offsets
    via broadcast map — with NO SinglePartition exchange anywhere."""
    df = registry.QUERIES["data_shard_plan"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan, plan


def test_q22_anti_join_and_pushed_date_filter(spark):
    """B93: the dormancy test must be a left-anti hash join on
    c_custkey with the date filter pushed into the orders scan; the
    scalar threshold rides a 1-row broadcast."""
    plan = _plan(registry.QUERIES["b93_q22_shape"](spark, SF))
    assert "LeftAnti" in plan, plan
    pushed = "\n".join(
        ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "o_orderdate" in pushed, plan
    assert "CartesianProduct" not in plan, plan


def test_q20_semi_join_chain_single_aggregate(spark):
    """B94: both INs must lower to left-semi joins and the per-
    (part,supp) sums must compute in ONE partial+final pass."""
    plan = _plan(registry.QUERIES["b94_q20_shape"](spark, SF))
    assert plan.count("LeftSemi") >= 2, plan
    assert "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_show_partitions_is_metadata_only(spark):
    """B95: the partition inventory must come from tracked stats — the
    plan may not contain any file scan (LocalTableScan of driver-built
    rows only)."""
    plan = registry.QUERIES["b95_show_partitions"](
        spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan
    assert "LocalTableScan" in plan or "ExistingRDD" in plan, plan


def test_q11_total_reaggregates_small_relation_not_lineitem(spark):
    """B96: the per-part values relation is materialized ONCE
    (localCheckpoint) — the final plan re-reads it for both the
    threshold and the output branch and contains NO lineitem scan at
    all (an unpinned shared subtree would plan the fact join+agg
    twice); top-100 via TakeOrdered."""
    plan = _plan(registry.QUERIES["b96_q11_shape"](spark, SF))
    assert plan.count("lineitem.parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["b98_q6_shape", "b99_q4_shape",
                                  "b100_q13_shape", "b101_q15_shape",
                                  "b102_q8_shape", "b103_q9_shape",
                                  "b97_row_policies",
                                  "data_host_concentration"])
def test_round9b_operators_stay_jvm_side(spark, name):
    plan = _plan(registry.QUERIES[name](spark, SF))
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_q6_every_predicate_pushes_into_the_scan(spark):
    """B98: the scan-dominated shape — date window, discount band and
    quantity cap must ALL reach PushedFilters."""
    plan = _plan(registry.QUERIES["b98_q6_shape"](spark, SF))
    pushed = "\n".join(
        ln for ln in plan.splitlines() if "PushedFilters" in ln)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, plan)


def test_q4_exists_lowers_to_semi_join(spark):
    plan = _plan(registry.QUERIES["b99_q4_shape"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q13_left_outer_preserves_zero_order_customers(spark):
    """B100: the priority exclusion must live in the join CONDITION
    (LeftOuter), never a post-join filter that would drop the
    zero-order customers."""
    plan = _plan(registry.QUERIES["b100_q13_shape"](spark, SF))
    assert "LeftOuter" in plan, plan


def test_q15_revenue_relation_materializes_once(spark):
    """B101: the MAX branch must re-read the materialized revenue
    relation — no lineitem scan in the final plan."""
    plan = _plan(registry.QUERIES["b101_q15_shape"](spark, SF))
    assert plan.count("lineitem.parquet") == 0, plan
    assert "ExistingRDD" in plan, plan


def test_q8_single_aggregation_pass_all_dims_broadcast(spark):
    """B102: numerator and denominator from ONE aggregation pass
    (CASE), every dimension a broadcast join — the only non-broadcast
    join is fact⋈orders."""
    plan = _plan(registry.QUERIES["b102_q8_shape"](spark, SF))
    agg_headers = [ln for ln in plan.splitlines()
                   if ln.strip().startswith("(") and "HashAggregate" in ln]
    assert len(agg_headers) == 2, plan       # partial + final
    assert "BroadcastHashJoin" in plan, plan


# --- round-10 TPC-DS starter shapes (VERDICT r9 #5) --------------------------

def test_b104_one_expand_no_reaggregation(spark):
    """B104 (Q67 shape): the ROLLUP must plan as EXACTLY ONE Expand
    feeding ONE aggregation pass (partial+final HashAggregate pair) —
    a per-grouping-set re-aggregation would multiply the fact scan.
    The rank filter must also push down as a WindowGroupLimit (top-k
    never materializes full per-group rankings)."""
    import re
    plan = _plan(registry.QUERIES["b104_rollup_topk"](spark, SF))
    assert len(re.findall(r"\) Expand", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_b105_full_outer_of_cumulative_windows(spark):
    """B105 (Q51 shape): a real FULL OUTER join aligns the two
    cumulative series (never an inner/cartesian degradation), and the
    three windows stay window nodes (no Python evaluation)."""
    import re
    plan = _plan(registry.QUERIES["b105_cumulative_align"](spark, SF))
    assert "FullOuter" in plan, plan
    assert len(re.findall(r"\) Window\b", plan)) == 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_b106_intersect_pushes_channel_filters(spark):
    """B106 (Q14 shape): every INTERSECT arm pushes its channel filter
    into its scan (key-only arm scans), and the set operation plans as
    joins — never a cartesian."""
    plan = _plan(registry.QUERIES["b106_intersect_channels"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert sum("EqualTo(l_returnflag" in ln for ln in pushed) >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # arm scans are key-only: their ReadSchema carries just the key +
    # filter column, never the wide price columns
    arm_reads = [ln for ln in plan.splitlines()
                 if "ReadSchema" in ln and "l_returnflag" in ln
                 and "l_extendedprice" not in ln]
    assert len(arm_reads) >= 3, plan


def test_b107_exactly_one_scan(spark):
    """B107 (Q88 shape): N band measures must fuse into ONE scan with
    ONE aggregation pair — the naive N-scalar-subquery translation
    (8 scans) is the pinned-out anti-pattern."""
    import re
    plan = _plan(registry.QUERIES["b107_multiband_scan"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b108_or_of_exists_plans_existence_join(spark):
    """B108 (Q35 shape): `EXISTS(a) OR EXISTS(b)` cannot lower to semi
    joins (a semi join filters — it can't feed a disjunction); Catalyst
    must decorrelate each OR arm into an ExistenceJoin flag while the
    conjunctive arm stays LeftSemi — never a per-row re-execution."""
    plan = _plan(registry.QUERIES["b108_exists_disjunction"](spark, SF))
    assert "ExistenceJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_b109_overlap_single_conditional_agg(spark):
    """B109 (Q97 shape): the three overlap classes come from ONE
    conditional aggregation over ONE full outer join of two
    partial-aggregated distincts — not three set-operation passes."""
    import re
    plan = _plan(registry.QUERIES["b109_channel_overlap"](spark, SF))
    assert "FullOuter" in plan, plan
    # 2 distincts (partial+final each) + 1 grand total (partial+final)
    assert len(re.findall(r"\) HashAggregate", plan)) == 6, plan
    assert "partial_count" not in plan, plan  # counts: conditional sums


def test_b110_nets_through_preaggregated_left_join(spark):
    """B110 (Q93 shape): the returns side pre-aggregates to one row per
    order BEFORE a LEFT join (partial_sum present — map-side combine),
    and the top-25 is TakeOrderedAndProject."""
    plan = _plan(registry.QUERIES["b110_returns_netting"](spark, SF))
    assert "LeftOuter" in plan, plan
    assert "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_b111_growth_uses_lag_not_self_join(spark):
    """B111 (Q31 shape): period alignment is ONE LAG window over the
    periodized aggregate — never the literal-SQL self-join that would
    re-aggregate and re-shuffle the fact."""
    import re
    plan = _plan(registry.QUERIES["b111_period_growth"](spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


# --- round-11 TPC-DS shapes (VERDICT r10 #5) ---------------------------------

def test_b113_single_window_pass(spark):
    """B113 (Q47/Q57 shape): the centered average, LAG and LEAD share
    one partitioning+ordering — Catalyst must plan a SINGLE Window
    operator over a single sort, never the literal-SQL triple
    self-join of the periodized CTE."""
    import re
    plan = _plan(registry.QUERIES["b113_moving_avg_neighbor"](spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_b114_cte_materializes_once(spark):
    """B114 (Q64 shape): the wide shared CTE must compute ONCE — the
    localCheckpoint pins it, so the self-join plan contains NO
    HashAggregate (both legs read the materialized rollup) and no
    second fact scan."""
    import re
    plan = _plan(registry.QUERIES["b114_shared_cte_two_channel"](
        spark, SF))
    assert "HashAggregate" not in plan, plan
    assert len(re.findall(r"Scan ExistingRDD", plan)) >= 1, plan
    assert "Scan parquet" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_b115_two_semi_joins(spark):
    """B115 (Q23 shape): both frequent-set gates apply as LeftSemi
    joins (dedup-by-construction, never value-multiplying inner
    joins), each over a HAVING-pruned partial-aggregated set."""
    import re
    plan = _plan(registry.QUERIES["b115_frequent_items_semi"](spark, SF))
    assert len(re.findall(r"LeftSemi", plan)) >= 2, plan
    assert "partial_count" in plan, plan     # map-side combine on gates
    assert "CartesianProduct" not in plan, plan


def test_b116_single_alignment_exchange(spark):
    """B116 (Q78 shape): the three-channel alignment is ONE conditional
    aggregation on the entity key — no full-outer join chain; the only
    exchanges are the two aggregation hash-partitionings (key
    alignment + class rollup) and the output sort's range
    partitioning, over a SINGLE fact scan (the literal SQL scans
    orders three times and shuffles four)."""
    import re
    plan = _plan(registry.QUERIES["b116_three_channel_ratio"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Exchange", plan)) == 3, plan
    assert len(re.findall(r"hashpartitioning", plan)) == 2, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b117_band_reduces_before_broadcast_join(spark):
    """B117 (Q34/Q73 shape): the count band applies in the aggregate
    (partial+final pair) and the reduced side BROADCASTS into the
    dimension join — never a shuffle join of the full dimension."""
    import re
    plan = _plan(registry.QUERIES["b117_count_band_customers"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b118_three_channels_one_scan_no_join(spark):
    """B118 (Q58 shape): all three channel sums from ONE conditional
    aggregation over ONE scan — the literal SQL's three CTEs + two
    joins are the pinned-out anti-pattern."""
    import re
    plan = _plan(registry.QUERIES["b118_equal_share_channels"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b119_per_channel_rank_pushes_group_limit(spark):
    """B119 (Q49 shape): one window ranks ALL channels (partition
    column, not per-channel subqueries) and the rank<=10 filter pushes
    down as WindowGroupLimit."""
    import re
    plan = _plan(registry.QUERIES["b119_return_ratio_topk"](spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b120_window_average_no_reaggregation(spark):
    """B120 (Q65 shape): the group average comes from a window over the
    per-item rollup — one aggregation pass, zero joins (the literal
    SQL re-aggregates the fact and joins)."""
    import re
    plan = _plan(registry.QUERIES["b120_below_avg_items"](spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b121_four_cells_one_aggregation_no_joins(spark):
    """B121 (Q74 shape): all four (channel x year) cells from ONE
    conditional aggregation — the literal SQL's four-way self-join of
    the totals CTE is the pinned-out anti-pattern."""
    import re
    plan = _plan(registry.QUERIES["b121_growth_vs_channel"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b122_one_expand_one_window(spark):
    """B122 (Q36 shape): ONE Expand feeds ONE aggregation pass feeds
    ONE window — never a ranking query per hierarchy level."""
    import re
    plan = _plan(registry.QUERIES["b122_rollup_level_rank"](spark, SF))
    assert len(re.findall(r"\) Expand", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_b123_one_agg_one_window_no_joins(spark):
    """B123 (Q39 shape): the cov gate runs on integer sufficient
    statistics inside ONE aggregation pass and the consecutive-period
    pairing is ONE LAG window — never the literal-SQL self-join on
    mon+1 with its second aggregation."""
    import re
    plan = _plan(registry.QUERIES["b123_cov_consecutive_periods"](
        spark, SF))
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b126_one_scan_no_union(spark):
    """B126 (Q5 shape): the channel union is a CASE tag over ONE scan
    feeding ONE rollup — never a Union of per-channel scans."""
    import re
    plan = _plan(registry.QUERIES["b126_q5_channel_rollup"](spark, SF))
    assert "Union" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) Expand", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_b127_one_fact_scan_broadcast_dim(spark):
    """B127 (Q17 shape): three lenses from ONE conditional aggregation
    over ONE fact scan (zero fact-fact joins); the dimension joins
    broadcast."""
    import re
    plan = _plan(registry.QUERIES["b127_q17_fact_alignment"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_b128_range_join_stays_hash_not_bnlj(spark):
    """B128 (Q72 shape): the calendar-shifted BETWEEN rides as a
    residual condition on a PART-KEY equi join — never a
    BroadcastNestedLoopJoin / cartesian product; the quantity bounds
    push to the scans."""
    plan = _plan(registry.QUERIES["b128_q72_shifted_range_join"](
        spark, SF))
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThanOrEqual(l_quantity,45" in ln for ln in pushed), plan
    assert any("LessThanOrEqual(l_quantity,5" in ln for ln in pushed), plan


def test_b129_no_self_joins(spark):
    """B129 (Q95 shape): both correlated EXISTS become sufficient
    statistics of ONE aggregation pass — zero self-joins, one scan."""
    import re
    plan = _plan(registry.QUERIES["b129_q95_two_hop_exists"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b130_window_not_reaggregation(spark):
    """B130 (Q1 shape): the group mean comes from a window over the
    per-customer rows — ONE aggregation pass, no CTE re-aggregation
    join; the customer dim joins broadcast."""
    import re
    plan = _plan(registry.QUERIES["b130_q1_above_avg_returns"](
        spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_b131_one_scan_no_period_join(spark):
    """B131 (Q59 shape): both periods from ONE tagged scan — never a
    per-year CTE join."""
    import re
    plan = _plan(registry.QUERIES["b131_q59_weekday_ratio"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b132_single_scan_both_bands(spark):
    """B132 (Q90 shape): both time-of-day bands from ONE conditional
    aggregation — never two scalar-subquery pipelines."""
    import re
    plan = _plan(registry.QUERIES["b132_q90_am_pm_ratio"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b133_window_no_self_join(spark):
    """B133 (Q92 shape): the per-item average is a window over the
    window-filtered scan — no correlated-subquery self-join; the date
    filter pushes down."""
    import re
    plan = _plan(registry.QUERIES["b133_q92_excess_discount"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan


def test_b134_lag_not_self_join(spark):
    """B134 (Q75 shape): consecutive years pair via ONE LAG window over
    the per-(brand, year) aggregate — never the yr+1 self-join; the
    dimension joins broadcast."""
    import re
    plan = _plan(registry.QUERIES["b134_q75_yoy_decline"](spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_b135_window_not_reaggregation(spark):
    """B135 (Q89 shape): the yearly mean is a window over the monthly
    rows — one aggregation pass, no re-aggregation join."""
    import re
    plan = _plan(registry.QUERIES["b135_q89_monthly_deviation"](
        spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_b136_single_scan_integer_gate(spark):
    """B136 (Q21 shape): before/after from ONE conditional aggregation
    over one date-pushed scan; dimension broadcast; the ratio gate is
    integer arithmetic (no division in the plan)."""
    import re
    plan = _plan(registry.QUERIES["b136_q21_pivot_balance"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan


def test_b137_window_share(spark):
    """B137 (Q98 shape): the category total is a window sum over the
    per-item rows — one aggregation pass, no re-aggregation join; the
    dimension broadcasts."""
    import re
    plan = _plan(registry.QUERIES["b137_q98_revenue_share"](spark, SF))
    assert len(re.findall(r"\) Window\b", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_b138_no_self_joins(spark):
    """B138 (Q94 shape): EXISTS and NOT EXISTS both come from the same
    one-pass order statistics — zero self-joins, one scan."""
    import re
    plan = _plan(registry.QUERIES["b138_q94_exists_not_exists"](
        spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b139_one_scan_two_scalars(spark):
    """B139 (Q61 shape): promo and total are conditional sums of ONE
    scan — never two pipelines cross-joined; the window pushes down."""
    import re
    plan = _plan(registry.QUERIES["b139_q61_promo_ratio"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), plan


def test_b140_one_scan_one_join_no_union(spark):
    """B140 (Q33 shape): the three-channel union is ONE scan + ONE
    broadcast join against the restricted dimension."""
    import re
    plan = _plan(registry.QUERIES["b140_q33_restricted_channels"](
        spark, SF))
    assert "Union" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_b141_bands_pushed_broadcast(spark):
    """B141 (Q82 shape): both band predicates push into their scans;
    the pre-filtered dimension broadcasts."""
    plan = _plan(registry.QUERIES["b141_q82_banded_inventory"](
        spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThanOrEqual(l_quantity,20" in ln
               for ln in pushed), plan
    assert any("GreaterThanOrEqual(p_size,10" in ln
               for ln in pushed), plan


def test_b142_one_join_band_matrix(spark):
    """B142 (Q62/Q99 shape): all lag bands are conditional counts of
    ONE post-join pass — exactly one equi join, never nested-loop or
    per-band re-scans."""
    import re
    plan = _plan(registry.QUERIES["b142_q62_lag_band_matrix"](
        spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert len(re.findall(r"Join", plan)) >= 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b143_single_scan_wide_pivot(spark):
    """B143 (Q66 shape): all eight period cells from ONE conditional
    aggregation over ONE scan — no per-family channel CTE join."""
    import re
    plan = _plan(registry.QUERIES["b143_q66_quarterly_pivot"](
        spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b144_two_takeordered_no_window(spark):
    """B144 (Q44 shape): each end is a distributed top-k
    (TakeOrderedAndProject) — never a single-partition rank Window or
    a global Sort of the aggregate."""
    import re
    plan = _plan(registry.QUERIES["b144_q44_two_ended_rank"](spark, SF))
    assert len(re.findall(r"TakeOrderedAndProject", plan)) >= 2, plan
    assert "Window" not in plan, plan


def test_b145_one_scan_battery(spark):
    """B145 (Q9 shape): all ten bucket cells from ONE scan — the
    literal SQL's fifteen scalar subqueries are the pinned-out
    anti-pattern."""
    import re
    plan = _plan(registry.QUERIES["b145_q9_bucket_battery"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\) HashAggregate", plan)) == 2, plan


def test_b146_integer_banding(spark):
    """B146 (Q54 shape): one equi join, two aggregation levels, zero
    windows; banding never introduces a float division."""
    import re
    plan = _plan(registry.QUERIES["b146_q54_band_histogram"](spark, SF))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan


def test_b147_semi_or_one_pass(spark):
    """B147 (Q45 shape): the semi-OR-local disjunction is one fact
    scan + one broadcast marker join — never a union of two passes,
    never a nested loop."""
    import re
    plan = _plan(registry.QUERIES["b147_q45_semi_or_local"](spark, SF))
    assert "Union" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan


# --- round 12 (session 2): b148-b150 + RRF fusion + covariance pairs ---------

def test_b148_one_scan_multi_distinct(spark):
    """B148 (Q28 shape): all four bands' (count, count-distinct, sum)
    cells from ONE scan — the literal SQL's six cross-joined scalar
    subqueries are the pinned-out anti-pattern; the per-band DISTINCTs
    lower through a single Expand, never separate scans."""
    import re
    plan = _plan(registry.QUERIES["b148_q28_distinct_battery"](spark, SF))
    assert "Join" not in plan, plan
    assert "Expand" in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b149_gate_reuses_pinned_aggregate(spark):
    """B149 (Q70 shape): the rank gate and the rollup both read the
    PINNED per-(nation,supplier) aggregate — the final plan touches no
    parquet (the fact scanned once, at checkpoint time), the gate is a
    TakeOrderedAndProject (never a global rank window over data-scale
    input) broadcast back as a semi-join."""
    plan = _plan(registry.QUERIES["b149_q70_rank_gated_rollup"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Expand" in plan, plan          # the rollup
    assert "CartesianProduct" not in plan, plan


def test_b150_one_scan_no_setops(spark):
    """B150 (Q38/Q87 shape): both set-op counts from ONE scan — no
    Union/Intersect/Except trees, no joins; the group-by IS the
    distinct and the set ops are conditional aggregates."""
    import re
    plan = _plan(registry.QUERIES["b150_q38_setop_counts"](spark, SF))
    assert "Join" not in plan, plan
    assert "Union" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_sim_rrf_fusion_bounded_lists(spark):
    """C93: each retriever list is a TakeOrderedAndProject top-20 pass
    (vectors never shuffle); the rank windows run AFTER the limit over
    20-row inputs, and the fusion join sees two 20-row sides — no
    data-scale window, sort or single-partition exchange anywhere."""
    import re
    plan = _plan(registry.QUERIES["sim_rrf_fusion"](spark, SF))
    assert len(re.findall(r"TakeOrderedAndProject", plan)) >= 3, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_sim_covariance_pairs_partial_gram(spark):
    """C94: the Gram pass is pinned (localCheckpoint) — the final plan
    reads the O(dim²) aggregate from ExistingRDD, joins the 64-row dim
    sums by broadcast, and takes the top pairs with
    TakeOrderedAndProject; parquet is never re-scanned and no
    data-scale shuffle appears downstream."""
    plan = _plan(registry.QUERIES["sim_covariance_pairs"](spark, SF))
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


# --- round 13: b153-b160 TPC-DS shapes ----------------------------------------

def test_b153_one_scan_no_joins(spark):
    """B153 (Q4 shape): all SIX channel×period cells from ONE
    conditional aggregation — the literal SQL's six-way CTE self-join
    is the pinned-out anti-pattern."""
    import re
    plan = _plan(registry.QUERIES["b153_q4_growth_chain"](spark, SF))
    assert "Join" not in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan


def test_b154_broadcast_rollup_topk(spark):
    """B154 (Q22 shape): the dimension join broadcasts, ONE Expand
    feeds the rollup, and the global top-100 is a
    TakeOrderedAndProject — never a full sort."""
    plan = _plan(registry.QUERIES["b154_q22_qoh_rollup"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Expand" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_b155_stats_broadcast_no_window(spark):
    """B155 (Q30/Q81 shape): the per-nation stats side is a broadcast
    of the aggregate-sized relation, never a data-scale window
    partitioned by the handful of nations; both the gate side and the
    stats side read the PINNED per-customer aggregate (final plan
    touches no parquet)."""
    plan = _plan(registry.QUERIES["b155_q30_state_return_gate"](spark, SF))
    assert "Window" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_b156_one_scan_pushed_common_conjunct(spark):
    """B156 (Q13/Q48 shape): the OR-of-ANDs evaluates in ONE pass —
    one orders scan, customer broadcast, no Union; the common conjunct
    (o_orderstatus) reaches the scan as a pushed filter."""
    import re
    plan = _plan(registry.QUERIES["b156_q13_demographic_bands"](spark, SF))
    assert "Union" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderstatus" in ln and "EqualTo" in ln
               for ln in pushed), plan


def test_b157_pruned_legs_one_agg(spark):
    """B157 (Q76 shape): one Union feeds ONE grouped aggregation (no
    per-channel agg re-unioned); each leg's scan is column-pruned —
    the orders legs never read o_orderkey/o_orderstatus, the lineitem
    leg never reads quantities/flags."""
    plan = _plan(registry.QUERIES["b157_q76_null_channel_report"](spark, SF))
    assert "Union" in plan, plan
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("o_orderstatus" not in ln for ln in reads), reads
    assert all("l_returnflag" not in ln for ln in reads), reads


def test_b158_two_dim_copies_broadcast_topk(spark):
    """B158 (Q46/Q68 shape): both dimension chains broadcast (nation
    enters TWICE), the top-100 is a TakeOrderedAndProject on the exact
    decimal key, and nothing degenerates to a cartesian product."""
    plan = _plan(
        registry.QUERIES["b158_q46_city_mismatch_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_b159_dim_gate_broadcasts(spark):
    """B159 (Q6 shape): the category-average gate resolves ENTIRELY on
    the part dimension and broadcasts into the fact scan — no window,
    no cartesian, and the fact-side join on the gated part set is a
    BroadcastHashJoin."""
    plan = _plan(registry.QUERIES["b159_q6_dim_avg_gate"](spark, SF))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_b160_one_scan_one_join_no_union(spark):
    """B160 (Q80 shape): the literal SQL's three LEFT-JOINed channel
    legs collapse — ONE orders scan, ONE join against the per-order
    returns aggregate, one Expand for the rollup, NO Union."""
    import re
    plan = _plan(
        registry.QUERIES["b160_q80_netted_channel_rollup"](spark, SF))
    assert "Union" not in plan, plan
    assert "Expand" in plan, plan
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, \
        plan                           # orders once, lineitem once


# --- round 14: b161-b166 TPC-DS shapes ----------------------------------------

def test_b161_two_scans_explode_no_reagg(spark):
    """B161 (Q77 shape): each fact scans ONCE (orders and lineitem
    each emit both their channel roles from one conditional
    aggregation); the two channel legs come from a Generate (inline
    explode) over the single aligned month relation — never a Union of
    re-aggregated legs or a second fact scan."""
    import re
    plan = _plan(registry.QUERIES["b161_q77_channel_pnl"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    assert "Generate" in plan, plan
    assert "Union" not in plan, plan
    assert "Expand" in plan, plan      # the rollup


def test_b162_one_scan_broadcast_self_join(spark):
    """B162 (Q2 shape): ONE orders scan builds the weekday pivot; the
    +53-week self-alignment joins the checkpointed aggregate against
    itself as a broadcast — the final plan reads no parquet twice and
    runs no sort-merge exchange for the join."""
    import re
    plan = _plan(registry.QUERIES["b162_q2_week_share"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 0, plan
    assert "Scan ExistingRDD" in plan, plan   # the checkpointed pivot
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_b163_one_fact_scan_broadcast_dim(spark):
    """B163 (Q25/Q29 shape): all three month-windowed lenses from ONE
    lineitem scan (conditional aggregation), part broadcast — the
    literal SQL's three windowed CTEs + two fact-fact joins are the
    pinned-out anti-pattern."""
    import re
    plan = _plan(registry.QUERIES["b163_q25_three_lens"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, \
        plan                           # lineitem once, part once
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_b164_single_pair_build_broadcast_total(spark):
    """B164 (Q24 shape): the deduped pair table materializes ONCE
    (localCheckpoint of the per-customer aggregate) and feeds both the
    global total and the gate; the 1-row total joins back as a
    broadcast (BroadcastNestedLoopJoin over one row is the correct
    physical form); the fact join keys on orderkey with part
    broadcast."""
    import re
    plan = _plan(registry.QUERIES["b164_q24_dedup_mean_gate"](spark, SF))
    # final plan reads the checkpointed per-customer aggregate, not
    # parquet, on BOTH consumers
    assert len(re.findall(r"\) Scan parquet", plan)) == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or \
        "BroadcastHashJoin" in plan, plan


def test_b165_one_fact_scan_flag_gate(spark):
    """B165 (Q10 shape): the three correlated EXISTS probes collapse
    into ONE orders scan producing presence flags — no semi-joins, no
    second orders scan; the customer join stays a keyed join."""
    import re
    plan = _plan(registry.QUERIES["b165_q10_prospect_profile"](spark, SF))
    scans = re.findall(r"\) Scan parquet ([\w.]*)", plan)
    assert len(scans) == 2, plan       # orders once, customer once
    assert "SemiJoin" not in plan.replace("LeftSemi", "SemiJoin"), plan


def test_b166_one_fact_scan_no_anti_join(spark):
    """B166 (Q69 shape): EXISTS + two NOT EXISTS collapse into the
    same one-scan flag aggregation with the gate flipped — absence is
    the flag's 0 side, so the plan contains NO anti-join; nation
    broadcasts."""
    import re
    plan = _plan(
        registry.QUERIES["b166_q69_state_gated_demographics"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 3, \
        plan                           # orders, customer, nation
    assert "LeftAnti" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_b167_dim_only_two_scans(spark):
    """B167 (Q41 shape): the correlated per-row COUNT collapses to one
    dimension aggregation broadcast back — exactly two part scans,
    no fact table, no per-row subquery machinery."""
    import re
    plan = _plan(registry.QUERIES["b167_q41_dim_only_gate"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 2, plan
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # every scan reads dimension columns only — no fact table exists
    assert reads and all("p_" in ln and "l_" not in ln and "o_" not in ln
                         for ln in reads), reads
    assert "BroadcastHashJoin" in plan, plan


def test_b168_rollup_dim_chain(spark):
    """B168 (Q18 shape): one lineitem scan through the supplier →
    nation chain (nation broadcasts), ONE Expand for the rollup, and
    the exact-integer average split stays JVM-side (no Python)."""
    import re
    plan = _plan(registry.QUERIES["b168_q18_avg_rollup"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 3, plan
    assert "Expand" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan


def test_b169_one_scan_banded(spark):
    """B169 (Q71 shape): band CASE + hour extraction + out-of-band
    rejection all inside ONE events scan's codegen — no Union of
    per-band legs, no second scan, no Python."""
    import re
    plan = _plan(registry.QUERIES["b169_q71_hour_band_report"](spark, SF))
    assert len(re.findall(r"\) Scan parquet", plan)) == 1, plan
    assert "Union" not in plan, plan
    assert "Python" not in plan, plan


def test_b170_snowflake_single_fact_scan(spark):
    """B170 (Q85 shape): the returns report scans lineitem ONCE with
    the returnflag pushed to the scan; nation and region broadcast;
    the three-relation band disjunction stays one JVM filter (no
    Union of per-arm legs, no Python)."""
    import re
    plan = _plan(registry.QUERIES["b170_q85_snowflake_bands"](spark, SF))
    lread = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "l_quantity" in ln]
    assert len(lread) == 1, plan          # one lineitem scan
    assert "l_returnflag,R" in plan.replace(" ", ""), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Union" not in plan and "Python" not in plan, plan


def test_b171_ziplist_gates_at_the_dim(spark):
    """B171 (Q8 shape): the literal-list ∩ derived-set membership
    prunes the SUPPLIER dim via a broadcast semi-join BEFORE the fact
    join — the fact side carries no substring filter of its own and
    scans once; the literal list is a local (scan-free) relation."""
    import re
    plan = _plan(registry.QUERIES["b171_q8_ziplist_gate"](spark, SF))
    lread = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "l_extendedprice" in ln]
    assert len(lread) == 1, plan          # one lineitem scan
    assert re.search(r"BroadcastHashJoin LeftSemi|LeftSemi BuildRight",
                     plan), plan
    # the literal zip list is a LOCAL relation — no file scan feeds it
    assert "LocalTableScan" in plan or "ExistingRDD" in plan, plan
    assert "Python" not in plan, plan


def test_b172_lookup_no_aggregate(spark):
    """B172 (Q84 shape): a pure fact-driven lookup — the band and
    location gates prune the DIMENSION side before the fact join, the
    returnflag filter pushes into the single fact scan, and NO
    aggregate exists anywhere in the plan."""
    plan = _plan(registry.QUERIES["b172_q84_income_band_lookup"](spark, SF))
    lread = [ln for ln in plan.splitlines()
             if "ReadSchema" in ln and "l_orderkey" in ln]
    assert len(lread) == 1, plan
    assert "l_returnflag,R" in plan.replace(" ", ""), plan
    cread = [ln for ln in plan.splitlines() if "c_acctbal" in ln
             and "PushedFilters" in ln]
    assert cread, plan                   # band pushed to the dim scan
    assert "HashAggregate" not in plan, plan
    assert "Python" not in plan, plan
