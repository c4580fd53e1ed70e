"""Physical-plan regression tests — the scale discipline, asserted.

A correct result with a bad plan is a failure at 100 TB: these tests pin
the plan properties that matter (filter pushdown into the parquet scan,
broadcast joins for small dims, no fact-side shuffle before the final
aggregate, salted-join equivalence, bucketed co-located joins with zero
exchanges)."""

from __future__ import annotations

from pyspark.sql import functions as F

from imperio_patitas_etl_spark.operators.joins import salted_join
from imperio_patitas_etl_spark.queries import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = all_queries()["scan_parquet"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_projection_prunes_columns(spark, sf_dir):
    df = all_queries()["scan_parquet"](spark, sf_dir)
    plan = _plan(df)
    # 2-column projection must not read all 16 lineitem columns
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    df = all_queries()["multi_join_star"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 4  # orders, customer, nation, region
    assert "SortMergeJoin" not in plan
    # the only Exchange is the final single-stage aggregate shuffle
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 1


def test_broadcast_join_used_for_small_dim(spark, sf_dir):
    df = all_queries()["join_price_broadcast"](spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_whole_stage_codegen_active(spark, sf_dir):
    # '*(n)' node prefixes mark whole-stage-codegen stages in the plan string
    df = all_queries()["filter_project_detail"](spark, sf_dir)
    assert "*(1)" in _plan(df)


def _equijoin_key_sets(plan: str) -> list[str]:
    import re

    return re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)(?:\(\w+\))?\s+\[([^\]]+)\]",
        plan,
    )


def test_ngram_jaccard_is_blocked_equijoin(spark, sf_dir):
    """Candidate generation must be an equi-join on the (lang, prefix
    token) inverted index — never an all-pairs nested loop."""
    df = all_queries()["ngram_jaccard_dedup"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any("lang" in k and "tok" in k for k in _equijoin_key_sets(plan))


def test_simhash_near_dup_is_banded_equijoin(spark, sf_dir):
    """Hamming-neighbor candidates must come from the 4-band equi-join —
    never an all-pairs nested loop."""
    df = all_queries()["simhash_near_dup"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any("band_idx" in k and "band_bits" in k for k in _equijoin_key_sets(plan))


def test_simhash_checkpoint_is_caller_releasable(spark, sf_dir):
    """``q_simhash_near_dup`` localCheckpoints its signature relation
    and cannot free it — the RETURNED plan reads the blocks. This pins
    the two facts a harness relies on: accumulation is bounded at
    exactly ONE new persisted generation per invocation (repeated
    invocations grow linearly in calls, never per-row), and
    ``release_plan`` on the consumed result frees exactly that
    generation."""
    from imperio_patitas_etl_spark.operators.checkpoint import (
        persistent_rdd_ids,
        release_plan,
    )
    from imperio_patitas_etl_spark.queries import all_queries

    before = persistent_rdd_ids(spark)
    df = all_queries()["simhash_near_dup"](spark, sf_dir)
    new_ids = persistent_rdd_ids(spark) - before
    assert len(new_ids) == 1, new_ids
    df.count()  # consume while the checkpoint is alive
    assert release_plan(df) == new_ids
    assert not persistent_rdd_ids(spark) - before


def test_cosine_dedup_is_bucket_equijoin(spark, sf_dir):
    """Pair generation must be an equi-join on the LSH bucket id —
    never an all-pairs nested loop."""
    df = all_queries()["embedding_cosine_dedup"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any("bucket" in k for k in _equijoin_key_sets(plan))


def test_q6_predicates_push_to_scan(spark, sf_dir):
    """Q6 is scan→agg: every predicate must reach PushedFilters, and there
    must be no join at all."""
    df = all_queries()["tpch_q6"](spark, sf_dir)
    plan = _plan(df)
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "Join" not in plan


def test_q14_q17_broadcast_the_part_side(spark, sf_dir):
    """The part dim (and Q17's few-row per-part averages) must broadcast —
    a shuffle of lineitem on partkey would be the 100× bottleneck."""
    for key, n_bcast in (("tpch_q14", 1), ("tpch_q17", 2)):
        plan = _plan(all_queries()[key](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= n_bcast, key
        assert "SortMergeJoin" not in plan, key


def test_q2_q11_broadcast_dims_onto_partsupp(spark, sf_dir):
    """Q2/Q11 over the derived partsupp: part/supplier/nation dims must
    broadcast — shuffling the pair relation (grows with the data) against
    a 100-row dim would be the 100× bottleneck. Q11's one-row global
    total must arrive as a broadcast nested-loop cross join, not a
    cartesian product."""
    plan2 = _plan(all_queries()["tpch_q2"](spark, sf_dir))
    assert plan2.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan2
    plan11 = _plan(all_queries()["tpch_q11"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan11
    assert "SortMergeJoin" not in plan11
    assert "CartesianProduct" not in plan11


def test_partsupp_deterministic_and_bounded(spark, sf_dir):
    """The derived partsupp is keyed by the DISTINCT lineitem pairs and
    its synthesized attributes stay in their documented ranges — the
    invariants both Q2's min and Q11's value concentration rely on."""
    from imperio_patitas_etl_spark.queries.tpch import derived_partsupp

    ps = derived_partsupp(spark, sf_dir)
    from pyspark.sql import functions as F

    row = ps.agg(
        F.count("*").alias("n"),
        F.countDistinct("ps_partkey", "ps_suppkey").alias("n_keys"),
        F.min("ps_availqty").alias("lo_q"),
        F.max("ps_availqty").alias("hi_q"),
        F.min("ps_supplycost_cents").alias("lo_c"),
        F.max("ps_supplycost_cents").alias("hi_c"),
    ).collect()[0]
    assert row.n == row.n_keys > 0
    assert 1 <= row.lo_q and row.hi_q <= 9999
    assert 100 <= row.lo_c and row.hi_c <= 100099


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both windows and the final session aggregate all cluster by
    user_id: one Exchange total — lag, running sum, and groupBy must
    reuse the same partitioning, not re-shuffle per step."""
    df = all_queries()["sessionize_events"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_tf_vectorize_broadcasts_vocab(spark, sf_dir):
    """The ranked vocabulary joins back onto the exploded token stream as
    a broadcast — shuffling the corpus on token strings would dwarf the
    whole pipeline."""
    df = all_queries()["tf_vectorize"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-V vocab must be the distributed heap-merge, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_salted_join_matches_plain_join(spark):
    # heavy skew: 90% of facts share key 1
    facts = spark.createDataFrame(
        [(1 if i % 10 else 2, i, float(i)) for i in range(1000)], "k int, id int, v double"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k int, d string")
    plain = facts.join(dim, "k")
    salted = salted_join(facts, dim, "k", n_salts=8)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_left_outer(spark):
    facts = spark.createDataFrame([(1, 1), (9, 2)], "k int, id int")
    dim = spark.createDataFrame([(1, "x")], "k int, d string")
    out = salted_join(facts, dim, "k", n_salts=4, how="left")
    got = {r["id"]: r["d"] for r in out.collect()}
    assert got == {1: "x", 2: None}


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located join: both sides bucketed by the join key → zero
    Exchange in the plan. This is the repeated-upsert/join scale lever
    (SURVEY.md §2.2 scale note): pay the shuffle once at write time.
    (warehouse dir is pointed at a scratch location in conftest)"""
    spark.sql("DROP TABLE IF EXISTS b_facts")
    spark.sql("DROP TABLE IF EXISTS b_dim")
    facts = spark.range(0, 10000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    facts.write.bucketBy(8, "k").sortBy("k").saveAsTable("b_facts")
    dim.write.bucketBy(8, "k").saveAsTable("b_dim")
    # disable broadcast so the co-location is what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_facts").join(spark.table("b_dim"), "k")
        plan = _plan(joined)
        assert "Exchange" not in plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dim")


def test_q19_disjunction_envelopes_push_to_both_scans(spark, sf_dir):
    """Q19's OR-of-ANDs must leave per-side envelopes in each scan's
    PushedFilters (Catalyst also derives the per-side OR projections);
    regression would silently turn the join residual into a full-scan
    post-filter."""
    import contextlib
    import io

    df = all_queries()["tpch_q19"](spark, sf_dir)
    # executedPlan().toString() truncates long PushedFilters lists;
    # explain('formatted') prints them in full
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "In(p_brand" in plan                      # part-side envelope
    assert "LessThanOrEqual(l_quantity,30.0)" in plan  # lineitem quantity hull
    assert "EqualTo(l_linestatus,F)" in plan
    assert "BroadcastHashJoin" in plan


def test_quality_gopher_zero_shuffle(spark, sf_dir):
    """The Gopher ladder is per-document math: any Exchange in its plan
    means a corpus-wide shuffle crept back in (the r6 rewrite's whole
    point was deleting both of them)."""
    for key in ("quality_gopher", "gopher_filter"):
        plan = _plan(all_queries()[key](spark, sf_dir))
        assert "Exchange" not in plan, key


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-side gram set must broadcast — shuffling the corpus gram
    stream on gram strings is the plan this operator exists to avoid."""
    plan = _plan(all_queries()["decontaminate_ngram"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# r7 tiers: the documented scale shapes, pinned
# ---------------------------------------------------------------------------


def test_r7_zero_shuffle_maps(spark, sf_dir):
    """Chunking, PII scrubbing, and the Z-order key are narrow per-row
    maps — an Exchange in any of them means a shuffle crept into an
    embarrassingly-parallel operator (zorder's single Exchange is its
    final fixed-width aggregate, so it is checked separately)."""
    qs = all_queries()
    for key in ("chunk_sequences", "pii_redact"):
        plan = _plan(qs[key](spark, sf_dir))
        assert "Exchange" not in plan, key
    zplan = _plan(qs["zorder_layout_audit"](spark, sf_dir))
    assert zplan.count("Exchange hashpartitioning") == 1


def test_pivot_wide_is_single_shuffle_conditional_agg(spark, sf_dir):
    """Declared-values pivot must compile to ONE hash aggregate with
    conditional sums — DataFrame.pivot's pivotfirst path costs a second
    Exchange, which is exactly what this pin forbids."""
    plan = _plan(all_queries()["pivot_wide"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "pivotfirst" not in plan


def test_event_funnel_single_user_shuffle(spark, sf_dir):
    """Both funnel stage windows and the per-user rollup must share ONE
    user_id Exchange (plus the final single-row reduce); a second
    user_id shuffle means the shared window spec broke."""
    plan = _plan(all_queries()["event_funnel"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_bloom_probe_side_never_shuffles(spark, sf_dir):
    """The probe (lineitem) side of the bloom prefilter must reach its
    membership test through broadcast only — no hashpartitioning
    Exchange may carry probe rows. The only hash Exchanges allowed are
    the KB-scale build-side position aggregation."""
    plan = _plan(all_queries()["bloom_prefilter_join"](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "l_partkey" not in line.split("Exchange", 1)[1][:120]


def test_asof_and_skyline_avoid_inequality_joins(spark, sf_dir):
    """scd2_asof_lookup and pareto_frontier_2d exist to replace O(n·m)
    inequality joins with window passes — any non-equi join node in
    their plans is the failure mode."""
    qs = all_queries()
    for key in ("scd2_asof_lookup", "pareto_frontier_2d"):
        plan = _plan(qs[key](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, key
        assert "CartesianProduct" not in plan, key


def test_prefix_sum_queries_have_no_window_sort(spark, sf_dir):
    """pps_systematic_sample and equi_depth_histogram exist to replace
    the single-task Window.partitionBy running sum / global row_number
    with the two-phase scan — a Window node in their plans IS the
    scale regression they guard against."""
    qs = all_queries()
    for key in ("pps_systematic_sample", "equi_depth_histogram"):
        plan = _plan(qs[key](spark, sf_dir))
        assert "Window" not in plan, key


def test_fit_tables_broadcast(spark, sf_dir):
    """feature_scale's per-dimension stats and pmi_collocations' two
    unigram sides are tiny fit tables — they must broadcast, never
    shuffle the exploded stream on a join key."""
    qs = all_queries()
    plan = _plan(qs["feature_scale"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan = _plan(qs["pmi_collocations"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_triangle_and_rolling_all_equijoins(spark, sf_dir):
    """triangle_count's wedge + closure joins and resample_ffill's
    spine join must stay equi-joins (the inequality parts are
    residual filters, not join strategies)."""
    qs = all_queries()
    for key in ("triangle_count", "resample_ffill"):
        plan = _plan(qs[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key


def test_session_paths_single_user_shuffle(spark, sf_dir):
    """session_path_trigrams exists to do session ordinals AND both
    look-aheads in ONE user_id window pass — a second Exchange keyed on
    (user, session) would mean the finer re-shuffle it avoids. One
    shuffle for the window + one for the small path aggregate +
    TakeOrdered; no more."""
    plan = _plan(all_queries()["session_path_trigrams"](spark, sf_dir))
    import re as _re

    n_exchanges = len(_re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges <= 2, plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_scalar_crossjoins_pinned_to_broadcast(spark, sf_dir):
    """Every single-row scalar crossJoin in the package carries an
    explicit F.broadcast hint (VERDICT r7 item 7), so the physical plan
    is BroadcastNestedLoopJoin and can never degrade to a cartesian
    product on a stats change. Pins the seven call sites fixed in r8."""
    qs = all_queries()
    for key in (
        "kmv_join_cardinality",
        "ann_recall",
        "cosine_dedup_recall",
        "power_iteration_pc",
        "ndcg_eval",
        "join_strategy_advisor",
        "srm_check",
    ):
        plan = _plan(qs[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" in plan, key


def test_ngram_jaccard_final_plan_restores_broadcasts(spark, sf_dir):
    """The collapse tagger (r17) attaches gid via joins, and a join's
    size-only estimate is the PRODUCT of its inputs, so the checkpoint's
    carried statistics demote every STATIC downstream broadcast to a
    SortMergeJoin (PLANS.md's starred row). This pins the property that
    actually matters: after execution, the FINAL adaptive plan has
    re-promoted broadcast hash joins from exact runtime sizes — i.e.
    the static degradation is an estimation artifact, not a real plan
    regression."""
    df = all_queries()["ngram_jaccard_dedup"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert final.count("BroadcastHashJoin") >= 1
