"""Physical-plan regression tests (SURVEY.md §4: the plan is part of
the contract — pushdown, pruning, and join strategy must not silently
regress)."""

import contextlib
import io

import pytest

from mdscraper_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q3_broadcasts_and_pushes_segment_filter(spark):
    plan = plan_of(spark, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan        # all sides fit broadcast here
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # predicate pushdown


def test_q3_prunes_lineitem_columns(spark):
    plan = plan_of(spark, "q3_top_orders")
    # only the 3 needed lineitem columns reach the scan
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_q1_pushes_shipdate_filter(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate," in plan


def test_extraction_stage_is_narrow(spark):
    """The extraction operator must not shuffle: scan -> project ->
    ArrowEvalPython/MapInPandas with no Exchange."""
    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.sources.pages import fixture_pages_df

    docs = extract_markdown(fixture_pages_df(spark), ExtractConfig())
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        docs.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_link_join_is_broadcast(spark):
    from mdscraper_spark.operators import kg as kg_ops
    from mdscraper_spark.sources.fixtures import alias_rows
    from mdscraper_spark.operators.extract_udfs import extract_markdown
    from mdscraper_spark.config import ExtractConfig
    from mdscraper_spark.sources.pages import fixture_pages_df

    docs = extract_markdown(fixture_pages_df(spark), ExtractConfig())
    gaz = tuple((a, t) for a, _e, _c, t, _p in alias_rows())
    mentions, _triples = kg_ops.split_mined(
        kg_ops.mine_kg_combined(docs, gaz))
    links = kg_ops.link_entities(mentions, kg_ops.alias_df(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        links.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """I7 co-location: kg tables bucketed on canon_id join WITHOUT a
    shuffle exchange — the plan shape that makes repeated graph joins
    affordable at 10^12 rows (bucket once, join many times)."""
    from pyspark.sql import functions as F

    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdb "
              f"LOCATION '{tmp_path}/bucket_wh'")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nodes = spark.range(0, 1000).select(
            F.col("id").alias("canon_id"),
            F.concat(F.lit("n"), F.col("id")).alias("label"))
        edges = spark.range(0, 5000).select(
            (F.col("id") % 1000).alias("canon_id"),
            F.col("id").alias("edge_id"))
        nodes.write.bucketBy(8, "canon_id").mode("overwrite") \
             .saveAsTable("bucketdb.nodes_b")
        edges.write.bucketBy(8, "canon_id").mode("overwrite") \
             .saveAsTable("bucketdb.edges_b")

        j = (spark.table("bucketdb.nodes_b")
             .join(spark.table("bucketdb.edges_b"), "canon_id"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 5000

        # control: the same join over non-bucketed parquet DOES shuffle
        nodes.write.mode("overwrite").parquet(f"{tmp_path}/nodes_p")
        edges.write.mode("overwrite").parquet(f"{tmp_path}/edges_p")
        jp = (spark.read.parquet(f"{tmp_path}/nodes_p")
              .join(spark.read.parquet(f"{tmp_path}/edges_p"), "canon_id"))
        plan_p = jp._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan_p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_jaccard_posting_lists_no_cartesian(spark):
    plan = plan_of(spark, "ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_join_free_single_window(spark):
    """The union-merge as-of must compile to a window over the unioned
    stream — no join operator anywhere in the plan."""
    plan = plan_of(spark, "asof_prior_click")
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_ivf_centroids_are_broadcast(spark):
    plan = plan_of(spark, "ivf_topk")
    assert "BroadcastExchange" in plan


def test_aqe_splits_hub_host_skew(spark):
    """I7 skew handling, first line of defense: a hub-domain key that
    dwarfs the median partition is split by AQE at runtime
    (SortMergeJoin(skew=true)) before our explicit salting is needed."""
    from pyspark.sql import functions as F

    prev = {k: spark.conf.get(k) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor")}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit("hub.example.com"))
             .otherwise(F.concat(F.lit("h"), (F.col("id") % 997)))
             .alias("host"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        dim = spark.range(0, 1000).select(
            F.when(F.col("id") == 0, F.lit("hub.example.com"))
             .otherwise(F.concat(F.lit("h"), F.col("id") % 997))
             .alias("host"),
            F.col("id").alias("w"))
        j = fact.join(dim, "host")
        assert len(j.collect()) == 200_040
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_triangle_counts_no_cartesian(spark):
    """Degree-ordered orientation must keep every join keyed (wedge
    pivot, closing edge, degree lookups) — a cartesian anywhere here
    is the O(n^3) enumeration the orientation exists to avoid."""
    plan = plan_of(spark, "graph_triangle_clustering")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_logprob_no_cartesian(spark):
    """The corpus total is folded in as a literal (driver scalar), so
    the only join is exploded-tokens ⋈ vocab on the token key."""
    plan = plan_of(spark, "doc_unigram_logprob")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_topk_no_cartesian_no_global_sort(spark):
    """tf ⋈ df is keyed on token; the per-doc head must be a window
    (partition-local top-k), never a global Sort over the scored
    table."""
    plan = plan_of(spark, "doc_tfidf_keywords")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" not in plan or "Window" in plan
    assert "Window" in plan


def test_anchor_rollup_two_exchanges_with_top1_pushdown(spark):
    """The anchor corpus rollup pays exactly two exchanges — the
    map-side-combined (target, anchor) groupBy and the shared
    per-target window shuffle — and the plurality pick must stay a
    WindowGroupLimit top-1 pushdown (rank-then-filter materializing
    every ranked row would regress hub targets)."""
    plan = plan_of(spark, "anchor_text_rollup")
    # formatted plans carry the partitioning in the detail section;
    # the third Exchange is the fan_out round-robin on the input scan
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan          # map-side combine survives
    assert "CartesianProduct" not in plan


def test_dup_span_scrub_no_cartesian_tokens_gated(spark):
    """No cartesian anywhere, and the per-token posexplode (the
    expensive path) appears only downstream of the affected-doc join
    (a second Generate beyond the window explode)."""
    plan = plan_of(spark, "dup_span_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_khop_reach_no_cartesian(spark):
    plan = plan_of(spark, "kg_khop_reach")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lexical_diversity_shuffle_free_on_raw_frame(spark):
    """On a raw in-memory frame (no load() fan_out), the whole battery
    is one narrow projection: zero Exchange, zero join, zero Python."""
    import contextlib
    import io

    from mdscraper_spark.operators.textstats import lexical_stats

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lexical_stats(df).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_entity_cards_single_aggregate_no_sort(spark):
    """One partial/final aggregate pair on src; the digest ordering is
    in-group sort_array — no global Sort operator."""
    import contextlib
    import io

    from mdscraper_spark.operators.graph import entity_cards

    edges = spark.createDataFrame(
        [("A", "p", "B", 1)],
        "src string, pred string, dst string, n_support long")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        entity_cards(edges).explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]     # operator tree only
    assert tree.count("Exchange") == 1
    assert "Sort " not in tree.replace("SortAggregate", "")
    assert "Join" not in tree


def test_host_boilerplate_scrub_no_cartesian_census_shape(spark):
    """J60: the line census must be a keyed aggregate and the template
    join-back a keyed join — no cartesian/BNLJ anywhere; the ws-only
    branch unions around the join (visible as a Union in the plan)."""
    plan = plan_of(spark, "host_boilerplate_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Union" in plan


def test_edge_time_windows_no_cartesian(spark):
    """J61: the timestamp is a projection on each triple row and the
    min/max aggregates ride the single edge groupBy — no cartesian,
    no extra global sort."""
    plan = plan_of(spark, "kg_edge_time_windows")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
