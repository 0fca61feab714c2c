"""Driver-contract query registry (SURVEY.md §2 coverage).

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql or
None).  Oracle SQL is ANSI/DuckDB over the pre-registered views
(region nation customer supplier part orders lineitem events documents
embeddings).  Column names are aliased identically on both sides; float
results are produced by identical IEEE expressions (or exact decimal
aggregation) and rounded, so the driver's order-insensitive value-hash
matches.

Registry sections:
  relational  — joins/aggs/windows/set-ops/rollup (§2.H)
  text        — extraction-analog scalar pipelines + text analysis
  dedup       — exact / MinHash-LSH / SimHash / n-gram Jaccard
  similarity  — brute-force cosine + axis-sign LSH
  engine      — the real extraction UDF + full KG pipeline (flagship)
"""

from __future__ import annotations

import fnmatch
import pathlib
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.operators import (dedup, kg as kg_ops, links,
                                       multimodal, similarity, temporal,
                                       textstats)
from mdscraper_spark.operators.extract_udfs import extract_markdown
from mdscraper_spark.operators.multimodal import decode_binary_docs
from mdscraper_spark.sources.fixtures import alias_rows
from mdscraper_spark.sources.pages_from_docs import (docs_to_anchor_pages,
                                                     docs_to_census_pages,
                                                     docs_to_kg_pages,
                                                     docs_to_pages)

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: Dict[str, Tuple[QueryFn, Optional[str]]] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str, table: str,
         fan_out: bool = False) -> DataFrame:
    """Read a test-scale parquet table.

    fan_out=True spreads a tiny input across all cores before
    compute-heavy narrow stages (shingling, hashing, extraction): a
    sub-row-group file arrives as ONE scan split, which would serialize
    the whole stage on one core.  The round-robin shuffle is O(file
    size) — trivial at test scale — and is skipped for inputs big
    enough to split naturally (the 100 TB path), where it would be a
    pure waste.  Cheap scans/aggregates should NOT fan out: the extra
    exchange costs more than the single-task work it parallelizes."""
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    if fan_out:
        import pathlib
        try:
            p = pathlib.Path(path)
            # directory-style tables: sum data files (the dir entry's
            # own ~4KB size would misclassify every dir table as small)
            nbytes = (sum(f.stat().st_size for f in p.rglob("*.parquet"))
                      if p.is_dir() else p.stat().st_size)
            small = nbytes < 64 * 1024 * 1024
        except OSError:
            small = False
        if small:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _dec_sum(col, scale: int = 2):
    """Exact (order-insensitive) sum: decimal accumulate, double out."""
    return F.sum(col.cast(f"decimal(30,{scale})")).cast("double")


# ===========================================================================
# relational (§2.H)
# ===========================================================================

@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00")
                      .cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_dec_sum(F.col("l_quantity")).alias("sum_qty"),
                 _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
                 F.count(F.lit(1)).alias("count_order")))


@register("q3_top_orders", """
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""")
def q3_top_orders(spark, sf_dir):
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey")
            .agg(_dec_sum(rev, 4).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10))


@register("q5_region_revenue", """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def q5_region_revenue(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(s), (s.s_suppkey == li.l_suppkey)
                  & (s.s_nationkey == c.c_nationkey))
            .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
            .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
            .groupBy("n_name")
            .agg(_dec_sum(rev, 4).alias("revenue")))


@register("status_counts", """
SELECT o_orderstatus AS status, COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""")
def status_counts_q(spark, sf_dir):
    return (load(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count(F.lit(1)).alias("n")))


@register("latest_order_per_customer", """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn = 1
""")
def latest_order_per_customer(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"),
                                                F.asc("o_orderkey"))
    return (load(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", "o_orderdate"))


@register("largest_order_argmax", """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn = 1
""")
def largest_order_argmax(spark, sf_dir):
    """C1-stage-6 relational analog: stable argmax (scraper.py:655)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (load(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 2).alias("totalprice")))


@register("customers_without_orders", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def customers_without_orders(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


@register("part_types_intersect", """
SELECT p_name FROM part WHERE p_size < 5
INTERSECT
SELECT p_name FROM part WHERE p_retailprice > 995
""")
def part_types_intersect(spark, sf_dir):
    """Set intersection (shuffles both sides on the full row; the
    distinct is implicit in INTERSECT semantics)."""
    p = load(spark, sf_dir, "part")
    small = p.filter(F.col("p_size") < 5).select("p_name")
    pricey = p.filter(F.col("p_retailprice") > 995).select("p_name")
    return small.intersect(pricey)


@register("part_types_except", """
SELECT p_name FROM part WHERE p_size < 5
EXCEPT
SELECT p_name FROM part WHERE p_retailprice > 995
""")
def part_types_except(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    small = p.filter(F.col("p_size") < 5).select("p_name")
    pricey = p.filter(F.col("p_retailprice") > 995).select("p_name")
    return small.subtract(pricey)


@register("alias_edit_distance", """
SELECT s_suppkey, levenshtein(lower(s_name), 'supplier#000000001') AS dist
FROM supplier
""")
def alias_edit_distance(spark, sf_dir):
    """Levenshtein — the I4 entity-link scoring primitive — parity
    checked against DuckDB's implementation."""
    return (load(spark, sf_dir, "supplier")
            .select("s_suppkey",
                    F.levenshtein(F.lower("s_name"),
                                  F.lit("supplier#000000001")).alias("dist")))


@register("orders_above_customer_avg", """
SELECT o_orderkey FROM orders o
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders i
                      WHERE i.o_custkey = o.o_custkey)
""")
def orders_above_customer_avg(spark, sf_dir):
    """Correlated scalar subquery, decorrelated by hand into the plan
    Catalyst would produce anyway: per-customer aggregate + equi-join.
    At scale this is one shuffle on o_custkey reused by both sides."""
    o = load(spark, sf_dir, "orders")
    avgs = o.groupBy(F.col("o_custkey").alias("ck")) \
            .agg(F.avg("o_totalprice").alias("avg_price"))
    return (o.join(avgs, o.o_custkey == avgs.ck)
            .filter(F.col("o_totalprice") > F.col("avg_price"))
            .select("o_orderkey"))


@register("rollup_lang_source", """
SELECT lang, source, COUNT(*) AS n
FROM documents GROUP BY ROLLUP (lang, source)
""")
def rollup_lang_source(spark, sf_dir):
    return (load(spark, sf_dir, "documents", fan_out=True)
            .rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n")))


@register("hourly_event_stats", """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""")
def hourly_event_stats(spark, sf_dir):
    """Streaming-analog tumbling-hour aggregate (§2.H streaming row);
    the same plan runs under readStream + withWatermark on a live feed."""
    return (load(spark, sf_dir, "events")
            .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dec_sum(F.col("value")).alias("sum_value")))


@register("event_sessions", """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM g
)
SELECT user_id,
       user_id::VARCHAR || '#' || session_no::VARCHAR AS session_id,
       COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY user_id, session_no
""")
def event_sessions_q(spark, sf_dir):
    """Gap sessionization (30-min session windows) — the batch twin of
    Structured Streaming session windows."""
    return temporal.sessionize(load(spark, sf_dir, "events"))


@register("asof_prior_click", """
SELECT e.event_id, e.user_id, e.ts, c.click_event_id, c.click_ts
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, event_id AS click_event_id, ts AS click_ts
      FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id AND epoch_us(c.click_ts) <= epoch_us(e.ts)
QUALIFY ROW_NUMBER() OVER (PARTITION BY e.event_id
                           ORDER BY c.click_ts DESC, c.click_event_id DESC) = 1
""")
def asof_prior_click(spark, sf_dir):
    """As-of join: for each error event, the user's most recent click at
    or before it.  Spark side is the union-merge window operator (one
    shuffle, no quadratic candidate join); oracle states the same
    semantics naively."""
    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error") \
               .select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id",
                       F.col("event_id").alias("click_event_id"),
                       F.col("ts").alias("click_ts"))
    return temporal.asof_join(errors, clicks, key="user_id",
                              left_ts="ts", right_ts="click_ts",
                              right_cols=("click_event_id", "click_ts"),
                              right_order=("click_ts", "click_event_id"))


@register("cube_event_stats", """
SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY CUBE (event_type, hr)
""")
def cube_event_stats(spark, sf_dir):
    return (load(spark, sf_dir, "events")
            .withColumn("hr", F.hour("ts").cast("long"))
            .cube("event_type", "hr")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dec_sum(F.col("value")).alias("sum_value")))


@register("event_value_percentiles", """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
""")
def event_value_percentiles(spark, sf_dir):
    """Exact continuous percentiles (sort-based aggregate).  At 100 TB
    the approximate sketch (approx_percentile / t-digest) replaces
    this plan; exact is the oracle-comparable baseline."""
    return (load(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90")))


@register("distinct_users_per_type", """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
""")
def distinct_users_per_type(spark, sf_dir):
    """Distinct aggregate (expand + two-phase agg in Spark); the scale
    variant is approx_count_distinct (HLL) which trades exactness."""
    return (load(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events")))


@register("window_running_stats", """
SELECT o_custkey, o_orderkey,
       round(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_spend,
       NTILE(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice, o_orderkey) AS spend_quartile
FROM orders
""")
def window_running_stats(spark, sf_dir):
    """Running-total + ntile window breadth: cumulative customer spend
    in strict (date, orderkey) order — the total order makes the
    double prefix-sum sequence identical in both engines — and spend
    quartiles per customer."""
    o = load(spark, sf_dir, "orders")
    w_run = (Window.partitionBy("o_custkey")
             .orderBy("o_orderdate", "o_orderkey")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tile = Window.partitionBy("o_custkey").orderBy("o_totalprice",
                                                     "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_run), 4)
        .alias("running_spend"),
        F.ntile(4).over(w_tile).alias("spend_quartile"))


@register("events_error_click_window", """
WITH err AS (SELECT event_id, user_id, ts FROM events
             WHERE event_type = 'error'),
clk AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
c AS (
  SELECT e.event_id, COUNT(*) AS n_near_clicks
  FROM err e JOIN clk k ON e.user_id = k.user_id
   AND abs(epoch_us(k.ts) - epoch_us(e.ts)) <= 5 * 60 * 1000000
  GROUP BY 1
)
SELECT e.event_id, COALESCE(c.n_near_clicks, 0) AS n_near_clicks
FROM err e LEFT JOIN c USING (event_id)
""")
def events_error_click_window(spark, sf_dir):
    """Range (interval) join, bucketed: clicks within ±5 minutes of
    each error by the same user.  The operator explodes the left side
    to its time bucket ±1 and equi-joins on (key, bucket), bounding
    candidates to ~3 windows of events instead of the user's whole
    history — the naive per-key cross product is the oracle."""
    ev = load(spark, sf_dir, "events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select("event_id", "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts"))
    pairs = temporal.range_join(errors, clicks.withColumn(
        "click_ts", F.col("ts")), "user_id", "ts", "ts", 5,
        ["event_id"], ["click_ts"])
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_near_clicks"))
    return (errors.select("event_id").join(counts, "event_id", "left")
            .select("event_id", F.coalesce("n_near_clicks", F.lit(0))
                    .alias("n_near_clicks")))


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register("pivot_user_event_matrix", f"""
SELECT user_id % 50 AS user_bucket,
       {', '.join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
                  for t in _EVENT_TYPES)}
FROM events GROUP BY 1
""")
def pivot_user_event_matrix(spark, sf_dir):
    """Pivot (long -> wide): per user-bucket counts per event type.
    The pivot value list is EXPLICIT — with an inferred list Spark
    first runs a distinct scan AND the output schema becomes
    data-dependent; fixed values keep the plan one pass and the
    schema stable (the 100 TB rule for pivots).  Oracle replays it as
    portable FILTER aggregates."""
    ev = load(spark, sf_dir, "events")
    piv = (ev.withColumn("user_bucket", F.col("user_id") % 50)
           .groupBy("user_bucket")
           .pivot("event_type", list(_EVENT_TYPES))
           .agg(F.count(F.lit(1))))
    out = piv.select("user_bucket",
                     *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                       for t in _EVENT_TYPES])
    return out


@register("approx_event_value_percentiles", """
SELECT event_type, true AS ok_p50, true AS ok_p90, true AS ok_p99
FROM (SELECT DISTINCT event_type FROM events)
""")
def approx_event_value_percentiles(spark, sf_dir):
    """The 100 TB percentile plan: percentile_approx (Greenwald-Khanna
    sketch, mergeable partials — no global sort) replaces the exact
    sort-based percentile of `event_value_percentiles`.

    Oracle contract = the sketch's own RANK guarantee: the returned
    quantile's rank among the group's values must be within 1%·n + 1
    of the target rank q·n (value-space tolerances are meaningless at
    tail quantiles of small groups, where exact interpolates between
    two sparse points).  Deterministic for a given dataset, so the
    flags are stable hash-comparable facts.  Production drops the
    rank-verification join; it exists only to prove the bound."""
    ev = load(spark, sf_dir, "events")
    ap = F.percentile_approx("value", [0.5, 0.9, 0.99], 10000)
    g = ev.groupBy("event_type").agg(ap.alias("ap"),
                                     F.count(F.lit(1)).alias("n"))
    j = ev.join(F.broadcast(g), "event_type")
    ranks = j.groupBy("event_type").agg(
        *[F.sum(F.when(F.col("value") <= F.element_at("ap", i), 1)
                .otherwise(0)).alias(f"r{i}") for i in (1, 2, 3)],
        F.first("n").alias("n"))
    def ok(i, q):
        tol = 0.01 * F.col("n") + 1
        return F.abs(F.col(f"r{i}") - q * F.col("n")) <= tol
    return ranks.select("event_type", ok(1, 0.5).alias("ok_p50"),
                        ok(2, 0.9).alias("ok_p90"),
                        ok(3, 0.99).alias("ok_p99"))


@register("approx_distinct_users_per_type", """
SELECT event_type, true AS within_5pct
FROM (SELECT DISTINCT event_type FROM events)
""")
def approx_distinct_users_per_type(spark, sf_dir):
    """The 100 TB distinct-count plan: approx_count_distinct
    (HyperLogLog++, constant-size mergeable sketch — the shuffle
    carries one sketch per group instead of the expanded distinct
    stream) replacing `distinct_users_per_type`'s exact expand.

    Oracle contract = bounded error: the HLL estimate must be within
    5% of the exact count per group (deterministic for a given
    dataset).  The exact branch exists only to verify the bound."""
    g = (load(spark, sf_dir, "events")
         .groupBy("event_type")
         .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
              F.countDistinct("user_id").alias("exact_users")))
    within = (F.abs(F.col("approx_users") - F.col("exact_users"))
              <= 0.05 * F.col("exact_users"))
    return g.select("event_type", within.alias("within_5pct"))


@register("events_json_extract", """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
FROM events
""")
def events_json_extract(spark, sf_dir):
    return (load(spark, sf_dir, "events")
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("int")
                    .alias("k_val")))


# ===========================================================================
# text (extraction analogs + analysis)
# ===========================================================================

@register("sanitize_slug", """
SELECT doc_id,
       regexp_replace(source || '/' || substr(text, 1, 30),
                      '[\\\\/*?:"<>|]', '_', 'g') AS slug
FROM documents
""")
def sanitize_slug(spark, sf_dir):
    """B4 filename sanitizer as a column op (utils.py:87-98)."""
    raw = F.concat(F.col("source"), F.lit("/"), F.substring("text", 1, 30))
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    F.regexp_replace(raw, r'[\\/*?:"<>|]', "_").alias("slug")))


@register("clean_text_collapse", """
SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS clean
FROM documents
""")
def clean_text_collapse(spark, sf_dir):
    """F1 whitespace-collapse step (utils.py:81)."""
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    F.trim(F.regexp_replace("text", r"\s+", " "))
                    .alias("clean")))


# A4/F3 fnmatch-glob exclusion.  fnmatch.translate emits Python-specific
# syntax ((?s:...)\Z), so the equivalent RE2/Java-portable pattern for the
# globs ('src1*', 'src*2') is pinned explicitly and shared by both engines.
_GLOB_PATTERN = "^(src1.*|src.*2)$"


@register("glob_exclude_filter",
          "SELECT doc_id, source FROM documents "
          f"WHERE NOT regexp_matches(source, '{_GLOB_PATTERN}')")
def glob_exclude_filter(spark, sf_dir):
    return (load(spark, sf_dir, "documents", fan_out=True)
            .filter(~F.col("source").rlike(_GLOB_PATTERN))
            .select("doc_id", "source"))


@register("md_title_probe", """
WITH md AS (
  SELECT doc_id,
         '# ' || substr(text, 1, 30) || chr(10) || substr(text, 31, 40) AS markdown
  FROM documents
)
SELECT doc_id,
       replace(regexp_extract(markdown, '(?m)^# (.*)$', 1), '# ', '') AS md_title
FROM md
""")
def md_title_probe(spark, sf_dir):
    """B3 markdown-title probe (scraper.py:860-882): first '# ' line,
    then the reference's strip-ALL-occurrences quirk ('# ' removed
    everywhere in the line, not just the prefix)."""
    md = F.concat(F.lit("# "), F.substring("text", 1, 30),
                  F.lit("\n"), F.substring("text", 31, 40))
    title = F.replace(F.regexp_extract(md, r"(?m)^# (.*)$", 1),
                      F.lit("# "), F.lit(""))
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", title.alias("md_title")))


@register("relative_url_strip", """
WITH u AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN '/docs' ELSE '/blog' END)
         || '/' || source ||
         (CASE WHEN doc_id % 3 = 0 THEN '/docs/extra' ELSE '' END) AS url_path
  FROM documents
)
SELECT doc_id,
       CASE WHEN replace(url_path, '/docs', '') <> url_path
            THEN replace(url_path, '/docs', '')
            ELSE url_path END AS rel_path
FROM u
""")
def relative_url_strip(spark, sf_dir):
    """D5 root-path strip (scraper.py:217-245): str.replace removes
    EVERY occurrence of the root path (so '/docs/a/docs/b' -> '/a/b'),
    and the original is returned when nothing changed."""
    url_path = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("/docs")).otherwise(F.lit("/blog")),
        F.lit("/"), F.col("source"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/docs/extra")).otherwise(F.lit("")))
    stripped = F.replace(url_path, F.lit("/docs"), F.lit(""))
    rel = F.when(stripped != url_path, stripped).otherwise(url_path)
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", rel.alias("rel_path")))


@register("url_file_order", """
SELECT ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos,
       'https://docs.test/' || doc_id AS url
FROM documents
""")
def url_file_order(spark, sf_dir):
    """A2 url-file source (scraper.py:753-767): blank lines dropped,
    order and duplicates preserved.  The url file is materialized by
    the fixture layer (sources/fixtures.url_file_fixture — pyarrow,
    written once, no Spark collect); the sparse monotonic positions are
    re-ranked into contiguous file order distributively (per-split rank
    + broadcast prefix-sum offsets, no global single-partition sort)."""
    from mdscraper_spark.operators.links import (url_file_source,
                                                 with_contiguous_pos)
    from mdscraper_spark.sources.fixtures import url_file_fixture

    return with_contiguous_pos(url_file_source(spark,
                                               url_file_fixture(sf_dir)))


@register("site_seed_harvest", """
WITH l AS (
  SELECT 'https://docs.test/' || doc_id AS url, 0 AS pos,
         '/local/' || source AS url_path, source AS page_name
  FROM documents
  UNION ALL
  SELECT 'https://docs.test/' || doc_id, 1,
         '/a/' || doc_id, doc_id::VARCHAR
  FROM documents
)
SELECT url, pos, 'https://site.test' || url_path AS harvested_url
FROM l WHERE NOT regexp_matches(page_name, '^(src1.*)$')
""")
def site_seed_harvest(spark, sf_dir):
    """A3+A4 (scraper.py:666-709): per-seed link harvest with
    foreign-host absolutes rewritten onto the site root (path only),
    glob page exclusion, document order preserved."""
    from mdscraper_spark.operators.links import site_seed_urls

    seeds = (load(spark, sf_dir, "documents", fan_out=True)
             .select(F.concat(F.lit("https://docs.test/"),
                              F.col("doc_id")).alias("url"),
                     F.array(
                         F.concat(F.lit("/local/"), F.col("source")),
                         F.concat(F.lit("https://foreign.example/a/"),
                                  F.col("doc_id"))).alias("links")))
    return site_seed_urls(seeds, "https://site.test",
                          exclude_pages=("src1*",))


@register("heading_space_insert", """
WITH md AS (
  SELECT doc_id,
         '# Title' || chr(10) || '## ' || source || chr(10) ||
         'body ' || substr(text, 1, 20) || chr(10) || '### end' AS m
  FROM documents
), sp AS (
  SELECT doc_id, split_part(m, chr(10), 1) AS head,
         substr(m, length(split_part(m, chr(10), 1)) + 2) AS rest
  FROM md
)
SELECT doc_id,
       head || chr(10) ||
       regexp_replace(rest, '(?m)^(## |### )',
                      chr(10) || chr(10) || chr(10) || '\\1', 'g') AS spaced
FROM sp
""")
def heading_space_insert(spark, sf_dir):
    """E3 heading-space insertion (scraper.py:270-315): three empty
    lines before each level-2/3 heading, never before the first line.
    First line is split off (portable: RE2 has no lookbehind), the
    rest gets the anchored multiline insert — '## ' cannot match
    inside '### ' because the level-regex requires the space."""
    md = F.concat(F.lit("# Title\n## "), F.col("source"),
                  F.lit("\nbody "), F.substring("text", 1, 20),
                  F.lit("\n### end"))
    head = F.substring_index(md, "\n", 1)
    rest = F.substring(md, F.length(head) + F.lit(2), F.length(md))
    spaced = F.concat(head, F.lit("\n"),
                      F.regexp_replace(rest, r"(?m)^(## |### )",
                                       "\n\n\n$1"))
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", spaced.alias("spaced")))


@register("doc_token_stats", f"""
SELECT doc_id,
       {textstats.sql_token_count_ws('text')} AS n_ws_tokens,
       {textstats.sql_token_count_bpe('text')} AS n_bpe_tokens
FROM documents
""")
def doc_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", fan_out=True)
    return docs.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        textstats.token_count_bpe_ish(F.col("text")).alias("n_bpe_tokens"))


@register("doc_lang_guess", f"""
SELECT doc_id, {textstats.sql_lang_guess('text')} AS lang_guess
FROM documents
""")
def doc_lang_guess(spark, sf_dir):
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    textstats.lang_guess(F.col("text")).alias("lang_guess")))


@register("doc_quality_score", f"""
SELECT doc_id, {textstats.sql_quality_score('text')} AS quality
FROM documents
""")
def doc_quality_score(spark, sf_dir):
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    textstats.quality_score(F.col("text")).alias("quality")))


@register("doc_fingerprint", f"""
SELECT doc_id, {textstats.sql_doc_fingerprint('text')} AS fp
FROM documents
""")
def doc_fingerprint_q(spark, sf_dir):
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    textstats.doc_fingerprint(F.col("text")).alias("fp")))


@register("doc_repetition_stats", f"""
WITH t AS (
  SELECT doc_id, {dedup.sql_tokens('text')} AS toks
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS b
  FROM t WHERE len(toks) >= 2
), counts AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2
), top AS (
  SELECT doc_id, MAX(c) AS best, SUM(c) AS total FROM counts GROUP BY 1
)
SELECT d.doc_id,
       {textstats.sql_dup_line_frac('d.text')} AS dup_line_frac,
       COALESCE(round(top.best / CAST(top.total AS DOUBLE), 6), 0.0)
         AS top_bigram_frac
FROM documents d LEFT JOIN top USING (doc_id)
""")
def doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality filters: duplicate-line fraction
    and most-frequent-bigram occupancy, per doc — pure column
    expressions (per-doc array folds, no shuffle); the SQL twin
    recomputes the bigram mode relationally."""
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    textstats.dup_line_frac(F.col("text"))
                    .alias("dup_line_frac"),
                    textstats.top_bigram_frac(F.col("text"))
                    .alias("top_bigram_frac")))


@register("doc_split_assignment", f"""
SELECT doc_id, {textstats.sql_hash_split('doc_id')} AS split
FROM documents
""")
def doc_split_assignment(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by salted md5
    bucket — stable across engines, partitionings, and reruns (the
    anti-random() split a 100 TB pipeline needs for reproducibility)."""
    return (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id",
                    textstats.hash_split(F.col("doc_id")).alias("split")))


_SPAN_BOILER = ("promo sale click here now join our newsletter today free "
                "shipping on all orders over fifty dollars act fast limited")


_POLICY_RULES = (
    ("site0.example.com", "/admin"),
    ("site0.example.com", "/p/1"),
    ("site2.example.com", "/"),
    ("site4.example.com", "/private/"),
)


@register("crawl_policy_filter", f"""
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN 'not-a-url-' || doc_id
              ELSE 'https://Site' || (doc_id % 7) || '.Example.com'
                || (CASE doc_id % 5
                      WHEN 0 THEN '/admin/panel'
                      WHEN 1 THEN '/p/' || (doc_id % 30)
                      WHEN 2 THEN ''
                      WHEN 3 THEN '/private/' || doc_id
                      ELSE '/public/x' END)
                || (CASE WHEN doc_id % 3 = 0 THEN '?utm=x' ELSE '' END)
         END AS url
  FROM documents
), r AS (
  SELECT * FROM (VALUES {", ".join(f"('{h}', '{p}')" for h, p in _POLICY_RULES)})
    AS t(host, path_prefix)
), p AS (
  SELECT url,
         CASE WHEN h <> '' THEN h END AS host,
         CASE WHEN h <> '' THEN
           (CASE WHEN pth <> '' THEN pth ELSE '/' END) END AS path
  FROM (
    SELECT url,
           lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS h,
           regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth
    FROM u)
)
SELECT p.url, p.host, p.path,
       (p.host IS NOT NULL AND count(r.path_prefix) = 0) AS allowed
FROM p LEFT JOIN r
  ON p.host = r.host AND starts_with(p.path, r.path_prefix)
GROUP BY p.url, p.host, p.path
""")
def crawl_policy_filter(spark, sf_dir):
    """Robots-style crawl-policy filtering (J40): the stage between
    frontier dedup and fetch.  A fixed disallow table (prefix rules,
    incl. a disallow-all host and a prefix that catches /p/1, /p/10-19
    ...) screens doc_id-derived URLs built identically in both engines;
    mixed-case hosts exercise the case normalization, query strings
    prove the match is on the path only, and the not-a-url rows pin
    the unattributable-means-disallowed rule."""
    did = F.col("doc_id")

    def cstr(c):
        return c.cast("string")

    path = (F.when(did % 5 == 0, F.lit("/admin/panel"))
            .when(did % 5 == 1, F.concat(F.lit("/p/"), cstr(did % 30)))
            .when(did % 5 == 2, F.lit(""))
            .when(did % 5 == 3, F.concat(F.lit("/private/"), cstr(did)))
            .otherwise(F.lit("/public/x")))
    url = F.concat(F.lit("https://Site"), cstr(did % 7),
                   F.lit(".Example.com"), path,
                   F.when(did % 3 == 0, F.lit("?utm=x")).otherwise(F.lit("")))
    url = F.when(did % 97 == 0,
                 F.concat(F.lit("not-a-url-"), cstr(did))).otherwise(url)
    urls = (load(spark, sf_dir, "documents", fan_out=True)
            .select(url.alias("url")))
    rules = spark.createDataFrame(list(_POLICY_RULES),
                                  "host string, path_prefix string")
    return links.crawl_policy_filter(urls, rules)


@register("corpus_bigram_counts",
          textstats.sql_corpus_ngram_counts("documents", n=2,
                                            min_count=2, top_k=100))
def corpus_bigram_counts(spark, sf_dir):
    """Corpus-wide bigram frequency table (J39): top-100 bigrams with
    occurrence and document counts, singleton tail pruned — the
    artifact tokenizer training / LM smoothing / boilerplate mining
    consume.  Boundary determinism: total order (count DESC, ngram
    ASC), so the LIMIT cut is identical in both engines."""
    return textstats.corpus_ngram_counts(
        load(spark, sf_dir, "documents", fan_out=True),
        n=2, min_count=2, top_k=100)


@register("doc_unigram_logprob",
          textstats.sql_unigram_logprob("documents", min_count=2))
def doc_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality score (round 5): per-doc mean unigram
    log-probability under the corpus's own unigram LM, rare-token
    floor at 1/total — the signal curation pipelines rank on between
    the heuristic quality score and a real LM.  One token groupBy +
    one Zipf-skewed join (AQE skew split) + map-side-combined per-doc
    mean; the oracle replays tokenization, the min_count floor and the
    rounding point identically."""
    return textstats.unigram_logprob(
        load(spark, sf_dir, "documents", fan_out=True), min_count=2)


@register("doc_tfidf_keywords",
          textstats.sql_tfidf_topk("documents", k=5))
def doc_tfidf_keywords(spark, sf_dir):
    """Top-5 tf-idf keywords per document (round 5): tf and df are one
    map-side-combined groupBy each, the tf ⋈ df join rides AQE's skew
    split on the Zipf token key, and the per-doc head is a row_number
    window — never a global sort.  Ranking on the rounded score with
    token tie-break keeps the cut boundary engine-identical."""
    return textstats.tfidf_topk(
        load(spark, sf_dir, "documents", fan_out=True), k=5)


@register("winnowing_fingerprints",
          dedup.sql_winnowing_fingerprints("documents"))
def winnowing_fingerprints_q(spark, sf_dir):
    """Winnowing (MOSS) local fingerprints per document (round 5):
    k-gram md5-prefix hashes, min-of-window with rightmost tie, the
    2/(w+1)-density selection whose guarantee is that any shared
    canonical substring of >= k+w-1 chars shares a fingerprint.  The
    emitted sorted-set digest pins selection exactly; narrow per-row
    array expressions, zero shuffle."""
    return dedup.winnowing_fingerprints(
        load(spark, sf_dir, "documents", fan_out=True))


@register("winnowing_shared_pairs",
          dedup.sql_winnowing_shared_pairs("documents", min_shared=4,
                                           max_posting=16))
def winnowing_shared_pairs_q(spark, sf_dir):
    """Cross-doc winnowing matches (round 5): pairs ranked by DISTINCT
    shared fingerprint hashes — MOSS's match signal.  Posting list via
    one explode + count pass; singleton and over-cap (boilerplate)
    hashes pruned by a co-partitioned join-back before the per-hash
    self-join, so pair fan-out is bounded by cap² per hash and the
    corpus never pays a cartesian."""
    return dedup.winnowing_shared_pairs(
        load(spark, sf_dir, "documents", fan_out=True),
        min_shared=4, max_posting=16)


@register("gopher_rules_filter", textstats.sql_gopher_rules("documents"))
def gopher_rules_filter(spark, sf_dir):
    """Gopher/MassiveText rule-filter breakdown (round 5): the
    per-rule booleans curation forensics needs (which rule killed a
    doc), published thresholds, every rule compared against the
    rounded fraction it also emits so the oracle agrees at rule
    boundaries by construction.  Narrow per-row projection — zero
    shuffle."""
    return textstats.gopher_rules(
        load(spark, sf_dir, "documents", fan_out=True))


@register("ccnet_quality_buckets",
          textstats.sql_ccnet_quality_buckets("documents"))
def ccnet_quality_buckets_q(spark, sf_dir):
    """CCNet head/middle/tail quality tertiles per detected language
    (round 5): rank by the corpus-unigram-LM score inside each
    language, cut by rank arithmetic (rn*3 <= cnt) with doc_id as the
    total-order tie-break — the deterministic twin of CCNet's
    perplexity-sorted corpus split.  LM scoring pays unigram_logprob's
    one token groupBy + skew-handled join; the cut is a per-language
    window (per-partition external sort; production swap documented in
    the operator docstring)."""
    return textstats.ccnet_quality_buckets(
        load(spark, sf_dir, "documents", fan_out=True))


# the corpus is single-line by construction, so the row PLANTS a
# deterministic multi-line page per doc_id (census-page convention):
# line 1 terminal-punctuates the real text (kept), line 2 fails the
# min-words floor, lines 3-5 toggle a policy phrase / javascript /
# lorem-ipsum on doc_id moduli, line 6 plants the curly-brace page
# drop — every C4 rule fires somewhere in the driver-checked output
_C4_PLANT_SQL = """(
  SELECT doc_id,
         concat_ws(chr(10),
           text || '.',
           'tiny line.',
           CASE WHEN doc_id % 3 = 0
                THEN 'this site uses cookies every day.'
                ELSE 'an ordinary keepable sentence with words.' END,
           CASE WHEN doc_id % 5 = 0
                THEN 'enable javascript to continue reading now.'
                ELSE 'a second keepable sentence with words!' END,
           CASE WHEN doc_id % 7 = 0
                THEN 'Lorem ipsum dolor sit amet friends.'
                ELSE 'closing line has enough words here?' END,
           CASE WHEN doc_id % 11 = 0
                THEN 'code { sample'
                ELSE '' END) AS text
  FROM documents)"""


@register("c4_line_filter", textstats.sql_c4_line_filter(_C4_PLANT_SQL))
def c4_line_filter_q(spark, sf_dir):
    """C4 line-level cleaning breakdown (round 5): Raffel et al.'s
    published heuristics that built the Colossal Clean Crawled Corpus
    — terminal-punctuation + min-words + javascript/policy-phrase
    line drops, lorem-ipsum / curly-brace page drops, >=3 kept lines
    — emitting per-rule evidence AND the cleaned text so the survivor
    corpus materializes in the same pass.  Narrow per-row projection:
    zero shuffle, zero UDF; the line-keep predicate is a single
    interpreted-HOF filter per row."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("tiny line."),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("this site uses cookies every day."))
             .otherwise(F.lit("an ordinary keepable sentence with words.")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("enable javascript to continue reading now."))
             .otherwise(F.lit("a second keepable sentence with words!")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("Lorem ipsum dolor sit amet friends."))
             .otherwise(F.lit("closing line has enough words here?")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit("code { sample")).otherwise(F.lit("")),
        ).alias("text"))
    return textstats.c4_line_filter(planted)


@register("dsir_importance_weights",
          textstats.sql_dsir_importance_weights(
              "documents", "doc_id % 7 = 0", buckets=1024))
def dsir_importance_weights_q(spark, sf_dir):
    """DSIR importance weights (round 5): Xie et al.'s (NeurIPS 2023)
    hashed-ngram importance resampling — every raw doc scored by
    sum ln(p_target/p_raw) over its hashed word uni+bigram occurrences
    under add-one-smoothed bag-of-buckets models, the signal that
    tilts a raw crawl toward a quality target without a classifier.
    Target here = the deterministic doc_id%7 sample of the same corpus
    (census-page convention).  Two BUCKETS-bounded count passes, the
    log-ratio table broadcast back to the feature stream, one
    map-side-combinable per-doc sum."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    return textstats.dsir_importance_weights(
        docs, docs.filter(F.col("doc_id") % 7 == 0), buckets=1024)


# the corpus text is near-repetition-free, so the row PLANTS graded
# repetition from doc_id (census-page convention): doc_id % 5 copies of
# a spam phrase stress the n-gram fractions at every n, and doc_id % 3
# plants a duplicated line so the line battery fires too
_GOPHER_REP_PLANT_SQL = """(
  SELECT doc_id,
         text || repeat(' spam phrase alpha beta gamma', doc_id % 5)
              || chr(10) ||
         CASE WHEN doc_id % 3 = 0
              THEN 'dup line here' || chr(10) || 'dup line here'
              ELSE 'solo closing line' END AS text
  FROM documents)"""


@register("gopher_repetition_stats",
          textstats.sql_gopher_repetition(_GOPHER_REP_PLANT_SQL))
def gopher_repetition_stats(spark, sf_dir):
    """MassiveText/Gopher REPETITION battery (round 5): duplicate-line
    fraction + char fraction, most-frequent {2,3,4}-gram char coverage,
    duplicated {5..10}-gram char coverage, each against the published
    table-A1 threshold on the rounded value; rep_pass is the AND of all
    eleven.  Narrow per-row sorted-array folds (zero shuffle, zero
    Python); the oracle recomputes every mode RELATIONALLY, so the two
    engines agree through entirely different plans."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(F.lit(" spam phrase alpha beta gamma"),
                     (F.col("doc_id") % 5).cast("int")),
            F.lit("\n"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("dup line here\ndup line here"))
             .otherwise(F.lit("solo closing line"))).alias("text"))
    return textstats.gopher_repetition(planted)


_SOFT_ERR_PLANT_SQL = """(
  SELECT doc_id,
         CASE doc_id % 7
           WHEN 1 THEN 'Error 404 - Page Not Found. ' || text
           WHEN 2 THEN 'Please enable JavaScript to continue. ' || text
           WHEN 3 THEN 'Sign in to continue reading. ' || text
           WHEN 4 THEN 'Subscribe to continue reading. ' || text
           WHEN 5 THEN 'buy this domain today. ' || text
           ELSE text END AS text
  FROM documents)"""


@register("soft_error_page_flags",
          textstats.sql_soft_error_flags(_SOFT_ERR_PLANT_SQL))
def soft_error_page_flags(spark, sf_dir):
    """Soft-error page detection (J58): the crawl-noise battery every
    production corpus filters before training — soft-404s served with
    HTTP 200, javascript walls, login walls, paywalls, parked domains
    — as per-doc boolean flags over the page head (error boilerplate
    fronts the page; the bounded scan keeps regex cost flat).  Narrow
    codegen projection.  The corpus plants one marker family per
    doc_id % 7 class, constructed identically in both engines."""
    did = F.col("doc_id")
    planted = (F.when(did % 7 == 1,
                      F.concat(F.lit("Error 404 - Page Not Found. "),
                               F.col("text")))
               .when(did % 7 == 2,
                     F.concat(F.lit("Please enable JavaScript to "
                                    "continue. "), F.col("text")))
               .when(did % 7 == 3,
                     F.concat(F.lit("Sign in to continue reading. "),
                              F.col("text")))
               .when(did % 7 == 4,
                     F.concat(F.lit("Subscribe to continue reading. "),
                              F.col("text")))
               .when(did % 7 == 5,
                     F.concat(F.lit("buy this domain today. "),
                              F.col("text")))
               .otherwise(F.col("text")))
    docs = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", planted.alias("text")))
    return textstats.soft_error_flags(docs)


@register("er_blocking_pairs",
          dedup.sql_sorted_neighborhood_pairs(
              "part", "p_name", "p_partkey", window=4, block_chars=2))
def er_blocking_pairs(spark, sf_dir):
    """Sorted-neighborhood entity-resolution blocking (J57, Hernandez &
    Stolfo SIGMOD 1995) over the part-name catalog: candidate pairs =
    records within 4 positions of the (name, id) order INSIDE each
    2-char name block, scored with Levenshtein — n*(w-1) candidates,
    never the n² of all-pairs.  Per-block windows keep the sort
    parallel (a global window would collapse to one partition); the
    boundary-pair loss is the published multi-pass trade-off."""
    return dedup.sorted_neighborhood_pairs(
        load(spark, sf_dir, "part", fan_out=True),
        "p_name", "p_partkey", window=4, block_chars=2)


@register("er_blocking_multipass",
          dedup.sql_multipass_blocking_pairs(
              "part", "p_name", "p_partkey", window=4, block_chars=2))
def er_blocking_multipass(spark, sf_dir):
    """Multi-pass sorted-neighborhood blocking (J57's published
    boundary-loss remedy): the J57 pass unioned with a second pass
    keyed on the word-order-REVERSED name (records agreeing in their
    tails block together), pair identity normalized id_a < id_b,
    n_passes counting how many passes proposed each pair (2 = strong
    prior).  Two parallel per-block window sorts + one map-side-
    combinable pair groupBy — still zero self-joins."""
    return dedup.multipass_blocking_pairs(
        load(spark, sf_dir, "part", fan_out=True),
        "p_name", "p_partkey", window=4, block_chars=2)


@register("doc_lexical_diversity",
          textstats.sql_lexical_stats("documents"))
def doc_lexical_diversity(spark, sf_dir):
    """Lexical-diversity battery (J55): type-token ratio, hapax
    fraction, and a-z letter entropy per doc — the gibberish /
    template-boilerplate detector family (keyboard mash: high entropy,
    low type reuse; boilerplate: low on all three).  One narrow
    projection — a sorted-array run-length fold for the type/hapax
    census plus 26 fixed-order codegen length-diffs for the entropy;
    the oracle recomputes the census relationally (unnest + group)."""
    return textstats.lexical_stats(
        load(spark, sf_dir, "documents", fan_out=True))


# the synthetic embeddings are near-orthogonal (no natural near-dups),
# so the row PLANTS exact-duplicate classes deterministically from
# vec_id (census-page convention): every vec_id % 11 == 0 row takes the
# ORIGINAL embedding of vec_id % 7, making 7 duplicate families
# {b} + {v : v%11==0, v%7==b} that land in one cell and must each
# elect exactly one survivor
_SEMDEDUP_PLANT_SQL = """(
  SELECT e.vec_id,
         CASE WHEN e.vec_id % 11 = 0 THEN b.embedding
              ELSE e.embedding END AS embedding
  FROM embeddings e JOIN embeddings b ON b.vec_id = e.vec_id % 7)"""


@register("semdedup_flags",
          similarity.sql_semdedup(_SEMDEDUP_PLANT_SQL, n_cells=8,
                                  threshold=0.95))
def semdedup_flags(spark, sf_dir):
    """SemDeDup (round 5): Abbas et al.'s semantic dedup — k-means/IVF
    cells, then within each cell drop every vector whose cosine to a
    kept-priority predecessor (centroid_sim ASC, vec_id ASC — the
    paper's keep-the-cluster-edge rule) reaches the threshold.  Cell
    assignment broadcasts the centroids; the pair stage is one cid
    equi-join bounded by sum(cell_size^2) — SemDeDup's own per-cluster
    quadratic, sqrt(N)-bounded under auto sizing; no corpus-wide
    cartesian."""
    e = load(spark, sf_dir, "embeddings", fan_out=True)
    base = (e.filter(F.col("vec_id") < 7)
            .select(F.col("vec_id").alias("b_id"),
                    F.col("embedding").alias("b_emb")))
    planted = (e.join(F.broadcast(base),
                      (F.col("vec_id") % 7) == F.col("b_id"))
               .select("vec_id",
                       F.when(F.col("vec_id") % 11 == 0, F.col("b_emb"))
                        .otherwise(F.col("embedding")).alias("embedding")))
    return similarity.semdedup(planted, n_cells=8, threshold=0.95)


@register("weighted_sample_docs",
          textstats.sql_weighted_sample_topk("documents", k=100))
def weighted_sample_docs(spark, sf_dir):
    """Weighted sampling without replacement (round 5): the
    Efraimidis–Spirakis exponential-key reservoir with a deterministic
    md5 coin — inclusion odds proportional to n_chars, identical
    sample across engines/partitionings/reruns, narrow per-row keying
    + TakeOrdered head (no global sort)."""
    return textstats.weighted_sample_topk(
        load(spark, sf_dir, "documents"), k=100)


@register("source_health_rollup",
          textstats.sql_source_health_rollup("""(
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, source FROM documents WHERE doc_id % 4 = 0
)"""))
def source_health_rollup(spark, sf_dir):
    """Per-source crawl-health dashboard (round 5): doc counts,
    within-source exact-dup rate, mean quality and mean token count
    per feed — the throttle/re-crawl/drop decision table.  Two
    map-side-combined groupBys, zero joins; the corpus gains an exact
    within-source twin of every fourth doc (built identically in both
    engines) so the dup columns are non-trivially exercised."""
    docs = load(spark, sf_dir, "documents", fan_out=True) \
        .select("doc_id", "text", "source")
    twins = (docs.filter(F.col("doc_id") % 4 == 0)
             .select((F.col("doc_id") + 100000).alias("doc_id"),
                     "text", "source"))
    return textstats.source_health_rollup(docs.unionByName(twins))


_MIX_WEIGHT_SQL = "1.0 + (CAST(substr(source, 4) AS INT) % 4)"


@register("corpus_mixture_schedule",
          textstats.sql_mixture_schedule("documents", _MIX_WEIGHT_SQL))
def corpus_mixture_schedule(spark, sf_dir):
    """Deterministic data-mixing schedule (round 5): every source
    internally shuffled by the md5 coin, then assigned an interleave
    arrival time src_rank/weight so streaming in mix_key order hits
    the per-source sampling rates at every prefix.  Weights here are a
    deterministic function of the source name (1 + srcN % 4), replayed
    verbatim by the oracle; one per-source window shuffle, no global
    sort."""
    weight = (F.lit(1.0)
              + (F.substring("source", 4, 10).cast("int") % 4))
    return textstats.mixture_schedule(
        load(spark, sf_dir, "documents"), weight)


@register("dup_span_stats", dedup.sql_dup_span_stats(f"""(
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         CASE WHEN doc_id % 4 = 0 THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents WHERE doc_id % 5 = 0)""", window=20, stride=20))
def dup_span_stats(spark, sf_dir):
    """Substring-level duplication stats (J37): fraction of 20-token
    non-overlapping windows occurring 2+ times in the corpus — the
    strided approximation of suffix-array dedup, between doc-level
    (J1) and paragraph-level (J32) granularity.  The corpus gains
    exact twins of every fifth doc (all windows dup) and a 20-token
    boilerplate PREFIX on every fourth doc (prefix length == window,
    so window 0 collides across those docs regardless of the body) —
    both constructed identically in both engines."""
    did = F.col("doc_id")
    boosted = F.when(did % 4 == 0,
                     F.concat(F.lit(_SPAN_BOILER + " "), F.col("text"))) \
               .otherwise(F.col("text"))
    base = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", boosted.alias("text")))
    twins = (base.filter(did % 5 == 0)
             .select((did + 100000).alias("doc_id"), "text"))
    return dedup.dup_span_stats(base.unionByName(twins),
                                window=20, stride=20)


@register("dup_span_scrub", dedup.sql_dup_span_scrub(f"""(
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         CASE WHEN doc_id % 4 = 0 THEN '{_SPAN_BOILER} ' || text
              ELSE text END AS text
  FROM documents WHERE doc_id % 5 = 0)""", window=20, stride=20))
def dup_span_scrub(spark, sf_dir):
    """Exact-substring dedup REMOVAL (J52, Lee et al. 2022): the
    excision counterpart of dup_span_stats on the identical boosted
    corpus — every duplicated 20-token window keeps its minimum
    (doc_id, window-index) occurrence and loses the covered tokens
    everywhere else; scrubbed_text is the surviving tokens rejoined.
    Same twin+boilerplate construction as dup_span_stats, so exact
    twins lose their full body and boilerplate prefixes survive only
    on the first prefixed doc."""
    did = F.col("doc_id")
    boosted = F.when(did % 4 == 0,
                     F.concat(F.lit(_SPAN_BOILER + " "), F.col("text"))) \
               .otherwise(F.col("text"))
    base = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", boosted.alias("text")))
    twins = (base.filter(did % 5 == 0)
             .select((did + 100000).alias("doc_id"), "text"))
    return dedup.dup_span_scrub(base.unionByName(twins),
                                window=20, stride=20)


@register("anchor_text_rollup", links.sql_anchor_rollup("""(
  SELECT 'https://site' || (doc_id % 5) || '.example.com/t/'
             || (doc_id % 40) AS href,
         'Topic ' || (doc_id % 80) AS anchor
  FROM documents
  UNION ALL
  SELECT 'HTTPS://Site' || (doc_id % 5) || '.Example.com:443/t/'
             || ((doc_id * 3) % 40) || '?utm_x=1',
         'Hot topic ' || ((doc_id * 3) % 40)
  FROM documents
  UNION ALL
  SELECT 'http://site' || (doc_id % 5) || '.example.com:80/t/'
             || ((doc_id + 7) % 40) || '#frag',
         'R & D ' || (doc_id % 10)
  FROM documents
  UNION ALL
  SELECT 'mailto:u' || doc_id || '@e.com', 'mail text'
  FROM documents)"""))
def anchor_text_rollup_q(spark, sf_dir):
    """Anchor-text corpus (J36b): harvest every <a href> with its
    rendered link text by REAL HTML parsing, then aggregate per
    canonical target — the web's entity-naming signal (plurality
    anchor = what the web calls each URL; distinct-anchor count =
    homonymy/popularity).  Generator-vs-parser differential: pages
    carry four links per doc derived from doc_id (nested markup +
    newline the parser must flatten, an &amp; entity it must decode,
    a mailto dropped by normalization, plus a whitespace-only anchor
    and an href-less <a> the harvest must skip), and DuckDB recomputes
    the expected (href, anchor) rows from the generating expressions
    without any parsing."""
    pages = docs_to_anchor_pages(load(spark, sf_dir, "documents",
                                      fan_out=True))
    return links.anchor_text_rollup(links.harvest_anchor_texts(pages))


@register("inlink_stats", links.sql_inlink_counts("""(
  SELECT CASE WHEN doc_id % 13 = 0 THEN 'page-' || doc_id
              ELSE 'HTTPS://Site' || (doc_id % 7) || '.Example.com/p/'
                   || doc_id
                   || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x'
                            ELSE '' END)
         END AS src_url,
         unnest(['https://site' || ((doc_id + 1) % 5)
                   || '.example.com/page/' || (doc_id % 50) || '/',
                 'HTTP://site' || (doc_id % 5)
                   || '.example.com:80/page/' || ((doc_id * 3) % 50)
                   || '#frag',
                 CASE WHEN doc_id % 11 = 0
                      THEN 'mailto:x' || doc_id || '@e.com'
                      ELSE 'https://site' || (doc_id % 5)
                           || '.example.com/page/' || ((doc_id + 17) % 50)
                           || '?b=2&a=1&utm_c=z' END]) AS href
  FROM documents)"""))
def inlink_stats(spark, sf_dir):
    """Webgraph in-link aggregation over canonical URLs (J36): per
    canonical target, total in-links and distinct referring hosts —
    the popularity signal crawl prioritizers and quality filters read.
    The synthetic link table derives three hrefs per doc from doc_id
    identically in both engines, with case/port/fragment/tracking
    noise that normalization must fold together, mailto rows (no
    canonical identity -> no edge) and unparseable sources (count as
    in-link, contribute no host)."""
    did = F.col("doc_id")

    def cstr(c):
        return c.cast("string")

    full_src = F.concat(
        F.lit("HTTPS://Site"), cstr(did % 7), F.lit(".Example.com/p/"),
        cstr(did),
        F.when(did % 3 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")))
    src = F.when(did % 13 == 0,
                 F.concat(F.lit("page-"), cstr(did))).otherwise(full_src)
    t1 = F.concat(F.lit("https://site"), cstr((did + 1) % 5),
                  F.lit(".example.com/page/"), cstr(did % 50), F.lit("/"))
    t2 = F.concat(F.lit("HTTP://site"), cstr(did % 5),
                  F.lit(".example.com:80/page/"), cstr((did * 3) % 50),
                  F.lit("#frag"))
    t3 = F.when(did % 11 == 0,
                F.concat(F.lit("mailto:x"), cstr(did), F.lit("@e.com"))) \
          .otherwise(F.concat(F.lit("https://site"), cstr(did % 5),
                              F.lit(".example.com/page/"),
                              cstr((did + 17) % 50),
                              F.lit("?b=2&a=1&utm_c=z")))
    edges = (load(spark, sf_dir, "documents", fan_out=True)
             .select(src.alias("src_url"),
                     F.explode(F.array(t1, t2, t3)).alias("href")))
    return links.inlink_counts(edges)


@register("corpus_shuffle",
          textstats.sql_corpus_shuffle("documents", 8))
def corpus_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle (J35): shard + dense
    within-shard training order from a salted md5 — no global sort,
    P independent shard-local sorts, reshuffles by changing the salt,
    identical order across engines/partitionings/reruns."""
    return textstats.corpus_shuffle(
        load(spark, sf_dir, "documents", fan_out=True), n_shards=8)


@register("normalized_exact_dedup", f"""
WITH c AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         '  ' || replace(upper(text), ' ',
                         CASE WHEN doc_id % 3 = 0 THEN ' , ' ELSE '  ' END)
            || ' !!!'
  FROM documents
)
SELECT md5({dedup.sql_canonical_text('text')}) AS content_hash,
       COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM c GROUP BY 1
""")
def normalized_exact_dedup(spark, sf_dir):
    """Normalized exact dedup (J34): exact dedup over the
    canonical_text form, so case, punctuation, and whitespace noise —
    the typical mirror-site / re-render delta — cannot hide an exact
    duplicate.  The registry row doubles the corpus with a noisy twin
    of every doc (uppercased, comma- or double-space-riddled, bang
    suffix, doc_id + 100000) built identically in both engines; every
    canonical group must therefore have n_docs >= 2 with the original
    doc as min_doc_id."""
    base = load(spark, sf_dir, "documents", fan_out=True) \
        .select("doc_id", "text")
    did = F.col("doc_id")
    noisy = base.select(
        (did + 100000).alias("doc_id"),
        F.concat(F.lit("  "),
                 F.regexp_replace(
                     F.upper("text"), F.lit(" "),
                     F.when(did % 3 == 0, F.lit(" , "))
                     .otherwise(F.lit("  "))),
                 F.lit(" !!!")).alias("text"))
    corpus = base.unionByName(noisy) \
        .select("doc_id", dedup.canonical_text(F.col("text")).alias("text"))
    return dedup.exact_dedup_groups(corpus)


@register("lang_balanced_sample",
          textstats.sql_balanced_sample("documents", 100))
def lang_balanced_sample(spark, sf_dir):
    """Quota-based language rebalancing (J33): Bernoulli-downsample
    each language toward 100 expected survivors with the deterministic
    salted-md5 coin.  At sf0.01 'en' (218 docs) is over-quota and the
    other languages (~64-75) are under-quota, so both the fractional
    rate and the rate=1.0 keep-all path execute."""
    return textstats.balanced_sample(
        load(spark, sf_dir, "documents", fan_out=True), quota=100)


@register("paragraph_dedup", """
WITH p AS (
  SELECT doc_id,
         'nav home about contact ' || coalesce(lang, 'und') || chr(10) ||
         text || chr(10) ||
         'promo follow us on social' || chr(10) ||
         'copyright 2025 ' || coalesce(source, 'unk') AS text
  FROM documents
), d AS (
  SELECT doc_id, str_split(text, chr(10)) AS paras FROM p
), e AS (
  SELECT doc_id, unnest(paras) AS para,
         CAST(unnest(range(0, len(paras))) AS BIGINT) AS pos
  FROM d
), r AS (
  SELECT doc_id, pos, para,
         (regexp_replace(para, '^\\s+|\\s+$', '', 'g') = '') AS wsonly,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM e
), k AS (
  SELECT doc_id, pos, para FROM r WHERE wsonly OR rn = 1
), g AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS sa,
         count(*) AS nk
  FROM k GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(g.sa, '') AS clean_text,
       CAST(t.n_paras - coalesce(g.nk, 0) AS BIGINT) AS n_removed
FROM (SELECT doc_id, len(paras) AS n_paras FROM d) t
LEFT JOIN g ON t.doc_id = g.doc_id
""")
def paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (J32, CCNet-style): the global
    first occurrence of each non-whitespace paragraph survives, later
    occurrences anywhere in the corpus are removed.  The synthetic
    corpus is single-line, so (dedup_lines pattern) each doc is
    wrapped in deterministic crawl boilerplate in BOTH engines: a
    per-lang nav line (one survivor per lang), a corpus-constant promo
    line (one survivor total), and a per-source copyright line (one
    survivor per source) around the body."""
    boiler = F.concat(F.lit("nav home about contact "),
                      F.coalesce(F.col("lang"), F.lit("und")))
    footer = F.concat(F.lit("copyright 2025 "),
                      F.coalesce(F.col("source"), F.lit("unk")))
    multi = F.concat_ws("\n", boiler, F.col("text"),
                        F.lit("promo follow us on social"), footer)
    injected = (load(spark, sf_dir, "documents", fan_out=True)
                .select("doc_id", multi.alias("text")))
    return dedup.paragraph_dedup(injected)


@register("host_boilerplate_scrub", """
WITH p AS (
  SELECT doc_id, coalesce(source, 'unk') AS host,
         'nav home about ' || coalesce(source, 'unk') || chr(10) ||
         text ||
         CASE WHEN doc_id % 100 < 40
              THEN chr(10) || 'subscribe to our newsletter' ELSE '' END ||
         chr(10) || 'copyright 2025 ' || coalesce(source, 'unk') AS text
  FROM documents
), d AS (
  SELECT doc_id, host, str_split(text, chr(10)) AS paras FROM p
), e AS (
  SELECT doc_id, host, unnest(paras) AS para,
         CAST(unnest(range(0, len(paras))) AS BIGINT) AS pos
  FROM d
), nz AS (
  SELECT * FROM e
  WHERE regexp_replace(para, '^\\s+|\\s+$', '', 'g') <> ''
), ht AS (
  SELECT host, count(DISTINCT doc_id) AS n_docs FROM p GROUP BY host
), lc AS (
  SELECT host, para, count(DISTINCT doc_id) AS n_line_docs
  FROM nz GROUP BY host, para
), bp AS (
  SELECT lc.host, lc.para
  FROM lc JOIN ht USING (host)
  WHERE n_line_docs >= greatest(3, CAST(ceil(0.5 * n_docs) AS BIGINT))
), k AS (
  SELECT e.doc_id, e.pos, e.para
  FROM e LEFT JOIN bp ON e.host = bp.host AND e.para = bp.para
  WHERE bp.para IS NULL
), g AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS sa,
         count(*) AS nk
  FROM k GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(g.sa, '') AS clean_text,
       CAST(t.n_paras - coalesce(g.nk, 0) AS BIGINT) AS n_removed
FROM (SELECT doc_id, len(paras) AS n_paras FROM d) t
LEFT JOIN g ON t.doc_id = g.doc_id
""")
def host_boilerplate_scrub(spark, sf_dir):
    """Per-host boilerplate template removal (J60): a line on >=
    max(3, ceil(50% of the host's docs)) distinct documents of the
    SAME host is site chrome — ALL its occurrences are stripped,
    first included, unlike paragraph_dedup's keep-first corpus
    dedup.  The synthetic corpus is single-line per doc, so (same
    device as the paragraph_dedup row) both engines wrap each doc in
    deterministic template lines: a per-source nav line and copyright
    footer on EVERY doc of the source (over threshold -> scrubbed),
    a newsletter plug on ~40% of docs (under the 50% threshold ->
    survives), and the unique body line (survives).  Ws-only lines
    would be structure, never content; the synthetic corpus has none,
    and the operator routes them around the template join entirely.
    The oracle's LEFT JOIN twin replays threshold, scrub, and the
    positional string_agg rebuild exactly."""
    nav = F.concat(F.lit("nav home about "),
                   F.coalesce(F.col("source"), F.lit("unk")))
    footer = F.concat(F.lit("copyright 2025 "),
                      F.coalesce(F.col("source"), F.lit("unk")))
    plug = F.when(F.col("doc_id") % 100 < 40,
                  F.lit("\nsubscribe to our newsletter")).otherwise(F.lit(""))
    multi = F.concat(nav, F.lit("\n"), F.col("text"), plug,
                     F.lit("\n"), footer)
    injected = (load(spark, sf_dir, "documents", fan_out=True)
                .select("doc_id",
                        F.coalesce(F.col("source"), F.lit("unk"))
                        .alias("source"),
                        multi.alias("text")))
    return dedup.host_boilerplate_scrub(injected, host_col="source",
                                        min_frac=0.5, min_docs=3)


@register("doc_chunks",
          textstats.sql_chunk_documents("documents", 16, 4))
def doc_chunks(spark, sf_dir):
    """Sliding token-window chunking (J31): documents -> fixed-budget
    training sequences, 16-token chunks with 4 tokens of overlap (small
    budget so sf0.01's ~30-token docs still produce multi-chunk output
    and the final-chunk stub rule is exercised).  Chunk boundaries,
    counts, and the single-space reconstruction are all replayed
    exactly by the DuckDB twin."""
    return textstats.chunk_documents(
        load(spark, sf_dir, "documents", fan_out=True),
        chunk_tokens=16, overlap=4)


@register("url_normalize_dedup", f"""
WITH m AS (
  SELECT doc_id, (doc_id % 300) AS k FROM documents
), parts AS (
  SELECT doc_id, k,
         (CASE WHEN k % 2 = 0 THEN 'https' ELSE 'http' END) AS s,
         (CASE WHEN k % 5 = 0 THEN 'www.' ELSE '' END)
           || 'site' || (k % 7) || '.example.com' AS h,
         (CASE WHEN k % 13 <> 0 THEN 'id=' || k END) AS p1,
         (CASE WHEN k % 13 <> 0 AND k % 3 = 0 THEN 'page=2' END) AS p2
  FROM m
), q AS (
  SELECT doc_id, k, s, h,
         concat_ws('&',
           CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed' END,
           CASE WHEN doc_id % 2 = 1 AND p2 IS NOT NULL THEN p2 ELSE p1 END,
           CASE WHEN doc_id % 2 = 1 AND p2 IS NOT NULL THEN p1 ELSE p2 END,
           CASE WHEN doc_id % 3 = 1 THEN 'gclid=g' || doc_id END) AS qstr
  FROM parts
), u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0
              THEN 'mailto:user' || doc_id || '@example.com'
              ELSE (CASE WHEN doc_id % 3 = 0 THEN upper(s) ELSE s END)
                || '://'
                || (CASE WHEN doc_id % 2 = 0 THEN upper(h) ELSE h END)
                || (CASE WHEN k % 11 = 0 THEN ':8080'
                         WHEN doc_id % 4 = 0 THEN
                           (CASE WHEN k % 2 = 0 THEN ':443' ELSE ':80' END)
                         ELSE '' END)
                || '/p/' || k
                || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                || (CASE WHEN qstr = '' THEN '' ELSE '?' || qstr END)
                || (CASE WHEN doc_id % 3 = 2 THEN '#top' ELSE '' END)
         END AS url
  FROM q
), n AS (
  SELECT doc_id, {links.sql_normalize_url('url')} AS url_norm FROM u
)
SELECT doc_id, url_norm,
       (url_norm IS NULL
        OR doc_id = MIN(doc_id) OVER (PARTITION BY url_norm)) AS keep
FROM n
""")
def url_normalize_dedup(spark, sf_dir):
    """URL-level dedup over canonicalized URLs (J30): the crawl-side
    identity pass that runs BEFORE content dedup.  The corpus has no
    URL column, so (census-page pattern) each doc derives a messy URL
    deterministically in BOTH engines from ``k = doc_id % 300`` — the
    page identity — with doc_id-driven noise layered on top: scheme and
    host case, inserted default ports, tracking params (utm_*/gclid),
    param order, trailing slash, fragment.  At sf0.01 doc_ids 300-499
    collide with 0-199 on k, so ~200 groups of two exercise the
    survivor election while the mailto rows (doc_id % 97 = 0) exercise
    the unparseable-NULL keep-all path.  Normalization must strip
    exactly the noise and nothing else or hashes diverge."""
    did = F.col("doc_id")
    k = did % 300
    s = F.when(k % 2 == 0, F.lit("https")).otherwise(F.lit("http"))
    h = F.concat(F.when(k % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
                 F.lit("site"), (k % 7).cast("string"),
                 F.lit(".example.com"))
    p1 = F.when(k % 13 != 0, F.concat(F.lit("id="), k.cast("string")))
    p2 = F.when((k % 13 != 0) & (k % 3 == 0), F.lit("page=2"))
    swap = (did % 2 == 1) & p2.isNotNull()
    qstr = F.concat_ws(
        "&",
        F.when(did % 2 == 0, F.lit("utm_source=feed")),
        F.when(swap, p2).otherwise(p1),
        F.when(swap, p1).otherwise(p2),
        F.when(did % 3 == 1, F.concat(F.lit("gclid=g"), did.cast("string"))))
    url = F.concat(
        F.when(did % 3 == 0, F.upper(s)).otherwise(s), F.lit("://"),
        F.when(did % 2 == 0, F.upper(h)).otherwise(h),
        F.when(k % 11 == 0, F.lit(":8080"))
         .when(did % 4 == 0,
               F.when(k % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
         .otherwise(F.lit("")),
        F.lit("/p/"), k.cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(qstr == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), qstr)),
        F.when(did % 3 == 2, F.lit("#top")).otherwise(F.lit("")))
    url = F.when(did % 97 == 0,
                 F.concat(F.lit("mailto:user"), did.cast("string"),
                          F.lit("@example.com"))).otherwise(url)
    docs = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", url.alias("url")))
    return links.url_dedup(docs)


@register("domain_quota_sample", """
WITH f AS (
  SELECT doc_id, source FROM documents WHERE n_chars >= 200
)
SELECT doc_id, source AS domain,
       row_number() OVER (
         PARTITION BY source
         ORDER BY md5(doc_id || ':quota-v1')) <= 15 AS keep
FROM f
""")
def domain_quota_sample(spark, sf_dir):
    """Per-domain document quota (source stands in for the crawl
    host): at most 15 docs per source among the long docs, elected by
    the deterministic md5 priority.  The length pre-filter makes
    per-source counts straddle the cap at sf0.01 so BOTH physical
    paths run — the under-cap bypass and the over-cap window — while
    the oracle replays the single-path semantics (plain row_number over
    every domain: under-cap domains rank entirely <= cap, so bypassing
    their sort is invisible in the output)."""
    docs = (load(spark, sf_dir, "documents", fan_out=True)
            .filter(F.col("n_chars") >= 200))
    return textstats.domain_quota_sample(docs, cap=15)


@register("pii_scrub", f"""
WITH p AS (
  SELECT doc_id,
         text ||
         (CASE WHEN doc_id % 5 <> 0
               THEN ' Contact user' || doc_id || '@example.com'
               ELSE '' END) ||
         (CASE WHEN doc_id % 7 = 0
               THEN ' cc backup.' || doc_id || '@mail.example.net'
               ELSE '' END) ||
         (CASE WHEN doc_id % 4 = 0
               THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
               ELSE '' END) ||
         (CASE WHEN doc_id % 3 = 0
               THEN ' call (415) 555-' ||
                    lpad((doc_id % 10000)::VARCHAR, 4, '0')
               ELSE '' END) ||
         (CASE WHEN doc_id % 6 = 0
               THEN ' card 4532 0151 1283 0366'
               ELSE '' END) ||
         (CASE WHEN doc_id % 9 = 0
               THEN ' ref 1234-5678-9012-3456'
               ELSE '' END) AS text
  FROM documents
)
SELECT doc_id, {textstats.sql_pii_counts('text')},
       {textstats.sql_pii_clean('text')} AS clean_text
FROM p
""")
def pii_scrub(spark, sf_dir):
    """PII redaction pass (emails + IPv4 + phone numbers + Luhn-checked
    credit cards) over documents with deterministic injected PII (the
    corpus itself is synthetic and PII-free, so the census-page pattern
    applies: derive the planted values from doc_id in BOTH engines and
    verify counts + redacted text byte-for-byte).  The %6 plant is a
    Luhn-VALID card (counted and redacted); the %9 plant is
    card-shaped but Luhn-invalid (redacted, NOT counted) — so the row
    pins the checksum split, not just the regex.  Patterns live in the
    RE2/Java-common subset so span semantics agree."""
    did = F.col("doc_id")
    email1 = F.when(did % 5 != 0,
                    F.concat(F.lit(" Contact user"), did.cast("string"),
                             F.lit("@example.com"))).otherwise(F.lit(""))
    email2 = F.when(did % 7 == 0,
                    F.concat(F.lit(" cc backup."), did.cast("string"),
                             F.lit("@mail.example.net"))).otherwise(F.lit(""))
    ip = F.when(did % 4 == 0,
                F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                         F.lit(".0."), (did % 100).cast("string"))) \
         .otherwise(F.lit(""))
    phone = F.when(did % 3 == 0,
                   F.concat(F.lit(" call (415) 555-"),
                            F.lpad((did % 10000).cast("string"), 4, "0"))) \
             .otherwise(F.lit(""))
    cc_valid = F.when(did % 6 == 0,
                      F.lit(" card 4532 0151 1283 0366")) \
                .otherwise(F.lit(""))
    cc_bad = F.when(did % 9 == 0,
                    F.lit(" ref 1234-5678-9012-3456")) \
              .otherwise(F.lit(""))
    injected = (load(spark, sf_dir, "documents", fan_out=True)
                .select("doc_id",
                        F.concat(F.col("text"), email1, email2, ip,
                                 phone, cc_valid, cc_bad)
                        .alias("text")))
    return textstats.pii_scrub(injected)


@register("dedup_lines", """
WITH p AS (
  SELECT doc_id,
         substr(text, 1, 40) || chr(10) ||
         'nav home about contact ' || coalesce(lang, 'und') || chr(10) ||
         text || chr(10) ||
         'nav home about contact ' || coalesce(lang, 'und') || chr(10) ||
         'copyright 2025 example org' AS text
  FROM documents
), l AS (
  SELECT doc_id, str_split(text, chr(10)) AS lines FROM p
), u AS (
  SELECT doc_id, lines, unnest(lines) AS line,
         unnest(range(1, len(lines) + 1)) AS i
  FROM l
)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY i) AS clean_text,
       CAST(any_value(len(lines)) - count(*) AS INT) AS n_dup_lines
FROM u
WHERE list_position(lines, line) = i
GROUP BY doc_id
""")
def dedup_lines(spark, sf_dir):
    """Intra-document duplicate-line removal (first occurrence kept,
    order preserved) over a deterministic multi-line wrapping of each
    doc: prefix line, repeated boilerplate nav line, body, footer —
    the classic crawl-boilerplate shape the Gopher dup_line_frac
    filter flags; this is the removal counterpart.  The oracle replays
    keep-first via list_position == ordinal."""
    boiler = F.concat(F.lit("nav home about contact "),
                      F.coalesce(F.col("lang"), F.lit("und")))
    multi = F.concat_ws(
        "\n", F.substring("text", 1, 40), boiler, F.col("text"), boiler,
        F.lit("copyright 2025 example org"))
    injected = (load(spark, sf_dir, "documents", fan_out=True)
                .select("doc_id", multi.alias("text")))
    return textstats.dedup_lines(injected)


@register("benchmark_contamination", f"""
WITH t AS (
  SELECT doc_id, {dedup.sql_tokens('text')} AS toks
  FROM documents
), ex AS (
  SELECT doc_id, unnest(list_distinct(
    [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
       || ' ' || toks[i+4]
     FOR i IN range(1, len(toks) - 3)])) AS s
  FROM t WHERE len(toks) >= 5
), bset AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
), tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM ex GROUP BY 1),
hit AS (
  SELECT e.doc_id, COUNT(*) AS n_hit FROM ex e JOIN bset USING (s) GROUP BY 1
)
SELECT t.doc_id, t.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
       (COALESCE(h.n_hit, 0) / CAST(t.n_grams AS DOUBLE)) >= 0.5
         AS contaminated
FROM tot t LEFT JOIN hit h USING (doc_id)
""")
def benchmark_contamination(spark, sf_dir):
    """Benchmark decontamination: 5-gram overlap of every document
    against a deterministic pseudo-benchmark slice (doc_id % 97 == 0).
    Benchmark shingle set broadcasts; corpus side is one explode + one
    groupBy — the shape that survives a 100 TB corpus vs a benchmark
    suite of fixed size."""
    docs = load(spark, sf_dir, "documents", fan_out=True)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return textstats.contamination(docs, bench, k=5)


@register("greedy_token_packing", textstats.sql_greedy_pack())
def greedy_token_packing(spark, sf_dir):
    """Sequence packing: hash-bucketed greedy token-budget pack
    assignment (P parallel running-sum windows — never a global
    single-partition sort)."""
    return textstats.greedy_pack(load(spark, sf_dir, "documents",
                                      fan_out=True))


@register("pack_utilization", textstats.sql_pack_utilization(budget=512))
def pack_utilization(spark, sf_dir):
    """J23 observability: per-bucket budget fill fraction + overflow
    pack count over the greedy packer's own output — pack quality as
    an oracled artifact (the J5 drop-stats pattern)."""
    return textstats.pack_utilization(
        load(spark, sf_dir, "documents", fan_out=True), budget=512)


_FUNNEL_FLAGS_SQL = f"""
WITH flags AS (
  SELECT d.doc_id,
         ({textstats.sql_lang_guess('d.text')}) = 'en' AS lang_ok,
         ({textstats.sql_quality_score('d.text')}) >= 0.5 AS quality_ok,
         ({textstats.sql_dup_line_frac('d.text')}) <= 0.3 AND
           COALESCE(tb.top_bigram_frac, 0.0) <= 0.2 AS rep_ok,
         d.doc_id = MIN(d.doc_id) OVER (PARTITION BY md5(d.text))
           AS canonical,
         COALESCE(ct.n_hit / CAST(ct.n_grams AS DOUBLE) < 0.5, true)
           AS clean
  FROM documents d
  LEFT JOIN (
    WITH t AS (
      SELECT doc_id, {dedup.sql_tokens('text')} AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1]
                     FOR i IN range(1, len(toks))]) AS b
      FROM t WHERE len(toks) >= 2
    ), counts AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
    SELECT doc_id, round(MAX(c) / CAST(SUM(c) AS DOUBLE), 6)
             AS top_bigram_frac
    FROM counts GROUP BY doc_id
  ) tb USING (doc_id)
  LEFT JOIN (
    WITH t AS (
      SELECT doc_id, {dedup.sql_tokens('text')} AS toks FROM documents
    ), ex AS (
      SELECT doc_id, unnest(list_distinct(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
         toks[i+3] || ' ' || toks[i+4]
         FOR i IN range(1, len(toks) - 3)])) AS s
      FROM t WHERE len(toks) >= 5
    ), bset AS (SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM ex GROUP BY 1),
    hit AS (SELECT e.doc_id, COUNT(*) AS n_hit
            FROM ex e JOIN bset USING (s) GROUP BY 1)
    SELECT t.doc_id, t.n_grams, COALESCE(h.n_hit, 0) AS n_hit
    FROM tot t LEFT JOIN hit h USING (doc_id)
  ) ct USING (doc_id)
)
"""


@register("curation_funnel", _FUNNEL_FLAGS_SQL + """
SELECT s.stage, s.n_docs FROM (
  SELECT 0 AS ord, 'total' AS stage, COUNT(*) AS n_docs FROM flags
  UNION ALL SELECT 1, 'lang', COUNT(*) FROM flags WHERE lang_ok
  UNION ALL SELECT 2, 'quality', COUNT(*) FROM flags
    WHERE lang_ok AND quality_ok
  UNION ALL SELECT 3, 'repetition', COUNT(*) FROM flags
    WHERE lang_ok AND quality_ok AND rep_ok
  UNION ALL SELECT 4, 'dedup', COUNT(*) FROM flags
    WHERE lang_ok AND quality_ok AND rep_ok AND canonical
  UNION ALL SELECT 5, 'decontaminated', COUNT(*) FROM flags
    WHERE lang_ok AND quality_ok AND rep_ok AND canonical AND clean
) s
""")
def curation_funnel(spark, sf_dir):
    """The training-data recipe as one auditable artifact: per-stage
    survivor counts through language -> quality -> repetition ->
    exact-dedup -> decontamination.  Every stage is a first-class
    operator elsewhere in the registry; the funnel composes their
    column expressions in ONE pass over the corpus (flags + conditional
    counts, no per-stage re-scan) plus the two small joins the dedup/
    contamination stages need."""
    # the flag frame and stage conditions are THE production job's own
    # definitions (jobs/curate.py doc_flags / stage_conditions), so the
    # oracled row and the materializing job cannot silently diverge
    from mdscraper_spark.jobs.curate import doc_flags, stage_conditions

    docs = load(spark, sf_dir, "documents", fan_out=True)
    flags = doc_flags(docs)
    stages = stage_conditions()
    # coalesce: F.sum over ZERO rows is null, but the oracle's COUNT
    # semantics report 0 — an empty corpus must match, not hash-diverge
    agg = flags.agg(*[F.coalesce(F.sum(cond.cast("long")), F.lit(0))
                      .alias(name) for name, cond in stages])
    stack = ", ".join(f"'{name}', {name}" for name, _ in stages)
    return agg.selectExpr(
        f"stack({len(stages)}, {stack}) AS (stage, n_docs)")


# ===========================================================================
# dedup
# ===========================================================================

@register("dedup_exact", """
SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
FROM documents GROUP BY 1
""")
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(load(spark, sf_dir, "documents", fan_out=True))


_SQL_TOKS = dedup.sql_tokens("text")
_SHINGLES_CTE = ("""
WITH t AS (
  SELECT doc_id, lang, length(text) AS n_chars_real,
         """ + dedup.sql_word_shingles(_SQL_TOKS) + """ AS shingles
  FROM documents
)
""")

def _sql_rot_hex(h: str, band: int) -> str:
    """DuckDB twin of dedup._rot_hex: rotate the 32-hex md5 left 8*band."""
    if band == 0:
        return h
    cut = 8 * band
    return f"(substr({h}, {cut + 1}, {32 - cut}) || substr({h}, 1, {cut}))"


# sig + candidate-pair CTEs shared by lsh_pairs and near_dedup_groups:
# ONE definition of the banded self-join so the group-resolution oracle
# can never drift from the pair oracle it builds on
_LSH_PAIRS_CTE = (_SHINGLES_CTE + """
, sig AS (
  SELECT doc_id, band,
         MIN(CASE band """
    + " ".join(f"WHEN {b} THEN {_sql_rot_hex('h', b)}" for b in range(4))
    + """ END) AS sig
  FROM (SELECT doc_id, md5(shingle) AS h
        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM t)),
       (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS band)
  GROUP BY doc_id, band
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
""")


@register("minhash_signatures", _SHINGLES_CTE + """
SELECT doc_id, band,
       MIN(CASE band """
    + " ".join(f"WHEN {b} THEN {_sql_rot_hex('h', b)}" for b in range(4))
    + """ END) AS sig
FROM (SELECT doc_id, md5(shingle) AS h
      FROM (SELECT doc_id, unnest(shingles) AS shingle FROM t)),
     (SELECT CAST(unnest(generate_series(0, 3)) AS INT) AS band)
GROUP BY doc_id, band
""")
def minhash_signatures_q(spark, sf_dir):
    return dedup.minhash_signatures(load(spark, sf_dir, "documents", fan_out=True))


@register("simhash16", f"""
WITH raw AS (
  SELECT doc_id, unnest({dedup.sql_tokens('text')}) AS tok
  FROM documents
), tok AS (
  SELECT doc_id, md5(tok) AS h FROM raw
), votes AS (
  SELECT doc_id,
         {', '.join(f"SUM(CASE WHEN substr(h, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v{b}" for b in range(16))}
  FROM tok GROUP BY doc_id
)
SELECT doc_id,
       CAST({' + '.join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))} AS BIGINT) AS simhash
FROM votes
""")
def simhash16(spark, sf_dir):
    return dedup.simhash(load(spark, sf_dir, "documents", fan_out=True))


@register("ngram_jaccard_pairs", _SHINGLES_CTE + f"""
, ex0 AS (
  SELECT doc_id, lang, CAST(floor(n_chars_real / 100) AS INT) AS lbucket,
         len(shingles) AS n_sh, unnest(shingles) AS shingle
  FROM t
), ex AS (
  -- stop-shingle cap: drop shingles shared by > MAX_POSTING docs in a
  -- (lang, lbucket) group, same as the operator's anti-join
  SELECT * FROM ex0 e WHERE NOT EXISTS (
    SELECT 1 FROM ex0 s
    WHERE s.lang = e.lang AND s.lbucket = e.lbucket AND s.shingle = e.shingle
    GROUP BY s.lang, s.lbucket, s.shingle
    HAVING COUNT(*) > {dedup.MAX_POSTING})
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(COUNT(*) AS DOUBLE) / (a.n_sh + b.n_sh - COUNT(*)), 6) AS jaccard
FROM ex a JOIN ex b
  ON a.lang = b.lang AND a.lbucket = b.lbucket AND a.shingle = b.shingle
     AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
HAVING round(CAST(COUNT(*) AS DOUBLE) / (a.n_sh + b.n_sh - COUNT(*)), 6) >= 0.2
""")
def ngram_jaccard_pairs_q(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents", fan_out=True))


@register("mirror_shingle_overlap",
          dedup.sql_mirror_shingle_overlap("documents"))
def mirror_shingle_overlap_q(spark, sf_dir):
    """Host-level mirror detection: per source pair, shared distinct
    5-gram shingles + overlap coefficient, boilerplate shingles
    (> MIRROR_MAX_SOURCES sources) capped out before pairing — the
    crawl-curation step that drops mirrored hosts wholesale before
    per-document dedup is paid (operators/dedup.py
    mirror_shingle_overlap; the oracle replays tokenize/shingle/cap
    verbatim)."""
    return dedup.mirror_shingle_overlap(
        load(spark, sf_dir, "documents", fan_out=True))


# ===========================================================================
# similarity
# ===========================================================================

@register("cosine_topk", f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round({similarity.sql_cosine('embedding', 'qvec')}, 6) AS sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY sim DESC, vec_id ASC
LIMIT 10
""")
def cosine_topk(spark, sf_dir):
    return similarity.brute_force_topk(load(spark, sf_dir, "embeddings", fan_out=True), 0)


@register("lsh_bucket_counts", f"""
SELECT {similarity.sql_axis_sign_bucket('embedding')} AS bucket,
       COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
FROM embeddings GROUP BY 1
""")
def lsh_bucket_counts_q(spark, sf_dir):
    return similarity.lsh_bucket_counts(load(spark, sf_dir, "embeddings", fan_out=True))


@register("lsh_topk", f"""
WITH b AS (
  SELECT vec_id, embedding,
         {similarity.sql_axis_sign_bucket('embedding')} AS bucket
  FROM embeddings
), q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, round({similarity.sql_cosine('embedding', 'qvec')}, 6) AS sim
FROM b, q
WHERE bucket = qbucket AND vec_id <> 0
ORDER BY sim DESC, vec_id ASC
LIMIT 5
""")
def lsh_topk_q(spark, sf_dir):
    return similarity.lsh_topk(load(spark, sf_dir, "embeddings", fan_out=True), 0)


# bucket + candidate-pair CTEs shared by dedup_embedding_pairs and
# embedding_dedup_groups — ONE definition of the bucketed cosine join
# so the group-resolution oracle can never drift from the pair oracle
# (the _LSH_PAIRS_CTE pattern, applied to the embedding side)
_EMB_PAIRS_CTE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {similarity.sql_axis_sign_bucket('embedding')} AS bucket
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({similarity.sql_cosine('a.embedding', 'b.embedding')}, 6)
           AS sim
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({similarity.sql_cosine('a.embedding', 'b.embedding')}, 6)
        >= 0.35
)
"""


@register("embedding_dedup_groups", _EMB_PAIRS_CTE.replace(
    "WITH e AS", "WITH RECURSIVE e AS", 1) + """
, eb AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM eb
  UNION
  SELECT r.a, e2.b FROM reach r JOIN eb e2 ON r.b = e2.a
), canon AS (
  SELECT a AS vec_id, least(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
), sizes AS (
  SELECT canonical_id, COUNT(*) AS group_size FROM canon GROUP BY canonical_id
)
SELECT d.vec_id,
       COALESCE(c.canonical_id, d.vec_id) AS canonical_id,
       COALESCE(s.group_size, 1) AS group_size,
       COALESCE(c.canonical_id, d.vec_id) = d.vec_id AS keep
FROM embeddings d
LEFT JOIN canon c ON d.vec_id = c.vec_id
LEFT JOIN sizes s ON c.canonical_id = s.canonical_id
""")
def embedding_dedup_groups(spark, sf_dir):
    """Embedding near-dup GROUP resolution (J6 completed into a
    decision): the bucketed-cosine pair list is closed into connected
    groups by the SAME resolve_dedup_groups back half the text path
    uses, electing min vec_id per group — one closure implementation,
    two modalities.  The oracle replays the closure with a recursive
    CTE over the same shared pair CTE dedup_embedding_pairs is checked
    against."""
    emb = load(spark, sf_dir, "embeddings", fan_out=True)
    pairs = similarity.embedding_near_dup_pairs(emb)
    return dedup.resolve_dedup_groups(
        emb.select("vec_id"), pairs,
        id_col="vec_id", a_col="vec_a", b_col="vec_b")


@register("dedup_embedding_pairs",
          _EMB_PAIRS_CTE + "SELECT vec_a, vec_b, sim FROM pairs")
def dedup_embedding_pairs_q(spark, sf_dir):
    """Embedding-cosine near-dup dedup (bucketed candidate pruning)."""
    return similarity.embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings", fan_out=True))


_SQL_IVF_CELLS = f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cvec
           FROM embeddings WHERE vec_id < {similarity.IVF_K}),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {similarity.sql_cosine('e.embedding', 'c.cvec')} AS csim
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cid ASC) AS rn
  FROM scored
),
cells AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1)
"""


@register("ivf_cell_sizes", _SQL_IVF_CELLS + """
SELECT cid, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
FROM cells GROUP BY cid
""")
def ivf_cell_sizes_q(spark, sf_dir):
    return similarity.ivf_cell_sizes(
        load(spark, sf_dir, "embeddings", fan_out=True))


@register("ivf_auto_cells", f"""
WITH n AS (SELECT CAST(round(sqrt(COUNT(*))) AS INTEGER) AS k
           FROM embeddings),
c AS (SELECT vec_id AS cid, embedding AS cvec
      FROM embeddings, n WHERE vec_id < n.k),
scored AS (
  SELECT e.vec_id, c.cid,
         {similarity.sql_cosine('e.embedding', 'c.cvec')} AS csim
  FROM embeddings e CROSS JOIN c
),
ranked AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cid ASC) AS rn
  FROM scored
),
cells AS (SELECT vec_id, cid FROM ranked WHERE rn = 1)
SELECT cid, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
FROM cells GROUP BY cid
""")
def ivf_auto_cells(spark, sf_dir):
    """IVF with DATA-DERIVED cell count (auto_n_cells ~ sqrt(N), the
    standard IVF sizing) instead of the fixture-sized constant — the
    round-3 verdict's scale-parameterization ask.  The cell-size
    histogram is the oracled artifact (the quantity that decides probe
    cost at scale); the SQL twin derives the same sqrt(N) inside a
    scalar subquery, so one static string tracks any sf.  Recall + cell
    balance at 50k x 64 are pinned by the slow test in
    tests/test_ivf_kmeans.py."""
    return similarity.ivf_cell_sizes(
        load(spark, sf_dir, "embeddings", fan_out=True), n_cells=None)


@register("ivf_topk", _SQL_IVF_CELLS + f"""
, q AS (SELECT embedding AS qvec, cid AS qcid FROM cells WHERE vec_id = 0)
SELECT e.vec_id, round({similarity.sql_cosine('e.embedding', 'qvec')}, 6) AS sim
FROM cells e, q
WHERE e.cid = q.qcid AND e.vec_id <> 0
ORDER BY sim DESC, e.vec_id ASC
LIMIT 10
""")
def ivf_topk_q(spark, sf_dir):
    """IVF ANN: cell-restricted exact cosine top-k (scale path beyond
    brute force; complements the axis-sign LSH variant)."""
    return similarity.ivf_topk(
        load(spark, sf_dir, "embeddings", fan_out=True), 0)


@register("ivf_kmeans_recall", """
SELECT 20 AS n_queries, true AS recall_ge_09
""")
def ivf_kmeans_recall_q(spark, sf_dir):
    """Production IVF: learned k-means centroids (Lloyd as DataFrame
    ops, deterministic seeding) + multi-probe search, verified by its
    recall contract against brute-force cosine top-k — recall@10 over
    20 queries must be >= 0.9 (deterministic given the data, so the
    flag is a stable hash-comparable fact; the raw recall value and
    the nprobe trade-off curve are pinned by tests/test_ivf_kmeans.py).
    The pinned-centroid `ivf_topk` stays as the exact-replay oracle."""
    r = similarity.ivf_kmeans_recall(
        load(spark, sf_dir, "embeddings", fan_out=True))
    return r.select("n_queries", "recall_ge_09")


# ===========================================================================
# engine: real extraction UDF + KG flagship
# ===========================================================================

@register("extract_markdown_docs", """
SELECT 'https://docs.test/' || doc_id AS url,
       '# Report ' || doc_id || chr(10) || chr(10) ||
       trim(regexp_replace(text, '[\\t ]+', ' ', 'g')) AS markdown,
       'Report ' || doc_id AS title,
       'ok' AS status
FROM documents
""")
def extract_markdown_docs(spark, sf_dir):
    """The REAL Arrow extraction UDF, oracle-checked: pages synthesized
    from documents have SQL-reconstructable Markdown."""
    pages = docs_to_pages(load(spark, sf_dir, "documents", fan_out=True))
    docs = extract_markdown(pages, ExtractConfig())
    return docs.select("url", "markdown", "title", "status")


@register("lsh_pairs", _LSH_PAIRS_CTE + """
SELECT doc_a, doc_b FROM pairs
""")
def lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs — fully deterministic under the
    md5-rotation band scheme, so the oracle replays the identical
    banding in SQL."""
    sigs = dedup.minhash_signatures(load(spark, sf_dir, "documents", fan_out=True))
    return dedup.lsh_candidate_pairs(sigs)


@register("near_dedup_groups", _LSH_PAIRS_CTE.replace(
    "WITH t AS", "WITH RECURSIVE t AS", 1) + """
, e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
), canon AS (
  SELECT a AS doc_id, least(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
), sizes AS (
  SELECT canonical_id, COUNT(*) AS group_size FROM canon GROUP BY canonical_id
)
SELECT d.doc_id,
       COALESCE(c.canonical_id, d.doc_id) AS canonical_id,
       COALESCE(s.group_size, 1) AS group_size,
       COALESCE(c.canonical_id, d.doc_id) = d.doc_id AS keep
FROM documents d
LEFT JOIN canon c ON d.doc_id = c.doc_id
LEFT JOIN sizes s ON c.canonical_id = s.canonical_id
""")
def near_dedup_groups(spark, sf_dir):
    """Near-dup GROUP resolution — the pair list is not yet a dedup
    decision: LSH pairs are closed into connected components (the
    size-gated union-find / min-label CC behind the KG canonicalizer)
    and each group elects its minimum doc_id as survivor.  The oracle
    replays the closure with a recursive CTE over the same pair CTE
    lsh_pairs is checked against, so pair semantics and group
    semantics can never drift apart."""
    return dedup.near_dedup_groups(load(spark, sf_dir, "documents", fan_out=True))


@register("dedup_quality_survivors", _LSH_PAIRS_CTE.replace(
    "WITH t AS", "WITH RECURSIVE t AS", 1) + f"""
, e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
), canon AS (
  SELECT a AS doc_id, least(a, MIN(b)) AS canonical_id
  FROM reach GROUP BY a
), member_q AS (
  SELECT c.doc_id, c.canonical_id,
         {textstats.sql_quality_score('d.text')} AS quality
  FROM canon c JOIN documents d ON c.doc_id = d.doc_id
), grp AS (
  SELECT canonical_id, group_size, survivor_id FROM (
    SELECT canonical_id, doc_id AS survivor_id,
           COUNT(*) OVER (PARTITION BY canonical_id) AS group_size,
           row_number() OVER (PARTITION BY canonical_id
                              ORDER BY quality DESC, doc_id ASC) AS rn
    FROM member_q
  ) WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(c.canonical_id, d.doc_id) AS canonical_id,
       COALESCE(g.group_size, 1) AS group_size,
       COALESCE(g.survivor_id, d.doc_id) AS survivor_id,
       COALESCE(g.survivor_id, d.doc_id) = d.doc_id AS keep
FROM documents d
LEFT JOIN canon c ON d.doc_id = c.doc_id
LEFT JOIN grp g ON c.canonical_id = g.canonical_id
""")
def dedup_quality_survivors(spark, sf_dir):
    """Quality-aware survivor election (round 5): same banded-LSH
    groups as near_dedup_groups, but each group keeps its HIGHEST-
    quality member (registry's own rounded heuristic; ties -> min
    doc_id) instead of the minimum id — the RefinedWeb/CCNet "which
    duplicate to keep" decision.  max_by over a total order key, so
    the election is partition-invariant and map-side combinable; the
    oracle replays the closure with the shared recursive pair CTE and
    the identical rounded quality math, so pair, group, and election
    semantics can never drift apart."""
    return dedup.quality_survivors(
        load(spark, sf_dir, "documents", fan_out=True))


@register("doc_size_kb", """
SELECT doc_id, round(octet_length(encode(text)) / 1024.0, 6) AS size_kb
FROM documents
""")
def doc_size_kb(spark, sf_dir):
    """B6 file-size metric (utils.py:111-122) as a column, aggregated
    into run metrics via observe() in the jobs."""
    return (load(spark, sf_dir, "documents")
            .select("doc_id",
                    F.round(F.octet_length("text") / 1024.0, 6)
                    .alias("size_kb")))


@register("div_attr_census", """
WITH toks AS (
  SELECT 'class' AS kind, 'page' AS value FROM documents
  UNION ALL SELECT 'class', 'wrap-' || lang FROM documents
  UNION ALL SELECT 'class', 'content' FROM documents
  UNION ALL SELECT 'class', 'post-' || CAST(doc_id % 7 AS VARCHAR) FROM documents
  UNION ALL SELECT 'class', 'footer' FROM documents
  UNION ALL SELECT 'id', 'main-' || CAST(doc_id % 5 AS VARCHAR)
    FROM documents WHERE doc_id % 3 = 0
)
SELECT kind, value, COUNT(*) AS n_pages FROM toks GROUP BY kind, value
""")
def div_attr_census_q(spark, sf_dir):
    """C4 div class/id census over synthesized pages (utils.py:43-66
    promoted from debug aid to heuristic-tuning corpus stat).

    Generator-vs-parser differential oracle: the census pages carry
    multi-token class lists and conditional ids derived from documents
    columns, the operator recovers them by real HTML parsing, and the
    oracle recomputes the expected counts from the generating
    expressions in SQL."""
    from mdscraper_spark.operators.links import div_attr_census

    pages = docs_to_census_pages(load(spark, sf_dir, "documents",
                                      fan_out=True))
    return div_attr_census(pages)


@register("multimodal_decode", f"""
SELECT doc_id, {multimodal.sql_decode_meta('text')}
FROM documents
""")
def multimodal_decode(spark, sf_dir):
    """Stubbed decode over utf-8 payloads — the md5/hex-string stub is
    DuckDB-replayable, so this is a full hash-match oracle row."""
    docs = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    return decode_binary_docs(docs)


@register("multimodal_frame_sample", """
WITH d AS (
  SELECT doc_id, md5(text) AS h,
         1 + (CAST('0x' || substr(md5(text), 1, 2) AS INT) % 8) AS n_frames
  FROM documents
), i AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS frame_no)
SELECT doc_id, frame_no,
       CAST(frame_no AS BIGINT) * 1000 AS ts_ms,
       md5(h || ':' || frame_no) AS frame_hash,
       'ok' AS status
FROM d, i
WHERE frame_no < n_frames
""")
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling plumbing: 1->N row expansion inside the
    Arrow batch (mapInPandas with a different output shape).  The stub
    frame count/hash chain is md5-over-strings, replayed in SQL."""
    docs = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    return multimodal.sample_frames(docs)


@register("multimodal_feature_ann", f"""
WITH {multimodal.sql_feature_cte().lstrip()},
b AS (
  SELECT vec_id, embedding,
         {similarity.sql_axis_sign_bucket('embedding', dims=(0, 5, 10, 15))} AS bucket
  FROM feat
),
q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id, round({similarity.sql_cosine('embedding', 'qvec')}, 6) AS sim
FROM b, q
WHERE bucket = qbucket AND vec_id <> 0
ORDER BY sim DESC, vec_id ASC
LIMIT 10
""")
def multimodal_feature_ann(spark, sf_dir):
    """binary -> feature vector -> ANN, end to end: stub-encode each
    payload to a unit array<float>, then exact cosine top-10 against
    doc 0 restricted to its axis-sign LSH bucket (same operator the
    embeddings table uses).  The stub encoder carves 2-byte ints from
    an md5 hex chain, so DuckDB reproduces the float32 vectors exactly
    (CAST AS FLOAT at the same rounding point as the Arrow transfer)."""
    docs = (load(spark, sf_dir, "documents", fan_out=True)
            .select("doc_id", F.encode("text", "utf-8").alias("payload")))
    feats = multimodal.extract_features(docs) \
        .select(F.col("doc_id").alias("vec_id"),
                F.col("feature").alias("embedding"))
    return similarity.lsh_topk(feats, 0, k=10, dims=(0, 5, 10, 15))


# The frozen single-threaded oracle fixtures (tools/freeze_kg_oracle.py).
_KG_ORACLE_DIR = (pathlib.Path(__file__).resolve().parents[1]
                  / "fixtures" / "kg_oracle")


def _frozen(prefix: str) -> str:
    """FROM-clause body reading one frozen fixture family (``kg_edges_``,
    ``kg_nodes_``, ...) at the corpus registered as ``documents``: the
    WHERE is the DuckDB twin of ``_corpus_sig``, so an unknown corpus
    selects zero rows and fails loudly."""
    return f"""
read_parquet('{_KG_ORACLE_DIR}/{prefix}*.parquet')
WHERE corpus_sig = (SELECT CAST(bit_xor(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' || COALESCE(text,'')), 1, 15)) AS BIGINT)) AS VARCHAR)
                        || ':' ||
                        CAST(bit_xor(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' || COALESCE(text,'')), 16, 15)) AS BIGINT)) AS VARCHAR)
                    FROM documents)
"""


@register("kg_flagship", f"""
SELECT src, pred, dst, n_support
FROM {_frozen('kg_edges_')}
""")
def kg_flagship(spark, sf_dir):
    """Full KG pipeline, oracle-checked against the FROZEN output of the
    single-threaded pure-Python reference (kg/oracle.py run_oracle —
    dicts + union-find, no Spark; regenerate with
    tools/freeze_kg_oracle.py).  The freeze is keyed by a corpus md5
    signature, so the one static SQL string picks the right expected
    edges for whichever sf the driver registered, and an unknown corpus
    fails loudly with zero oracle rows."""
    return _kg_build(spark, sf_dir).edges()


_KG_BUILD_CACHE: dict = {}


def _kg_build(spark, sf_dir):
    """Shared pipeline prefix of the KG registry rows: pages ->
    extract -> ``kg_ops.KgBuild`` over the fixture dictionary, whose
    canonical map, nodes and edges every row takes.  Its matcher is the
    application's fixture-dictionary one (``kg_ops.fixture_matcher``),
    which
    ``kg_snapshot_diff``'s second build reuses.  ONE definition,
    the composition the batch job runs, so the edges/nodes oracle rows
    cannot silently diverge from it.

    Memoized per (Spark application, sf_dir) and never closed: every
    KG registry row consumes the build's persisted mined rows, and
    without the cache each would re-run extraction + mining from
    scratch.  Keyed by applicationId so a fresh session (whose cached
    rows and broadcast are gone) rebuilds instead of replaying dead
    references."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir)
    if key in _KG_BUILD_CACHE:
        return _KG_BUILD_CACHE[key]
    # evict entries from dead sessions: their frames pin unusable JVM
    # references, and a long-lived driver process cycling
    # SparkSessions would otherwise grow the cache without bound
    for stale in [k for k in _KG_BUILD_CACHE if k[0] != app_id]:
        del _KG_BUILD_CACHE[stale]
    pages = docs_to_kg_pages(load(spark, sf_dir, "documents",
                                  fan_out=True))
    kg = kg_ops.KgBuild(extract_markdown(pages, ExtractConfig()),
                        kg_ops.fixture_matcher(spark))
    _KG_BUILD_CACHE[key] = kg
    return kg


def _corpus_sig(docs) -> str:
    """Distributed corpus signature for frozen-fixture selection:
    per-doc md5 over 'doc_id:text', split into two 60-bit halves,
    bit_xor-folded across the corpus (commutative + associative ->
    constant aggregation state, no sorted concat of the whole corpus
    in one reducer — the round-3 verdict's last corpus-in-one-task
    expression).  The DuckDB twins and tools/freeze_kg_oracle.py
    compute the identical fold; a corpus change yields an unknown
    signature and the frozen lookup fails loudly with zero rows."""
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.coalesce(F.col("text"), F.lit(""))))
    r = (docs.select(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("x1"),
            F.conv(F.substring(h, 16, 15), 16, 10).cast("long").alias("x2"))
         .agg(F.expr("bit_xor(x1)").alias("a"),
              F.expr("bit_xor(x2)").alias("b")).first())
    return f"{r['a']}:{r['b']}"


@register("kg_nodes_check", f"""
SELECT canon_id, label, n_mentions
FROM {_frozen('kg_nodes_')}
""")
def kg_nodes_check(spark, sf_dir):
    """I6 node side of the graph materialize, hash-checked against the
    frozen single-threaded oracle's kg_nodes (canon_id, label,
    n_mentions) — the edges twin is `kg_flagship`."""
    return _kg_build(spark, sf_dir).kg_nodes


@register("kg_triple_pr", f"""
WITH e AS (SELECT src, pred, dst FROM {_frozen('kg_edges_')})
SELECT COUNT(*) AS n_spark, COUNT(*) AS n_oracle, COUNT(*) AS n_common,
       CAST(1.0 AS DOUBLE) AS triple_precision,
       CAST(1.0 AS DOUBLE) AS triple_recall,
       true AS meets_north_rule
FROM e
""")
def kg_triple_pr(spark, sf_dir):
    """North-rule artifact: precision/recall of the distributed
    pipeline's emitted canonical triples against the frozen
    single-threaded reference replay (P/R >= 0.95 is the BASELINE.json
    acceptance bar; this row REPORTS the measured values instead of
    leaving them implied by the kg_flagship hash match).  The DuckDB
    twin replays both sides from the freeze, so the row hash-matches
    iff the live pipeline reproduces the reference triples exactly
    (P = R = 1.0)."""
    live = (kg_flagship(spark, sf_dir)
            .select("src", "pred", "dst"))
    sig = _corpus_sig(load(spark, sf_dir, "documents"))
    frozen = (spark.read.parquet(
        f"{_KG_ORACLE_DIR}/kg_edges_*.parquet")
        .filter(F.col("corpus_sig") == sig)
        .select("src", "pred", "dst"))
    live = live.localCheckpoint()       # pipeline runs once, feeds two
    n_spark = live.count()              # counts + the intersection
    n_oracle = frozen.count()
    n_common = live.join(frozen, ["src", "pred", "dst"], "inner").count()
    p = round(n_common / n_spark, 6) if n_spark else 0.0
    r = round(n_common / n_oracle, 6) if n_oracle else 0.0
    return spark.createDataFrame(
        [(n_spark, n_oracle, n_common, p, r, p >= 0.95 and r >= 0.95)],
        "n_spark long, n_oracle long, n_common long, "
        "triple_precision double, triple_recall double, "
        "meets_north_rule boolean")


@register("kg_lambda_parity", f"""
SELECT (SELECT COUNT(*)
        FROM {_frozen('kg_nodes_')}) AS n_nodes,
       (SELECT COUNT(*)
        FROM {_frozen('kg_edges_')}) AS n_edges,
       true AS nodes_match_oneshot,
       true AS edges_match_oneshot
""")
def kg_lambda_parity(spark, sf_dir):
    """Streaming lambda-loop parity as a driver-checkable artifact
    (round-3 verdict item 5): replay the corpus through the EXACT
    micro-batch ingest body (streaming.kg_incremental.apply_kg_batch —
    the foreachBatch code path, on three url-hash splits), canonicalize
    the accumulated state, and compare nodes/edges SET-exactly against
    the one-shot batch build.  The row reports the one-shot counts plus
    two parity booleans; the DuckDB twin replays the counts from the
    frozen single-threaded oracle and pins both booleans true — so the
    row hash-matches iff accumulated == one-shot == frozen reference.
    (The stream-machinery half — checkpoint restarts, replay
    idempotence — stays pytest-pinned in tests/test_streaming.py; this
    row pins the algebraic half: batched accumulation commutes with
    canonicalization.)"""
    import shutil
    import tempfile

    from mdscraper_spark.streaming.kg_incremental import (
        apply_kg_batch, canonicalize_accumulated)

    pages = docs_to_kg_pages(load(spark, sf_dir, "documents",
                                  fan_out=True))
    workdir = tempfile.mkdtemp(prefix="kg_lambda_parity_")
    try:
        for b in range(3):
            batch = pages.filter(
                F.pmod(F.xxhash64("url"), F.lit(3)) == F.lit(b))
            apply_kg_batch(spark, batch, b, workdir, stream_id=workdir)
        nodes_acc, edges_acc = canonicalize_accumulated(spark, workdir)
        kg = _kg_build(spark, sf_dir)
        nodes_one, edges_one = kg.kg_nodes, kg.edges().localCheckpoint()
        n_nodes, n_edges = nodes_one.count(), edges_one.count()
        nodes_ok = (nodes_acc.count() == n_nodes and
                    nodes_acc.join(nodes_one, nodes_one.columns,
                                   "inner").count() == n_nodes)
        edges_ok = (edges_acc.count() == n_edges and
                    edges_acc.join(edges_one, edges_one.columns,
                                   "inner").count() == n_edges)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(
        [(n_nodes, n_edges, bool(nodes_ok), bool(edges_ok))],
        "n_nodes long, n_edges long, "
        "nodes_match_oneshot boolean, edges_match_oneshot boolean")


@register("kg_degree_stats", f"""
WITH e AS (SELECT src, dst, n_support FROM {_frozen('kg_edges_')}),
o AS (SELECT src AS node, COUNT(*) AS out_deg, CAST(SUM(n_support) AS BIGINT) AS n_support_out
      FROM e GROUP BY 1),
i AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY 1)
SELECT COALESCE(o.node, i.node) AS node,
       COALESCE(out_deg, 0) AS out_deg,
       COALESCE(in_deg, 0) AS in_deg,
       COALESCE(n_support_out, 0) AS n_support_out
FROM o FULL OUTER JOIN i ON o.node = i.node
""")
def kg_degree_stats(spark, sf_dir):
    """Graph read side: per-node in/out degree over the KG built by the
    FULL pipeline; the oracle recomputes degrees from the frozen
    single-threaded-oracle edges (so this checks pipeline + degree agg
    end to end)."""
    from mdscraper_spark.operators.graph import degree_stats

    return degree_stats(kg_flagship(spark, sf_dir))


@register("kg_entity_card", f"""
WITH e AS (SELECT src, pred, dst, n_support FROM {_frozen('kg_edges_')})
SELECT src AS node,
       CAST(count(*) AS BIGINT) AS n_facts,
       CAST(count(DISTINCT pred) AS BIGINT) AS n_preds,
       string_agg(pred || ' -> ' || dst || ' (' ||
                  CAST(n_support AS VARCHAR) || ')',
                  '; ' ORDER BY pred, dst) AS card
FROM e GROUP BY src
""")
def kg_entity_card(spark, sf_dir):
    """Subject-star entity cards over the full-pipeline KG: every
    outgoing fact folded into one deterministic digest per node
    ("pred -> dst (n)" in (pred, dst) order) with fact/predicate
    counts — the per-entity page a KG serves constantly; one
    map-side-combinable groupBy on the edge bucket key, in-group
    sort_array (never a corpus sort), string_agg twin."""
    from mdscraper_spark.operators.graph import entity_cards

    return entity_cards(kg_flagship(spark, sf_dir))


@register("kg_component_sizes", f"""
WITH RECURSIVE
e AS (SELECT src, dst FROM {_frozen('kg_edges_')}),
u AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM u)
  UNION
  SELECT r.a, u.b FROM reach r JOIN u ON r.b = u.a
),
comp AS (SELECT a AS node, MIN(b) AS comp_id FROM reach GROUP BY a),
nodes AS (SELECT comp_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
          FROM comp GROUP BY 1),
ecnt AS (SELECT c.comp_id, CAST(COUNT(*) AS BIGINT) AS n_edges
         FROM e JOIN comp c ON c.node = e.src GROUP BY 1)
SELECT nodes.comp_id, n_nodes,
       COALESCE(n_edges, CAST(0 AS BIGINT)) AS n_edges
FROM nodes LEFT JOIN ecnt ON ecnt.comp_id = nodes.comp_id
""")
def kg_component_sizes(spark, sf_dir):
    """Weakly-connected-component census of the full-pipeline KG:
    (comp_id, n_nodes, n_edges) per component, comp_id = component
    min node id.  This pins the DISTRIBUTED connected-components
    operator's component structure against an exact transitive-closure
    oracle (DuckDB recursive CTE over the frozen single-threaded
    edges) — a stronger check than label equality alone, and the
    graph-health dashboard row a production build watches for
    over-merge (one giant component) or recall collapse (all dust)."""
    from mdscraper_spark.operators.graph import component_sizes

    return component_sizes(kg_flagship(spark, sf_dir))


@register("kg_hits", f"""
SELECT node, hub, authority
FROM {_frozen('kg_hits_')}
""")
def kg_hits(spark, sf_dir):
    """Kleinberg HITS hubs/authorities over the full-pipeline KG
    (sum-normalized half-steps, 10 fixed iterations, rounded at the
    end) — the query-independent companion of kg_pagerank: on the
    mention co-reference graph's star shapes, orgs surface as
    authorities and persons as hubs, structure a single PageRank
    score conflates.  Oracle = the frozen single-threaded replay over
    the same frozen edges (tools/freeze_kg_oracle.py:py_hits)."""
    from mdscraper_spark.operators.graph import hits

    return hits(kg_flagship(spark, sf_dir))


@register("kg_snapshot_diff", f"""
WITH old AS (SELECT src, pred, dst, n_support FROM {_frozen('kg_edges_')}),
new AS (SELECT src, pred, dst, n_support FROM {_frozen('kg_sub_edges_')})
SELECT COALESCE(old.src, new.src) AS src,
       COALESCE(old.pred, new.pred) AS pred,
       COALESCE(old.dst, new.dst) AS dst,
       CAST(COALESCE(old.n_support, 0) AS BIGINT) AS n_support_old,
       CAST(COALESCE(new.n_support, 0) AS BIGINT) AS n_support_new,
       CASE WHEN old.n_support IS NULL THEN 'added'
            WHEN new.n_support IS NULL THEN 'removed'
            WHEN old.n_support <> new.n_support THEN 'changed'
            ELSE 'kept' END AS status
FROM old FULL OUTER JOIN new
  ON old.src = new.src AND old.pred = new.pred AND old.dst = new.dst
""")
def kg_snapshot_diff(spark, sf_dir):
    """Nightly KG snapshot diff: the full-corpus KG vs the KG rebuilt
    with every doc_id % 10 == 0 document dropped (the deterministic
    "yesterday's crawl" stand-in) — one FULL OUTER join on the triple
    key with added/removed/changed/kept status.  Both sides run the
    REAL distributed pipeline; the oracle diffs the two frozen
    single-threaded replays.  Canonicalization makes the diff
    non-monotone on purpose (dropping docs can re-split a component
    and ADD differently-canonicalized edges) — the regression class
    this operator exists to surface."""
    from mdscraper_spark.operators.graph import snapshot_diff

    full = kg_flagship(spark, sf_dir)
    docs_sub = (load(spark, sf_dir, "documents", fan_out=True)
                .filter(F.col("doc_id") % 10 != 0))
    pages = docs_to_kg_pages(docs_sub)
    with kg_ops.KgBuild(extract_markdown(pages, ExtractConfig()),
                        kg_ops.fixture_matcher(spark)) as kg:
        sub = kg.edges().localCheckpoint()
    return snapshot_diff(full, sub)


@register("kg_khop_reach", f"""
WITH RECURSIVE
e AS (SELECT src, dst FROM {_frozen('kg_edges_')}),
deg AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
seeds AS (SELECT node FROM deg ORDER BY out_deg DESC, node LIMIT 5),
reach(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, r.dist + 1 FROM reach r JOIN e ON e.src = r.node
  WHERE r.dist < 3
)
SELECT node, CAST(MIN(dist) AS INT) AS min_dist
FROM reach GROUP BY node
""")
def kg_khop_reach(spark, sf_dir):
    """Bounded multi-hop reachability over the full-pipeline KG: every
    node within 3 directed hops of the 5 highest-out-degree hub
    entities, with exact minimum distance.  The Spark side is a proper
    frontier BFS (visited anti-join — O(edges), never O(paths)); the
    oracle is DuckDB's recursive CTE enumerating all ≤3-hop paths and
    taking min(dist) — two independent derivations of one answer over
    the frozen single-threaded-oracle edges."""
    from mdscraper_spark.operators.graph import khop_reach

    return khop_reach(kg_flagship(spark, sf_dir), k=3, n_seeds=5)


_HUB_CAP = 54  # drops the top ~10% hub suppliers at sf0.01 (in-deg 36..59)


@register("graph_shared_suppliers", f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey % 10 = 0
),
hubs AS (
  SELECT dst FROM e GROUP BY dst HAVING COUNT(*) > {_HUB_CAP}
)
SELECT a.src AS node, COUNT(DISTINCT b.src) AS n_peers
FROM e a JOIN e b ON a.dst = b.dst AND a.src <> b.src
WHERE a.dst NOT IN (SELECT dst FROM hubs)
GROUP BY a.src
""")
def graph_shared_suppliers(spark, sf_dir):
    """Two-hop traversal via a shared out-neighbor, on the procurement
    graph (customer -> supplier through lineitems; the synthetic KG is
    a perfect person<->org matching, so its shared-neighbor set is
    empty by construction — this graph has real sharing).  Same
    self-equi-join-on-node plan that bucketing the edge table on the
    node id makes exchange-free at 10^12 edges — WITH the hub-degree
    guard engaged (in_deg > _HUB_CAP neighbors anti-joined out before
    pairing; the SQL oracle replays the same cap), so the in_deg²
    blow-up of mega-hub neighbors is bounded by construction."""
    from mdscraper_spark.operators.graph import shared_neighbor_counts

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    li = load(spark, sf_dir, "lineitem")
    edges = (li.join(o, li.l_orderkey == o.o_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_suppkey").alias("dst"))
             .distinct())
    return shared_neighbor_counts(edges, max_hub_degree=_HUB_CAP)


@register("two_hop_hub_capped", f"""
WITH e AS (
  SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey % 10 = 0
  UNION ALL
  SELECT DISTINCT 's' || s.s_suppkey, 'n' || s.s_nationkey FROM supplier s
),
ind AS (SELECT dst AS node, COUNT(*) AS in_deg FROM e GROUP BY dst),
outd AS (SELECT src AS node, COUNT(*) AS out_deg FROM e GROUP BY src),
hubs AS (
  SELECT ind.node FROM ind JOIN outd USING (node)
  WHERE in_deg > {_HUB_CAP} OR out_deg > {_HUB_CAP}
)
SELECT a.src, COUNT(DISTINCT b.dst) AS n_two_hop
FROM e a JOIN e b ON a.dst = b.src
WHERE a.dst NOT IN (SELECT node FROM hubs)
GROUP BY a.src
""")
def two_hop_hub_capped(spark, sf_dir):
    """J22 two-hop traversal WITH the hub-degree guard: customers reach
    nations through supplier midpoints (customer->supplier edges from
    lineitems, supplier->nation from the supplier table; node ids are
    type-prefixed so the three key spaces cannot collide).  Midpoints
    with fan-in or fan-out over the cap are dropped by a broadcast
    anti-join BEFORE the self-join (count pass first — the stop-shingle
    pattern), so the in×out intermediate blow-up of celebrity nodes is
    bounded; the SQL oracle replays the identical cap."""
    from mdscraper_spark.operators.graph import two_hop_counts

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    cs = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select(F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
                  .alias("src"),
                  F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
                  .alias("dst"))
          .distinct())
    sn = (su.select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string"))
                    .alias("src"),
                    F.concat(F.lit("n"), F.col("s_nationkey").cast("string"))
                    .alias("dst"))
          .distinct())
    return two_hop_counts(cs.unionByName(sn), max_hub_degree=_HUB_CAP)


@register("graph_triangle_clustering", """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN du.degree < dv.degree
                OR (du.degree = dv.degree AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.degree < dv.degree
                OR (du.degree = dv.degree AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN du.degree < dv.degree
                OR (du.degree = dv.degree AND e.u < e.v)
              THEN dv.degree ELSE du.degree END AS dt
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
tris AS (
  SELECT a.s, a.t AS t1, b.t AS t2
  FROM o a JOIN o b ON a.s = b.s
       AND (a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t))
       JOIN o c ON c.s = a.t AND c.t = b.t
),
per_node AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT s AS node FROM tris
    UNION ALL SELECT t1 AS node FROM tris
    UNION ALL SELECT t2 AS node FROM tris)
  GROUP BY node
)
SELECT deg.node, deg.degree, COALESCE(n_tri, 0) AS n_tri,
       CASE WHEN deg.degree < 2 THEN 0.0
            ELSE round(2.0 * COALESCE(n_tri, 0)
                       / (deg.degree * (deg.degree - 1)), 6)
       END AS clustering
FROM deg LEFT JOIN per_node ON per_node.node = deg.node
""")
def graph_triangle_clustering(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient via
    degree-ordered orientation (wedge fan-out capped at O(sqrt(m)) per
    node, total work O(m^1.5) regardless of hub skew — the shape a
    10^12-edge counter needs), on the part co-order graph: parts are
    adjacent when one order contains both (triangle-rich, unlike the
    strictly bipartite procurement edges).  Each triangle is
    enumerated exactly once at its minimum-(degree, id) corner; the
    SQL oracle replays the identical orientation and wedge ordering."""
    from mdscraper_spark.operators.graph import triangle_counts

    li = (load(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
          .distinct())
    a = li.select("o", F.col("p").alias("src"))
    b = li.select("o", F.col("p").alias("dst"))
    edges = (a.join(b, "o")
             .filter(F.col("src") < F.col("dst"))
             .select("src", "dst")
             .distinct())
    return triangle_counts(edges)


@register("kg_pagerank", f"""
SELECT node, rank
FROM {_frozen('kg_pagerank_')}
""")
def kg_pagerank(spark, sf_dir):
    """Iterative PageRank (10 rounds, damping 0.85, dangling mass
    redistributed) as a DataFrame loop with lineage cuts — verified
    against the frozen single-threaded replay over the same frozen
    edges (tools/freeze_kg_oracle.py py_pagerank)."""
    from mdscraper_spark.operators.graph import pagerank

    return pagerank(kg_flagship(spark, sf_dir))


@register("kg_pmi_cooccurrence", f"""
SELECT canon_a, canon_b, n_pair, pmi
FROM {_frozen('kg_pmi_')}
""")
def kg_pmi_cooccurrence(spark, sf_dir):
    """Sentence-level PMI between canonical entities (round 5): the
    statistical edge-weighting layer over the same mentions + CC map
    the rule-based triples use — high-PMI pairs are relation
    candidates the SVO patterns missed.  Verified against the frozen
    single-threaded replay (tools/freeze_kg_oracle.py) over the same
    corpus signature; the per-sentence pair build's blow-up is bounded
    by mentions-per-sentence, never corpus size."""
    from mdscraper_spark.operators.kg import pmi_cooccurrence

    kg = _kg_build(spark, sf_dir)
    return pmi_cooccurrence(kg.mentions, kg.canonical_map)


@register("kg_edge_provenance", f"""
SELECT src, pred, dst, n_support, n_docs, first_url, last_url
FROM {_frozen('kg_prov_')}
""")
def kg_edge_provenance(spark, sf_dir):
    """Per-edge lineage (round 4): kg_edges extended with distinct
    supporting-doc counts and first/last supporting url — the audit
    trail a production KG needs behind every assertion.  Same single
    shuffle as the flagship edge build (extra aggregates ride the same
    groupBy); verified against the frozen single-threaded oracle's
    identical derivation."""
    kg = _kg_build(spark, sf_dir)
    return kg_ops.build_kg_edges_with_provenance(kg.triples,
                                                 kg.canonical_map)


@register("kg_edge_time_windows", f"""
SELECT src, pred, dst, n_support, first_seen, last_seen
FROM {_frozen('kg_tw_')}
""")
def kg_edge_time_windows(spark, sf_dir):
    """Temporal KG (J61): kg_edges extended with each assertion's
    observation window — min/max crawl timestamp over supporting
    pages ("since when has the web said this?").  The synthetic
    corpus's pages carry one constant warc_ts, so the row supplies
    the deterministic varied-timestamp twin both engines replay:
    ts(doc) = 2025-06-14 + (doc_id % 97) hours, where doc_id is the
    last url segment — a projection on each triple row, no join.
    Min/max ride the SAME single groupBy shuffle as the flagship edge
    build.  Verified against the frozen single-threaded oracle's
    identical derivation (tools/freeze_kg_oracle.py kg_tw fixtures)."""
    kg = _kg_build(spark, sf_dir)
    warc_ts = F.expr(
        "timestamp'2025-06-14 00:00:00' + make_interval(0, 0, 0, 0, "
        "CAST(CAST(substring_index(url, '/', -1) AS BIGINT) % 97 AS INT), "
        "0, 0)")
    return kg_ops.build_kg_edges_with_time_windows(
        kg.triples.withColumn("warc_ts", warc_ts), kg.canonical_map)


def _nt_sql_frag_expr(c: str) -> str:
    """ANSI-SQL twin of kg_ops._nt_iri_frag, GENERATED from the same
    escape table so the Spark render and the DuckDB oracle can never
    drift (round-4 ADVICE: the hand-written five-replace twin missed
    the rest of the IRIREF excluded set).  Control chars are spelled
    chr(n); printable ones as quoted literals."""
    expr = c
    for ch, enc in kg_ops._NT_ESCAPES:
        lit = f"chr({ord(ch)})" if ord(ch) < 0x21 else f"'{ch}'"
        expr = f"replace({expr},{lit},'{enc}')"
    return expr


@register("kg_export_ntriples", f"""
SELECT '<urn:kg:e:' || {_nt_sql_frag_expr('src')} ||
       '> <urn:kg:p:' || {_nt_sql_frag_expr('pred')} ||
       '> <urn:kg:e:' || {_nt_sql_frag_expr('dst')} ||
       '> .' AS ntriple,
       n_support
FROM {_frozen('kg_edges_')}
""")
def kg_export_ntriples(spark, sf_dir):
    """Graph-export sink row shape: the canonical kg_edges rendered as
    W3C N-Triples lines (the standard KG interchange format), verified
    against the same render over the FROZEN single-threaded oracle
    edges.  Pure projection over the materialized graph — the export
    adds zero shuffles at any scale."""
    return kg_ops.edges_to_ntriples(kg_flagship(spark, sf_dir))


def _nt_sql_literal_expr(c: str) -> str:
    """ANSI-SQL twin of kg_ops._nt_literal (N-Triples ECHAR string
    escaping), generated from the same table."""
    expr = c
    for ch, enc in kg_ops._NT_LITERAL_ESCAPES:
        lit = f"chr({ord(ch)})" if ord(ch) < 0x20 else f"'{ch}'"
        expr = f"replace({expr},{lit},'{enc}')"
    return expr


_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


@register("kg_export_provenance", f"""
WITH t AS (
  SELECT
    '<urn:kg:stmt:' || md5(concat_ws(chr(31), src, pred, dst)) || '>'
        AS stmt,
    '<urn:kg:e:' || {_nt_sql_frag_expr('src')} || '>' AS s_iri,
    '<urn:kg:p:' || {_nt_sql_frag_expr('pred')} || '>' AS p_iri,
    '<urn:kg:e:' || {_nt_sql_frag_expr('dst')} || '>' AS o_iri,
    CAST(n_support AS VARCHAR) AS sup_s,
    CAST(n_docs AS VARCHAR) AS docs_s,
    {_nt_sql_literal_expr('first_url')} AS first_lit,
    {_nt_sql_literal_expr('last_url')} AS last_lit
  FROM {_frozen('kg_prov_')}
)
SELECT unnest([
  s_iri || ' ' || p_iri || ' ' || o_iri || ' .',
  stmt || ' <{_RDF}type> <{_RDF}Statement> .',
  stmt || ' <{_RDF}subject> ' || s_iri || ' .',
  stmt || ' <{_RDF}predicate> ' || p_iri || ' .',
  stmt || ' <{_RDF}object> ' || o_iri || ' .',
  stmt || ' <urn:kg:m:n_support> "' || sup_s || '"^^<{_XSD_INT}> .',
  stmt || ' <urn:kg:m:n_docs> "' || docs_s || '"^^<{_XSD_INT}> .',
  stmt || ' <urn:kg:m:first_url> "' || first_lit || '" .',
  stmt || ' <urn:kg:m:last_url> "' || last_lit || '" .'
]) AS ntriple
FROM t
""")
def kg_export_provenance(spark, sf_dir):
    """Provenance-preserving export (round 5): the per-edge audit trail
    (distinct-doc support, first/last supporting url) rendered as
    standard RDF reification so it survives the N-Triples interchange
    boundary — composed kg_edge_provenance -> provenance_to_ntriples,
    verified line-for-line against the same reification over the FROZEN
    single-threaded oracle's provenance edges.  Projection + explode
    only: the export adds zero shuffles at any scale."""
    kg = _kg_build(spark, sf_dir)
    return kg_ops.provenance_to_ntriples(
        kg_ops.build_kg_edges_with_provenance(kg.triples, kg.canonical_map))


@register("warc_roundtrip", """
SELECT 'https://docs.test/' || doc_id AS url,
       md5('<html><head><title>Doc</title></head><body><div class="content"><h1>Report '
           || doc_id || '</h1><p>' || text || '</p></div></body></html>') AS html_md5,
       CAST(strlen('<html><head><title>Doc</title></head><body><div class="content"><h1>Report '
           || doc_id || '</h1><p>' || text || '</p></div></body></html>') AS BIGINT) AS n_bytes
FROM documents
""")
def warc_roundtrip(spark, sf_dir):
    """WARC source/sink e2e (round 4): pages synthesized from the
    documents table are serialized to Common-Crawl-style WARC/1.0
    shards (one mapInPandas pass, one shard per partition) and read
    back through the binaryFile+Arrow WARC scan; the oracle recomputes
    each page's html md5/byte-length directly from documents, so a
    single flipped byte anywhere in the record walk fails the hash."""
    import tempfile

    from mdscraper_spark.sources import warc as warc_src

    pages = docs_to_pages(load(spark, sf_dir, "documents", fan_out=True))
    out = tempfile.mkdtemp(prefix="mdscraper_warc_row_")
    warc_src.write_warc_shards(pages, out).collect()  # publish shards
    back = warc_src.read_warc(spark, out)
    return back.select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("n_bytes"))


# Driver-facing registration order.  The driver's correctness harness
# hashes only the FIRST 50 entries of queries()/oracle_sql(), so the
# engine-defining rows (KG flagship + graph read side, the real
# extraction UDF, multimodal, dedup/ANN, the training-data ops) are
# listed first and the redundant relational warm-ups last — every row
# past the cap still carries its oracle and stays verifiable via
# `python tools/check_oracle.py`.  A module-level assert keeps this
# list an exact permutation of REGISTRY, so adding a query without
# placing it here fails at import, not silently past the cap.
# Driver-window rotation (round-3 verdict item 2): the driver checks only
# the FIRST 50 rows each round, so the order below is REGENERATED each
# round by tools/rotate_driver_order.py — pinned engine-defining rows
# first, then every remaining slot goes to the rows longest-unverified
# by the driver (never-green and driver-red rows sort to the front).
# The per-row ledger lives in tools/driver_green_history.json.
# Round-5 window: 12 pinned + the new round-5 rows (the
# sixteen mid-round additions — kg_export_provenance,
# graph_triangle_clustering, doc_unigram_logprob, doc_tfidf_keywords,
# weighted_sample_docs, corpus_mixture_schedule, source_health_rollup,
# kg_pmi_cooccurrence, anchor_text_rollup, mirror_shingle_overlap,
# kg_component_sizes, dedup_quality_survivors, gopher_rules_filter,
# ccnet_quality_buckets, winnowing_fingerprints,
# winnowing_shared_pairs — plus the late-round c4_line_filter,
# dsir_importance_weights, semdedup_flags, gopher_repetition_stats,
# dup_span_scrub, er_blocking_pairs, er_blocking_multipass,
# kg_entity_card, kg_hits, kg_khop_reach, kg_snapshot_diff,
# doc_lexical_diversity, soft_error_page_flags batches (TWENTY-NINE
# new rows total), each displacing one r03-green row
# with its local coverage noted inline below)
# + the remaining r02/r03 rows up to exactly the 50-row cap; every
# row below the cap was driver-green in r03/r04
# (max staleness 2 rounds at rotation time) and remains covered by the
# local check_oracle twin — the rotation never removes a row's oracle,
# only its slot in the driver's hash window (round-4 ADVICE item 5:
# this trade-off is also documented in BENCH/BASELINE.md).
_DRIVER_ORDER = [
    "kg_flagship",  # last driver-green: r04
    "kg_nodes_check",  # last driver-green: r04
    "kg_triple_pr",  # last driver-green: r04
    "kg_pagerank",  # last driver-green: r04
    "kg_degree_stats",  # last driver-green: r04
    "extract_markdown_docs",  # last driver-green: r04
    "multimodal_decode",  # last driver-green: r04
    "dedup_exact",  # last driver-green: r04
    "near_dedup_groups",  # last driver-green: r04
    "ngram_jaccard_pairs",  # last driver-green: r04
    "ivf_kmeans_recall",  # last driver-green: r04
    "curation_funnel",  # last driver-green: r04
    # rotation: longest-unverified-by-driver first
    "anchor_text_rollup",  # last driver-green: r00
    "c4_line_filter",  # last driver-green: r00 (new round 5)
    "ccnet_quality_buckets",  # last driver-green: r00
    "corpus_mixture_schedule",  # last driver-green: r00
    "dedup_quality_survivors",  # last driver-green: r00
    "dsir_importance_weights",  # last driver-green: r00 (new round 5)
    "doc_lexical_diversity",  # last driver-green: r00 (new round 5)
    "doc_tfidf_keywords",  # last driver-green: r00
    "doc_unigram_logprob",  # last driver-green: r00
    "dup_span_scrub",  # last driver-green: r00 (new round 5)
    "er_blocking_multipass",  # last driver-green: r00 (new round 5)
    "er_blocking_pairs",  # last driver-green: r00 (new round 5)
    "gopher_repetition_stats",  # last driver-green: r00 (new round 5)
    "gopher_rules_filter",  # last driver-green: r00
    "graph_triangle_clustering",  # last driver-green: r00
    "kg_component_sizes",  # last driver-green: r00
    "kg_entity_card",  # last driver-green: r00 (new round 5)
    "kg_export_provenance",  # last driver-green: r00
    "kg_hits",  # last driver-green: r00 (new round 5)
    "kg_khop_reach",  # last driver-green: r00 (new round 5)
    "kg_snapshot_diff",  # last driver-green: r00 (new round 5)
    "kg_pmi_cooccurrence",  # last driver-green: r00
    "mirror_shingle_overlap",  # last driver-green: r00
    "semdedup_flags",  # last driver-green: r00 (new round 5)
    "soft_error_page_flags",  # last driver-green: r00 (new round 5)
    "source_health_rollup",  # last driver-green: r00
    "weighted_sample_docs",  # last driver-green: r00
    "winnowing_fingerprints",  # last driver-green: r00
    "winnowing_shared_pairs",  # last driver-green: r00
    "host_boilerplate_scrub",  # last driver-green: r00 (new round 5)
    "kg_edge_time_windows",  # last driver-green: r00 (new round 5)
    "cube_event_stats",  # last driver-green: r02
    "distinct_users_per_type",  # last driver-green: r02
    "event_value_percentiles",  # last driver-green: r02
    "benchmark_contamination",  # last driver-green: r03
    "clean_text_collapse",  # last driver-green: r03
    "cosine_topk",  # last driver-green: r03
    "dedup_embedding_pairs",  # last driver-green: r03
    # ---- driver cap (50) falls here; rows below hold the freshest
    # ---- driver-green signals and stay check_oracle-verified locally
    "doc_chunks",  # last driver-green: r03 (demoted for
    #              # kg_edge_time_windows; covered by
    #              # tests/test_chunking.py + check_oracle)
    "doc_fingerprint",  # last driver-green: r03 (demoted for
    #                   # host_boilerplate_scrub; covered by
    #                   # tests/test_textstats_extra.py + check_oracle)
    "doc_lang_guess",  # last driver-green: r03 (demoted for
    #                  # kg_snapshot_diff; covered by
    #                  # tests/test_textstats_extra.py + check_oracle)
    "doc_repetition_stats",  # last driver-green: r03 (demoted for
    #                        # er_blocking_multipass; covered by
    #                        # tests/test_textstats_extra.py + check_oracle)
    "doc_quality_score",  # last driver-green: r03 (demoted for
    #                     # soft_error_page_flags; covered by
    #                     # tests/test_quality_filters.py + check_oracle)
    "doc_size_kb",  # last driver-green: r03 (demoted for
    #               # er_blocking_pairs; covered by check_oracle +
    #               # the B6 pytest)
    "doc_split_assignment",  # last driver-green: r03 (demoted for
    #                        # kg_entity_card; covered by
    #                        # tests/test_textstats_extra.py + check_oracle)
    "doc_token_stats",  # last driver-green: r03 (demoted for
    #                   # doc_lexical_diversity; covered by
    #                   # tests/test_textstats_extra.py + check_oracle)
    "domain_quota_sample",  # last driver-green: r03 (demoted for
    #                       # kg_hits; covered by
    #                       # tests/test_balanced_sample.py + check_oracle)
    "graph_shared_suppliers",  # last driver-green: r03 (demoted for
    #                          # dup_span_scrub; covered by
    #                          # tests/test_graph_ops.py + check_oracle)
    "greedy_token_packing",  # last driver-green: r03 (demoted for
    #                        # kg_khop_reach; covered by
    #                        # tests/test_chunking.py + check_oracle)
    "glob_exclude_filter",  # last driver-green: r03 (demoted for
    #                       # gopher_repetition_stats; covered by
    #                       # tests/test_links_ops.py + the exclude
    #                       # golden variants + check_oracle)
    "heading_space_insert",  # last driver-green: r03 (demoted for
    #                        # semdedup_flags; covered by the golden
    #                        # hs_* variants + check_oracle)
    "ivf_cell_sizes",  # last driver-green: r03 (demoted for
    #                  # dsir_importance_weights; still covered by
    #                  # tests/test_ivf_kmeans.py + check_oracle)
    "ivf_topk",  # last driver-green: r03 (demoted for c4_line_filter;
    #            # still covered by tests/test_ivf_kmeans.py + check_oracle)
    "lang_balanced_sample",  # last driver-green: r03
    "lsh_bucket_counts",  # last driver-green: r03
    "lsh_pairs",  # last driver-green: r03
    "lsh_topk",  # last driver-green: r03
    "md_title_probe",  # last driver-green: r03
    "minhash_signatures",  # last driver-green: r03
    "pack_utilization",  # last driver-green: r03
    "paragraph_dedup",  # last driver-green: r03
    "relative_url_strip",  # last driver-green: r03
    "sanitize_slug",  # last driver-green: r03
    "simhash16",  # last driver-green: r03
    "site_seed_harvest",  # last driver-green: r03
    "two_hop_hub_capped",  # last driver-green: r03
    "url_file_order",  # last driver-green: r03
    "url_normalize_dedup",  # last driver-green: r03
    "alias_edit_distance",  # last driver-green: r04
    "approx_distinct_users_per_type",  # last driver-green: r04
    "approx_event_value_percentiles",  # last driver-green: r04
    "asof_prior_click",  # last driver-green: r04
    "corpus_bigram_counts",  # last driver-green: r04
    "corpus_shuffle",  # last driver-green: r04
    "crawl_policy_filter",  # last driver-green: r04
    "customers_without_orders",  # last driver-green: r04
    "dedup_lines",  # last driver-green: r04
    "div_attr_census",  # last driver-green: r04
    "dup_span_stats",  # last driver-green: r04
    "embedding_dedup_groups",  # last driver-green: r04
    "event_sessions",  # last driver-green: r04
    "events_error_click_window",  # last driver-green: r04
    "events_json_extract",  # last driver-green: r04
    "hourly_event_stats",  # last driver-green: r04
    "inlink_stats",  # last driver-green: r04
    "ivf_auto_cells",  # last driver-green: r04
    "kg_edge_provenance",  # last driver-green: r04
    "kg_export_ntriples",  # last driver-green: r04
    "kg_lambda_parity",  # last driver-green: r04
    "largest_order_argmax",  # last driver-green: r04
    "latest_order_per_customer",  # last driver-green: r04
    "multimodal_feature_ann",  # last driver-green: r04
    "multimodal_frame_sample",  # last driver-green: r04
    "normalized_exact_dedup",  # last driver-green: r04
    "orders_above_customer_avg",  # last driver-green: r04
    "part_types_except",  # last driver-green: r04
    "part_types_intersect",  # last driver-green: r04
    "pii_scrub",  # last driver-green: r04
    "pivot_user_event_matrix",  # last driver-green: r04
    "q1_pricing_summary",  # last driver-green: r04
    "q3_top_orders",  # last driver-green: r04
    "q5_region_revenue",  # last driver-green: r04
    "rollup_lang_source",  # last driver-green: r04
    "status_counts",  # last driver-green: r04
    "warc_roundtrip",  # last driver-green: r04
    "window_running_stats",  # last driver-green: r04
]


# explicit raise (not assert): must survive `python -O`, where a
# compiled-out assert would silently drop unlisted queries from the
# driver surface
if set(_DRIVER_ORDER) != set(REGISTRY) or \
        len(_DRIVER_ORDER) != len(REGISTRY):
    raise RuntimeError(
        "_DRIVER_ORDER out of sync with REGISTRY: "
        f"{sorted(set(_DRIVER_ORDER) ^ set(REGISTRY))}")


def queries() -> Dict[str, QueryFn]:
    return {name: REGISTRY[name][0] for name in _DRIVER_ORDER}


def oracle_sql() -> Dict[str, str]:
    return {name: REGISTRY[name][1].strip() for name in _DRIVER_ORDER
            if REGISTRY[name][1] is not None}
