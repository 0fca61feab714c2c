"""Dump formatted physical plans for the engine's flagship queries to
BENCH/PLANS.md — reviewable evidence that each hot path compiles to
the plan the 100-TB design calls for (pushed filters, pruned scans,
broadcast vs shuffle joins placed on purpose, window-based top-k, no
cartesian anywhere).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

REPO = pathlib.Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"

# (registry row, what the plan must show)
CASES = [
    ("q3_top_orders",
     "broadcast joins on the small dims, pushed segment filter, "
     "TakeOrdered top-k (no global sort)"),
    ("extract_markdown_docs",
     "ONE ArrowEvalPython stage over a narrow projected scan — the "
     "whole extraction front end is a single vectorized pass"),
    ("kg_flagship",
     "InMemoryTableScan of the persisted mined rows (the one Arrow "
     "mining pass of kg_ops.KgBuild, shared by every KG row) -> two "
     "broadcast joins of the triples' mining-pass node ids with the "
     "driver-built canonical map -> edge aggregation; no shuffle on "
     "the big side until the final groupBy"),
    ("near_dedup_groups",
     "banded LSH self-join on the bucket key (never all-pairs), CC on "
     "the pair graph only, one corpus left join at the end"),
    ("graph_triangle_clustering",
     "degree-ordered orientation: every join keyed (wedge pivot, "
     "closing edge), no CartesianProduct/BroadcastNestedLoopJoin"),
    ("doc_tfidf_keywords",
     "tf and df each one hash aggregate, token-keyed join, Window "
     "row_number head (partition-local top-k, no global Sort)"),
    ("doc_unigram_logprob",
     "token hash aggregate + one token-keyed left join; corpus total "
     "folded in as a literal"),
    ("weighted_sample_docs",
     "narrow per-row keying + TakeOrderedAndProject k-heap head"),
    ("asof_prior_click",
     "single union-merge window, join-free"),
    ("hourly_event_stats",
     "partial/final hash aggregate pair (map-side combine) over a "
     "pruned scan"),
    ("anchor_text_rollup",
     "one Arrow harvest pass, map-side-combined (target, anchor) "
     "aggregate, ONE shared per-target window exchange with a "
     "WindowGroupLimit top-1 pushdown for the plurality pick"),
    ("gopher_rules_filter",
     "nothing but Projects above the scan — zero join, zero Python, "
     "no operator-owned Exchange (the one Exchange is load()'s "
     "test-scale fan_out repartition; the shuffle-free property on a "
     "raw frame is pinned by tests/test_quality_filters.py)"),
    ("ccnet_quality_buckets",
     "one token aggregate + skew-joinable token join for the LM "
     "score, doc_id-keyed lang join, ONE per-language window sort"),
    ("winnowing_shared_pairs",
     "posting stream from a narrow projection, over-cap hashes pruned "
     "by a broadcast anti-join, ONE collect_list per hash, pairs "
     "generated narrowly from each posting list (no self-join), "
     "map-side-combined pair count — no CartesianProduct/"
     "BroadcastNestedLoopJoin anywhere"),
    ("c4_line_filter",
     "nothing but Projects above the scan — the whole line-rule "
     "battery is one narrow per-row projection (zero join, zero "
     "Python; the raw-frame shuffle-free property is pinned by "
     "tests/test_quality_filters.py)"),
    ("dsir_importance_weights",
     "two bucket-bounded hash aggregates for the corpus models, the "
     "log-ratio table joined back BROADCAST onto the raw feature "
     "stream, one map-side-combined per-doc sum — no corpus "
     "self-join"),
    ("semdedup_flags",
     "broadcast centroid assignment, the pair stage a real cid "
     "equi-join (cell-bounded quadratic, SemDeDup's own cost model), "
     "map-side-combined eliminator argmin — the only nested-loop is "
     "the bounded 8-row centroid broadcast"),
    ("gopher_repetition_stats",
     "eleven sorted-array folds in ONE narrow projection — zero join, "
     "zero Python, no operator-owned Exchange (the oracle recomputes "
     "the same modes relationally; raw-frame shuffle-freedom pinned "
     "by tests/test_quality_filters.py)"),
    ("dup_span_scrub",
     "stats half = dup_span_stats' plan (window-hash count aggregate "
     "+ join-back, min(struct) keeper election map-side combined); "
     "the per-token posexplode + reassembly appears ONLY downstream "
     "of the affected-doc join — the untouched majority exits through "
     "a narrow left-anti projection"),
    ("doc_lexical_diversity",
     "nothing but Projects above the scan — census fold + 26 "
     "length-diff entropy terms in one narrow projection (zero join, "
     "zero Python, no operator-owned Exchange)"),
    ("er_blocking_pairs",
     "one parallel per-block window sort (Exchange on the block "
     "prefix), leads as flat window columns, pair fold a narrow "
     "Generate — no self-join, no global Sort"),
    ("kg_entity_card",
     "ONE hash aggregate on the edge bucket key (partial/final "
     "ObjectHashAggregate pair); in-group sort_array, no global Sort"),
    ("kg_hits",
     "per half-step ONE hash join edge-list ⋈ scores + map-side-"
     "combinable sum; the edge list localCheckpointed once (scan, "
     "not recompute, each round); normalizer a bounded driver "
     "scalar — no corpus-wide sort, no cartesian"),
    ("kg_khop_reach",
     "three unrolled frontier hash joins on the edge src key, each "
     "followed by a distinct + left-anti visited join (AQE broadcasts "
     "the seed-sized frontier at runtime); no recursive blow-up, no "
     "CartesianProduct"),
    ("host_boilerplate_scrub",
     "line census ONE distinct-agg hash aggregate on (host, line); "
     "only the over-threshold template subset joins back (host, line)"
     "-keyed; ws-only rows union AROUND the join; doc rebuild one "
     "hash aggregate — no self-join, no CartesianProduct"),
    ("kg_edge_time_windows",
     "the flagship edge build's plan: two broadcast joins of the "
     "triples' node ids with the canonical map, one groupBy shuffle "
     "with min/max timestamp aggregates riding it; the timestamp a "
     "projection on each triple row's url (no join)"),
]


def main() -> None:
    from mdscraper_spark.queries import REGISTRY
    from mdscraper_spark.session import get_spark

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        f"Captured by `python tools/dump_plans.py` at sf0.001 "
        "(plan SHAPE is sf-independent; AQE may re-plan sizes at "
        "runtime).  Each section states what the plan must show — "
        "the property the matching plan-shape test pins.",
        "",
    ]
    for name, expect in CASES:
        fn, _ = REGISTRY[name]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree; drop the verbose per-node detail
        # sections (the tree itself names the join strategies, scans,
        # exchanges and codegen spans the review needs)
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"#\d+L?", "", tree)       # strip expr ids
        lines += [f"## {name}", "", f"**Must show:** {expect}", "",
                  "```", tree.rstrip(), "```", ""]
    out = REPO / "BENCH" / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
