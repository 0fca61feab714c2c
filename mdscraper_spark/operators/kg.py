"""Distributed KG-construction operators (SURVEY.md §2.I).

Stage map (BASELINE.json:6):
  markdown_docs --mapInPandas--> mentions, triples      (narrow, no shuffle)
      entity_links scored in the same mining pass (linked gazetteer)
  mention counts per surface --driver union-find--> canonical_map, kg_nodes
  canonical_map + triples --shuffle agg--> kg_edges

One surface rule: a surface's node id is ``rules.surface_node``
(casefold + whitespace collapse), computed once in the mining pass and
carried on every row that names a surface — ``node_id`` on mentions,
``subj_node``/``obj_node`` on triples.  Every consumer (edges,
provenance, time windows, PMI, nodes, the stream's state) keys on
those ids, so no Spark expression re-derives them.

Scale notes:
* a mention's surface is always an alias, so its best link is a
  function of the dictionary alone (rules.best_links).  A
  :class:`Matcher` holds one dictionary's rows, their best links and a
  broadcast linked ``rules.Gazetteer`` (a compact layout, as every
  executor process holds a copy); the mining pass emits each mention's
  entity_id/score from it — no join on the alias key, so no skew on it
  and no salting;
* a matcher is paid for once per dictionary, not once per build:
  ``KgBuildJob._run`` builds its own on a pool thread while extraction
  runs and closes it after its :class:`KgBuild`; the stream's
  micro-batches and the registry's KG rows take the application's
  fixture-dictionary matcher from :func:`fixture_matcher` and reuse
  it;
* :class:`KgBuild` is the composition of one pass over a matcher: one
  persisted mining pass, driver canonicalization and the edge
  aggregation.  Its callers are ``KgBuildJob._run`` (which bench.py,
  tools/scaling_bench.py and perfbench time), the registry's KG rows
  (``queries._kg_build`` and ``kg_snapshot_diff``) and the stream's
  ``apply_kg_batch``.  It hands out the graph: the canonical_map and
  kg_nodes rows and the frames built from them, and ``edges()`` over
  its own map, so no caller rebuilds the frames or reads a written map
  back.  Every mention surface is an alias of the matcher's
  dictionary, so the co-reference graph has at most |dictionary|
  surface nodes.  One groupBy of the mined mentions per surface
  reaches the driver, and :func:`canonicalize_surfaces` builds
  canonical_map and kg_nodes from it (union-find, no Spark job); every
  edge builder joins the triples' node ids against the broadcast map;
* ``link_entities``, ``coreference_edges`` and ``build_kg_nodes``
  remain only for perfbench's traced replay of the job's stages, and
  follow the same rule;
* :func:`connected_components` serves the other callers (dedup, the
  graph operators and the replay), whose graphs are not bounded by a
  dictionary: size-gated (AQE-style) — a driver union-find in one
  collect when the distinct edge set fits; otherwise hash-partitioned
  min-label propagation with exact changed-label convergence probes
  (Observation metrics riding each round's action) and
  localCheckpoint lineage cuts (SURVEY.md §4.3).
"""

from __future__ import annotations

import functools
from typing import Iterator, Union

import pandas as pd

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mdscraper_spark.kg import rules
from mdscraper_spark.sources import fixtures


def alias_df(spark: SparkSession) -> DataFrame:
    """The broadcastable alias dictionary (FIXTURES.md §2)."""
    schema = StructType([
        StructField("alias", StringType(), False),
        StructField("entity_id", LongType(), False),
        StructField("canonical", StringType(), False),
        StructField("etype", StringType(), False),
        StructField("prior", DoubleType(), False),
    ])
    return spark.createDataFrame(fixtures.alias_rows(), schema)


# ---------------------------------------------------------------------------
# I2 + I3 — mention & triple mining (narrow Arrow stages)
# ---------------------------------------------------------------------------

MINE_COMBINED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("kind", StringType(), False),   # 'mention' | 'triple'
    StructField("sent_id", IntegerType(), False),
    StructField("span_start", IntegerType(), True),
    StructField("span_end", IntegerType(), True),
    StructField("surface", StringType(), True),
    StructField("mtype", StringType(), True),
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
    StructField("conf", DoubleType(), True),
    StructField("entity_id", LongType(), True),  # mention's best link
    StructField("score", DoubleType(), True),
    # rules.surface_node of the mention's surface / triple's subj, obj
    StructField("node_id", StringType(), True),
    StructField("subj_node", StringType(), True),
    StructField("obj_node", StringType(), True),
])


def mine_kg_combined(markdown_docs: DataFrame,
                     gazetteer: Union[tuple, Broadcast]) -> DataFrame:
    """Mentions AND triples in ONE pass over the markdown: each
    document crosses the Arrow boundary and is sentence-split once.
    Split back out with :func:`split_mined` (and :func:`mined_links`).

    ``gazetteer`` is either the (alias, etype) entry tuple — the
    token-keyed gazetteer is then built once per executor process
    (rules.cached_gazetteer) and mention rows carry no link — or a
    :class:`Matcher`'s Broadcast of a linked ``rules.Gazetteer``,
    shipped once per executor; each mention row then carries its best
    link's entity_id and score.  Every row carries the
    ``rules.surface_node`` ids of the surfaces it names: ``node_id`` on
    mentions, ``subj_node``/``obj_node`` on triples."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = (gazetteer.value if isinstance(gazetteer, Broadcast)
               else rules.cached_gazetteer(gazetteer))
        cols = ("url", "kind", "sent_id", "span_start", "span_end",
                "surface", "mtype", "subj", "pred", "obj", "conf",
                "entity_id", "score", "node_id", "subj_node", "obj_node")
        for pdf in batches:
            rows = {k: [] for k in cols}

            def emit(**kw):
                for k in cols:
                    rows[k].append(kw.get(k))

            for url, markdown in zip(pdf["url"], pdf["markdown"]):
                if markdown is None:
                    continue
                sentences = rules.split_sentences(markdown)
                for sid, start, end, surface, found in rules.detect_mentions(
                        sentences, gaz):
                    mtype, eid, score = (found if gaz.linked
                                         else (found, None, None))
                    emit(url=url, kind="mention", sent_id=sid,
                         span_start=start, span_end=end, surface=surface,
                         mtype=mtype, entity_id=eid, score=score,
                         node_id=rules.surface_node(surface))
                for sid, subj, pred, obj, conf in rules.extract_triples(
                        sentences):
                    emit(url=url, kind="triple", sent_id=sid, subj=subj,
                         pred=pred, obj=obj, conf=conf,
                         subj_node=rules.surface_node(subj),
                         obj_node=rules.surface_node(obj))
            out = pd.DataFrame(rows)
            # nullable Int64: a float64 NaN column would round ids
            # past 2**53
            out["entity_id"] = pd.array(rows["entity_id"], dtype="Int64")
            yield out

    return (markdown_docs.filter(F.col("status") == "ok")
            .select("url", "markdown")
            .mapInPandas(run, MINE_COMBINED_SCHEMA))


def split_mined(mined: DataFrame) -> tuple:
    """combined rows -> (mentions, triples).

    mentions: (url, sent_id, span_start, span_end, surface, mtype,
    node_id); triples: (url, sent_id, subj, pred, obj, conf, subj_node,
    obj_node)."""
    mentions = (mined.filter(F.col("kind") == "mention")
                .select("url", "sent_id",
                        F.col("span_start").cast("int").alias("span_start"),
                        F.col("span_end").cast("int").alias("span_end"),
                        "surface", "mtype", "node_id"))
    triples = (mined.filter(F.col("kind") == "triple")
               .select("url", "sent_id", "subj", "pred", "obj", "conf",
                       "subj_node", "obj_node"))
    return mentions, triples


def mined_links(mined: DataFrame) -> DataFrame:
    """entity_links(url, mention_key, entity_id, surface, score) of a
    pass mined with a linked gazetteer: a narrow projection of its
    mention rows, ``mention_key = url#sent_id#span_start``."""
    return (mined.filter((F.col("kind") == "mention")
                         & F.col("entity_id").isNotNull())
            .select("url",
                    F.concat_ws("#", "url", "sent_id", "span_start")
                    .alias("mention_key"),
                    "entity_id", "surface", "score"))


# ---------------------------------------------------------------------------
# I4 — entity-link scoring (join form, for the traced replay)
# ---------------------------------------------------------------------------

def link_entities(mentions: DataFrame, aliases: DataFrame,
                  salt=None) -> DataFrame:
    """Best entity link per mention, as a broadcast join against the
    dictionary's best links.

    No caller of the library builds links this way: :class:`KgBuild`
    scores them in the mining pass (:func:`mine_kg_combined` with a
    linked gazetteer).  This join form stays for perfbench's traced
    replay of the job's stages and applies the same rule: every
    mention surface is an alias, so ``rules.best_links`` of the
    collected alias rows (the bounded broadcast side) gives each
    surface's link, joined on the exact surface; a surface that links
    to no entity gets no row, as in :func:`mined_links`.  ``salt`` is
    accepted only as ``None``, the value the replay passes."""
    if salt is not None:
        raise ValueError(f"salt must be None (the join is always "
                         f"broadcast): {salt!r}")
    rows = aliases.select("alias", "entity_id", "canonical", "etype",
                          "prior").collect()
    best = mentions.sparkSession.createDataFrame(
        [(s, eid, score) for s, (eid, score) in rules.best_links(rows).items()
         if eid is not None],
        "surface string, entity_id long, score double")
    return (mentions.join(F.broadcast(best), "surface")
            .select("url",
                    F.concat_ws("#", "url", "sent_id", "span_start")
                    .alias("mention_key"),
                    "entity_id", "surface", "score"))


# ---------------------------------------------------------------------------
# I5 — canonicalization: connected components by min-label propagation
# ---------------------------------------------------------------------------

CANONICAL_MAP_SCHEMA = StructType([
    StructField("node_id", StringType(), False),
    StructField("canon_id", StringType(), False),
])

# the schema build_kg_nodes' plan gives kg_nodes
KG_NODES_SCHEMA = StructType([
    StructField("canon_id", StringType(), True),
    StructField("label", StringType(), True),
    StructField("n_mentions", LongType(), True),
])


def coreference_edges(entity_links: DataFrame) -> DataFrame:
    """Winning links induce the surface<->entity co-reference graph:
    its distinct (surface node, entity node) pairs, built on the
    driver — a surface has one best link, so there are at most
    |dictionary| of them, as in :func:`canonicalize_surfaces`."""
    pairs = {(rules.surface_node(s), rules.entity_node(eid)) for s, eid in
             entity_links.select("surface", "entity_id").distinct().collect()}
    return entity_links.sparkSession.createDataFrame(
        sorted(pairs), "src string, dst string")


def _local_union_find(pairs) -> list:
    """Driver-side union-find with min-root labels.  Python str
    comparison (code points) equals Spark's UTF8 binary string order
    for valid UTF-8, so labels match the distributed path exactly."""
    parent: dict = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:        # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for src, dst in pairs:
        nodes.add(src)
        nodes.add(dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo                    # min root wins
    return [(n, find(n)) for n in sorted(nodes)]


def canonicalize_surfaces(n_by_surface: dict, link_of: dict,
                          dictionary_rows) -> tuple:
    """Driver-side canonicalization of one mining pass: (canonical_map
    rows, kg_nodes rows), equal to :func:`connected_components` over
    the pass's links followed by :func:`build_kg_nodes`.

    n_by_surface: {surface: mentions} of the pass; link_of:
    ``rules.best_links(dictionary_rows)``.  Every mention surface is
    an alias, so the co-reference graph is the union-find over the
    distinct (surface node, best-link entity node) pairs of at most
    |dictionary| surfaces.  Node counts are summed per canon id; an
    entity root is labelled with each distinct canonical name the
    dictionary gives it (one row per name, as the label join emits),
    a surface root with its bare surface."""
    cmap_rows = _local_union_find({
        (rules.surface_node(s), rules.entity_node(link_of[s][0]))
        for s in n_by_surface if link_of[s][0] is not None})
    canon_of = dict(cmap_rows)
    n_by_canon: dict = {}
    for surface, n in n_by_surface.items():
        node = rules.surface_node(surface)
        canon = canon_of.get(node, node)
        n_by_canon[canon] = n_by_canon.get(canon, 0) + n
    names: dict = {}
    for _alias, eid, canonical, _etype, _prior in dictionary_rows:
        names.setdefault(rules.entity_node(eid), set()).add(canonical)
    node_rows = [
        (cid, cid[2:] if name is None else name, n)
        for cid, n in sorted(n_by_canon.items())
        for name in sorted(names.get(cid, {None}),
                           key=lambda c: (c is not None, c or ""))]
    return cmap_rows, node_rows


def connected_components(edges: DataFrame, max_iter: int = 25,
                         checkpoint_every: int = 3,
                         local_solve_threshold: int = 2_000_000,
                         on_round=None) -> DataFrame:
    """canonical_map(node_id, canon_id): canon is the component min.

    Two physical strategies behind one semantic contract (the same
    size-gated shape as AQE's broadcast-join decision):

    * The co-reference graph after ``distinct()`` is the VOCABULARY
      graph — distinct (surface, entity) pairs — orders of magnitude
      smaller than the corpus that produced it.  When its edge count
      fits the driver (``local_solve_threshold`` rows), a local
      union-find replaces O(diameter) shuffle rounds: one count + one
      collect instead of ~k driver-coordinated jobs.
    * Past the threshold (web-scale alias vocabularies), or with a
      falsy one: hash-partitioned min-label propagation.  Labels are
      monotone non-increasing, so the per-round probe counts labels
      that strictly DECREASED this round via ``Observation`` metrics
      riding the round's one action — an exact changed-label count at
      zero extra passes (n_changed == 0 is the fixpoint).  localCheckpoint
      every few rounds cuts the lineage chain that otherwise grows
      linearly with iterations.

    ``on_round(round_idx, n_changed, n_nodes)`` (optional) fires after
    every distributed round — jobs persist these into their lineage
    table so a production non-convergence is diagnosable from the
    convergence trajectory instead of a bare RuntimeError (round-4
    verdict item 8).  The local union-find path has no rounds and
    never calls it.

    Both paths produce byte-identical labels (component min under
    UTF8 binary order); tests assert the equality.
    """
    from pyspark import StorageLevel
    dedup = edges.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if local_solve_threshold and dedup.count() <= local_solve_threshold:
            # one collect job (toLocalIterator would run a job per
            # partition — pathological for a small wide df)
            rows = _local_union_find((r[0], r[1]) for r in dedup.collect())
            out = edges.sparkSession.createDataFrame(
                rows, CANONICAL_MAP_SCHEMA)
            out._mdscraper_local = True   # driver-sized by the gate
            return out
        # distributed path: build the undirected set FROM the
        # still-persisted distinct edges (recomputing distinct from
        # the raw stream would repeat the most expensive shuffle at
        # exactly the scale where it hurts), then release the cache
        und = (dedup.union(dedup.select(F.col("dst").alias("src"),
                                        F.col("src").alias("dst")))
               .distinct().localCheckpoint())
    finally:
        dedup.unpersist()
    from pyspark.sql import Observation

    labels = (und.select(F.col("src").alias("node_id"))
              .distinct()
              .withColumn("label", F.col("node_id")))

    converged = False
    for i in range(max_iter):
        msgs = (und.join(labels, und.src == labels.node_id)
                .select(F.col("dst").alias("node_id"), F.col("label")))
        # Ride the old label through the SAME single shuffle (every
        # node occurs exactly once in `labels`, so max(old_label)
        # recovers it; msg rows carry NULL), then observe the exact
        # count of labels that strictly decreased — the convergence
        # probe and the telemetry are the round's one action, no
        # second aggregation pass.
        obs = Observation()
        merged = (labels.withColumn("old_label", F.col("label"))
                  .unionByName(msgs.withColumn(
                      "old_label", F.lit(None).cast("string")))
                  .groupBy("node_id")
                  .agg(F.min("label").alias("label"),
                       F.max("old_label").alias("old_label")))
        observed = merged.observe(
            obs,
            F.coalesce(F.sum((F.col("label") < F.col("old_label"))
                             .cast("long")), F.lit(0)).alias("n_changed"),
            F.count(F.lit(1)).alias("n_nodes"))
        labels = observed.select("node_id", "label")
        # ONE action per round.  On checkpoint rounds the (eager)
        # localCheckpoint IS that action — it executes the plan once,
        # fills obs, and materializes the result; running count()
        # first and checkpointing after would execute the round's
        # join+agg (plus up to checkpoint_every rounds of uncut
        # lineage) twice.
        if (i + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint()
        else:
            labels.count()  # fills obs
        n_changed = obs.get["n_changed"]
        if on_round is not None:
            on_round(i, int(n_changed), int(obs.get["n_nodes"]))
        if n_changed == 0:
            converged = True
            break
    if not converged:
        # min-label propagation needs O(component diameter) rounds;
        # stopping early would SILENTLY split one component into
        # several canon ids — corrupt canonicalization, no symptom.
        # Fail loudly; callers with genuinely deep graphs raise
        # max_iter (cost is per-round, convergence is data-dependent).
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "iterations (a component's diameter exceeds the round "
            "budget); raise max_iter")
    # materialize the fixpoint so downstream consumers don't replay the
    # remaining iterations' lineage
    return (labels.select(F.col("node_id"), F.col("label").alias("canon_id"))
            .localCheckpoint())


# ---------------------------------------------------------------------------
# I6 — graph materialization
# ---------------------------------------------------------------------------

def _maybe_broadcast(canonical_map: DataFrame):
    """Broadcast-hint the canonical map ONLY when the size gate proved
    it driver-sized (the local union-find path tags its output).  The
    distributed-CC output exists precisely because the vocabulary was
    too big to collect — force-broadcasting it would OOM the driver in
    the regime the size-gated path was built for; an untagged map goes
    through a regular join and Catalyst/AQE still broadcasts it when
    stats say it fits."""
    if getattr(canonical_map, "_mdscraper_local", False):
        return F.broadcast(canonical_map)
    return canonical_map


def build_kg_nodes(canonical_map: DataFrame, mentions: DataFrame,
                   aliases: DataFrame) -> DataFrame:
    """kg_nodes(canon_id, label, n_mentions): mentions counted per
    ``node_id``, mapped onto canonical ids and summed.  Node label: the
    canonical entity name when the component root is an entity node,
    else the bare surface."""
    counted = (mentions.groupBy("node_id")
               .agg(F.count(F.lit(1)).alias("n_mentions"))
               .join(canonical_map, "node_id", "left")
               .withColumn("canon_id", F.coalesce("canon_id", "node_id"))
               .groupBy("canon_id")
               .agg(F.sum("n_mentions").alias("n_mentions")))
    ent_labels = (aliases.select(
        F.concat(F.lit("e:"), F.col("entity_id").cast("string")).alias("canon_id"),
        F.col("canonical")).distinct())
    # the dictionary is broadcast for mining anyway
    return (counted.join(F.broadcast(ent_labels), "canon_id", "left")
            .select("canon_id",
                    F.coalesce("canonical", F.substring(F.col("canon_id"), 3,
                                                        10000)).alias("label"),
                    "n_mentions"))


def _aggregate_edges(triples: DataFrame, canonical_map: DataFrame,
                     n_support, *extra_aggs) -> DataFrame:
    """The one edge aggregation every edge builder shares: map the
    triples' subj_node/obj_node onto canonical ids via two left joins
    on the canonical map (driver-built, so broadcast; unlinked surfaces
    keep their surface node id), then a single groupBy shuffle on
    (src, pred, dst) with ``n_support`` and any extra aggregates riding
    it over the other input columns (url, warc_ts, n_support, ...)."""
    cmap = F.broadcast(canonical_map)
    t = (triples.join(cmap.withColumnRenamed("node_id", "subj_node")
                      .withColumnRenamed("canon_id", "src_canon"),
                      "subj_node", "left")
         .join(cmap.withColumnRenamed("node_id", "obj_node")
               .withColumnRenamed("canon_id", "dst_canon"), "obj_node", "left"))
    return (t.withColumn("src", F.coalesce("src_canon", "subj_node"))
            .withColumn("dst", F.coalesce("dst_canon", "obj_node"))
            .groupBy("src", "pred", "dst")
            .agg(n_support.alias("n_support"), *extra_aggs))


def build_kg_edges(triples: DataFrame, canonical_map: DataFrame) -> DataFrame:
    """kg_edges(src, pred, dst, n_support): triples mapped onto canonical
    ids, deduped by support count."""
    return _aggregate_edges(triples, canonical_map, F.count(F.lit(1)))


class Matcher:
    """One alias dictionary's mention matcher, built once and shared by
    every :class:`KgBuild` over that dictionary: the dictionary rows,
    their ``rules.best_links`` and the broadcast linked
    ``rules.Gazetteer`` the mining pass probes (shipped once per
    executor).

    dictionary_rows: alias rows (alias, entity_id, canonical, etype,
    prior), in the order whose first etype per alias wins.  A context
    manager; :meth:`close` destroys the broadcast, after which no pass
    mined with it may be read."""

    def __init__(self, spark: SparkSession, dictionary_rows) -> None:
        self.rows = list(dictionary_rows)
        self.link_of = rules.best_links(self.rows)
        self.gazetteer = spark.sparkContext.broadcast(
            rules.Gazetteer(((a, t) for a, _e, _c, t, _p in self.rows),
                            self.link_of))

    def close(self) -> None:
        self.gazetteer.destroy()

    def __enter__(self) -> "Matcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


_FIXTURE_MATCHERS: dict = {}


def fixture_matcher(spark: SparkSession) -> Matcher:
    """The :class:`Matcher` of the fixture dictionary
    (``fixtures.alias_rows()``) for this Spark application: built on
    the first call, then handed to every later one (the stream's
    micro-batches, the registry's KG rows).  Never closed; its
    broadcast lives as long as the application, and a new application
    builds anew."""
    app_id = spark.sparkContext.applicationId
    matcher = _FIXTURE_MATCHERS.get(app_id)
    if matcher is None:
        _FIXTURE_MATCHERS.clear()       # a dead application's matcher
        matcher = _FIXTURE_MATCHERS[app_id] = Matcher(
            spark, fixtures.alias_rows())
    return matcher


class KgBuild:
    """The dictionary-to-graph step every KG caller runs: one persisted
    mining pass with a :class:`Matcher`'s broadcast linked gazetteer,
    its ``mentions``, ``triples`` and ``links`` frames, driver
    canonicalization and the edge aggregation.

    matcher: the dictionary's :class:`Matcher`, which the caller built
    and closes after the build.  The graph is canonicalized once, on
    first use: :meth:`canonicalize` gives the rows, ``canonical_map``
    and ``kg_nodes`` the frames built from them, and :meth:`edges` maps
    the pass's triples onto that map.  A context manager; :meth:`close`
    releases the mined rows, after which the frames must not be
    read."""

    def __init__(self, docs: DataFrame, matcher: Matcher) -> None:
        self.matcher = matcher
        self.mined = mine_kg_combined(docs, self.matcher.gazetteer).persist()
        self.mentions, self.triples = split_mined(self.mined)
        self.links = mined_links(self.mined)
        self._canonical = None

    def canonicalize(self) -> tuple:
        """(canonical_map rows, kg_nodes rows) of the pass, computed on
        the first call and kept: one mentions-per-surface collect (at
        most |dictionary| rows, as every surface is an alias), then
        :func:`canonicalize_surfaces`."""
        if self._canonical is None:
            n_by_surface = dict(
                self.mentions.groupBy("surface").count().collect())
            self._canonical = canonicalize_surfaces(
                n_by_surface, self.matcher.link_of, self.matcher.rows)
        return self._canonical

    @functools.cached_property
    def canonical_map(self) -> DataFrame:
        return self.mined.sparkSession.createDataFrame(
            self.canonicalize()[0], CANONICAL_MAP_SCHEMA)

    @functools.cached_property
    def kg_nodes(self) -> DataFrame:
        return self.mined.sparkSession.createDataFrame(
            self.canonicalize()[1], KG_NODES_SCHEMA)

    def edges(self) -> DataFrame:
        """kg_edges of the pass: its triples mapped onto its own
        canonical map."""
        return build_kg_edges(self.triples, self.canonical_map)

    def close(self) -> None:
        self.mined.unpersist()

    def __enter__(self) -> "KgBuild":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def build_kg_edges_with_provenance(triples: DataFrame,
                                   canonical_map: DataFrame) -> DataFrame:
    """Edge provenance (round 4): kg_edges extended with the lineage a
    production KG needs to audit an assertion — how many distinct
    documents support the edge and the lexicographic first/last
    supporting url.  Same single shuffle as build_kg_edges (the extra
    aggregates ride the same groupBy); countDistinct is exact here
    because the group key already co-locates each edge's rows."""
    return _aggregate_edges(triples, canonical_map,
                            F.count(F.lit(1)),
                            F.countDistinct("url").alias("n_docs"),
                            F.min("url").alias("first_url"),
                            F.max("url").alias("last_url"))


def build_kg_edges_with_time_windows(triples: DataFrame,
                                     canonical_map: DataFrame) -> DataFrame:
    """Temporal KG edges: kg_edges extended with the assertion's
    OBSERVATION WINDOW — min/max crawl timestamp over the supporting
    pages.  The temporal layer every streaming-KG consumer asks of a
    crawl-built graph ("since when has the web said this?", "is this
    edge stale?") without moving to full interval semantics.

    ``triples`` carries a ``warc_ts`` column next to the triple
    columns.  A triple whose warc_ts is null still counts toward
    n_support (support always equals build_kg_edges); it just leaves
    the window untouched.  Min/max ride the SAME single groupBy
    shuffle as the flagship edge build."""
    return _aggregate_edges(triples, canonical_map,
                            F.count(F.lit(1)),
                            F.min("warc_ts").alias("first_seen"),
                            F.max("warc_ts").alias("last_seen"))


def build_kg_edges_from_support(support: DataFrame,
                                canonical_map: DataFrame) -> DataFrame:
    """kg_edges from PRE-AGGREGATED raw triple support
    (subj_node, pred, obj_node, n_support) — the standing-ingest path:
    the streaming job accumulates per-surface-triple support sums, and the
    periodic canonicalization maps them onto canonical ids, SUMMING the
    accumulated support instead of re-counting rows.  Identical output
    to build_kg_edges over the union of the batches' triples (support
    counting is associative)."""
    return _aggregate_edges(support, canonical_map,
                            F.sum("n_support"))


# ---------------------------------------------------------------------------
# graph export (round 4): N-Triples interchange
# ---------------------------------------------------------------------------

# The W3C IRIREF production (n-triples grammar) excludes
# [#x00-#x20] < > " { } | ^ ` \ — ALL of them are percent-encoded, not
# just the original five (round-4 ADVICE: backslash etc. survive
# rules.norm_surface, which only collapses whitespace, so un-escaped
# they would render invalid N-Triples lines).  '%' stays FIRST so the
# mangling is injective: no later replacement can fabricate an escape.
_NT_ESCAPES = (("%", "%25"),) + tuple(
    (ch, "%%%02X" % ord(ch))
    for ch in [chr(c) for c in range(0x21)] + list('<>"{}|^`\\'))


def _nt_iri_frag(col):
    """Deterministic IRI-fragment mangling for node/predicate ids: every
    character the W3C IRIREF production forbids is percent-encoded,
    '%' first so the encoding is injective.  Pure codegen (chained
    replace), and the identical chain is expressible in ANSI SQL — see
    queries.kg_export_ntriples (generated from this same table)."""
    for ch, enc in _NT_ESCAPES:
        col = F.replace(col, F.lit(ch), F.lit(enc))
    return col


def edges_to_ntriples(edges: DataFrame,
                      base: str = "urn:kg:") -> DataFrame:
    """kg_edges(src, pred, dst, n_support) -> one N-Triples line per
    edge: ``<{base}e:{src}> <{base}p:{pred}> <{base}e:{dst}> .``

    W3C N-Triples is the standard KG interchange format; this is the
    export sink's row shape (write with ``df.write.text`` — a pure
    projection, no shuffle, partitioning preserved from the edges
    table).  n_support travels alongside so a reified export can be
    layered on without recomputing the graph.
    """
    line = F.concat(
        F.lit(f"<{base}e:"), _nt_iri_frag(F.col("src")),
        F.lit(f"> <{base}p:"), _nt_iri_frag(F.col("pred")),
        F.lit(f"> <{base}e:"), _nt_iri_frag(F.col("dst")),
        F.lit("> ."))
    return edges.select(line.alias("ntriple"),
                        F.col("n_support"))


# N-Triples STRING_LITERAL_QUOTE requires ECHAR escapes for exactly
# backslash, double quote, LF, CR (https://www.w3.org/TR/n-triples/
# #grammar-production-STRING_LITERAL_QUOTE); backslash FIRST so the
# escaping is injective.
_NT_LITERAL_ESCAPES = (("\\", "\\\\"), ('"', '\\"'),
                       ("\n", "\\n"), ("\r", "\\r"))

_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def _nt_literal(col):
    for ch, enc in _NT_LITERAL_ESCAPES:
        col = F.replace(col, F.lit(ch), F.lit(enc))
    return col


def provenance_to_ntriples(prov_edges: DataFrame,
                           base: str = "urn:kg:") -> DataFrame:
    """Provenance-preserving N-Triples export (round-5, verdict item 7):
    kg_edges_with_provenance rendered as standard RDF reification so
    the audit trail (distinct-doc support counts, first/last supporting
    url) SURVIVES export instead of being dropped at the interchange
    boundary.  Nine lines per edge:

      the asserted triple itself, then a reified statement node
      <{base}stmt:{md5(src,pred,dst)}> carrying rdf:type/subject/
      predicate/object plus n_support, n_docs (xsd:integer typed
      literals) and first_url/last_url (ECHAR-escaped string literals).

    Pure projection + generate (explode of a 9-element array) over the
    materialized provenance edges — zero shuffles at any scale; the
    statement id is a deterministic md5 over the US-separated id
    triple, so the export is reproducible and join-able back to the
    edges table."""
    sid = F.md5(F.concat_ws("\x1f", "src", "pred", "dst"))
    stmt = F.concat(F.lit(f"<{base}stmt:"), sid, F.lit(">"))
    s_iri = F.concat(F.lit(f"<{base}e:"), _nt_iri_frag(F.col("src")),
                     F.lit(">"))
    p_iri = F.concat(F.lit(f"<{base}p:"), _nt_iri_frag(F.col("pred")),
                     F.lit(">"))
    o_iri = F.concat(F.lit(f"<{base}e:"), _nt_iri_frag(F.col("dst")),
                     F.lit(">"))
    sp = F.lit(" ")
    end = F.lit(" .")
    lines = F.array(
        F.concat(s_iri, sp, p_iri, sp, o_iri, end),
        F.concat(stmt, F.lit(f" <{_RDF_NS}type> <{_RDF_NS}Statement> .")),
        F.concat(stmt, F.lit(f" <{_RDF_NS}subject> "), s_iri, end),
        F.concat(stmt, F.lit(f" <{_RDF_NS}predicate> "), p_iri, end),
        F.concat(stmt, F.lit(f" <{_RDF_NS}object> "), o_iri, end),
        F.concat(stmt, F.lit(f' <{base}m:n_support> "'),
                 F.col("n_support").cast("string"),
                 F.lit(f'"^^<{_XSD_INT}> .')),
        F.concat(stmt, F.lit(f' <{base}m:n_docs> "'),
                 F.col("n_docs").cast("string"),
                 F.lit(f'"^^<{_XSD_INT}> .')),
        F.concat(stmt, F.lit(f' <{base}m:first_url> "'),
                 _nt_literal(F.col("first_url")), F.lit('" .')),
        F.concat(stmt, F.lit(f' <{base}m:last_url> "'),
                 _nt_literal(F.col("last_url")), F.lit('" .')),
    )
    return prov_edges.select(F.explode(lines).alias("ntriple"))


def pmi_cooccurrence(mentions: DataFrame, cmap: DataFrame) -> DataFrame:
    """(canon_a, canon_b, n_pair, pmi): pointwise mutual information
    between canonical entities co-occurring in the same sentence — the
    statistical edge-weighting layer a KG adds on top of the rule-based
    triples (high-PMI pairs are relation candidates the SVO patterns
    missed; near-zero pairs co-occur by chance).

    pmi(a, b) = ln(n_pair * N / (n_a * n_b)) over sentence-level
    co-occurrence, N = sentences carrying at least one LINKED mention;
    unlinked surfaces drop out (inner join with the canonical map),
    and a canon appearing twice in a sentence counts once (distinct).

    Scale shape: the mention->canon hookup is one key join on the
    mentions' ``node_id``; the pair build is a per-sentence self-join
    whose blow-up is bounded by mentions-per-sentence (single digits
    in prose — the per-key quadratic is on sentence size, never corpus
    size); singles/pairs are map-side-combined groupBys.  The linked
    set feeds FOUR consumers (the N count, singles, and both pair
    sides), so it is localCheckpoint-ed once — the join+distinct runs
    a single time instead of once per consumer.
    Rounded to 6 so both engines' double ln agrees at the hash."""
    linked = (mentions.select("url", "sent_id", "node_id")
              .join(cmap, "node_id")
              .select("url", "sent_id", "canon_id")
              .distinct()
              .localCheckpoint())
    n_sent = linked.select("url", "sent_id").distinct().count()
    if n_sent == 0:
        return linked.select(
            F.col("canon_id").alias("canon_a"),
            F.col("canon_id").alias("canon_b"),
            F.lit(0).cast("long").alias("n_pair"),
            F.lit(0.0).alias("pmi"))
    singles = linked.groupBy("canon_id").agg(
        F.count(F.lit(1)).alias("n_single"))
    a = linked.select("url", "sent_id", F.col("canon_id").alias("canon_a"))
    b = linked.select("url", "sent_id", F.col("canon_id").alias("canon_b"))
    pairs = (a.join(b, ["url", "sent_id"])
             .filter(F.col("canon_a") < F.col("canon_b"))
             .groupBy("canon_a", "canon_b")
             .agg(F.count(F.lit(1)).alias("n_pair")))
    sa = singles.select(F.col("canon_id").alias("canon_a"),
                        F.col("n_single").alias("n_a"))
    sb = singles.select(F.col("canon_id").alias("canon_b"),
                        F.col("n_single").alias("n_b"))
    return (pairs.join(sa, "canon_a").join(sb, "canon_b")
            .select("canon_a", "canon_b", "n_pair",
                    F.round(F.log(F.col("n_pair").cast("double")
                                  * F.lit(float(n_sent))
                                  / (F.col("n_a") * F.col("n_b"))), 6)
                    .alias("pmi")))
