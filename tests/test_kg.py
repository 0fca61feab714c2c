"""KG back-end tests: distributed pipeline vs single-threaded oracle.

The oracle (kg/oracle.py) runs the same rules sequentially; the Spark
pipeline must match it exactly (triples P/R gate target 1.0 >= 0.95,
canonical components set-equal) regardless of partitioning, and the
salted join must equal the broadcast join.
"""

import pytest

from mdscraper_spark.config import ExtractConfig
from mdscraper_spark.kg import rules
from mdscraper_spark.kg.oracle import run_oracle
from mdscraper_spark.operators import kg as kg_ops
from mdscraper_spark.operators.extract_udfs import extract_markdown
from mdscraper_spark.sources import fixtures
from mdscraper_spark.sources.pages import bulk_pages_df

N_PAGES = 40
CFG = ExtractConfig(exclude_selectors=(".ads", "#nav"))


@pytest.fixture(scope="module")
def oracle():
    pages = [(r[0], r[2].decode("utf-8")) for r in fixtures.bulk_pages(N_PAGES)]
    return run_oracle(pages, fixtures.alias_rows(), CFG)


@pytest.fixture(scope="module")
def spark_kg(spark):
    pages = bulk_pages_df(spark, N_PAGES).repartition(5)
    docs = extract_markdown(pages, CFG)
    aliases = kg_ops.alias_df(spark)
    gaz_entries = tuple((a, t) for a, _e, _c, t, _p in fixtures.alias_rows())
    mentions, triples = kg_ops.split_mined(
        kg_ops.mine_kg_combined(docs, gaz_entries))
    links = kg_ops.link_entities(mentions, aliases)
    cmap = kg_ops.connected_components(kg_ops.coreference_edges(links))
    nodes = kg_ops.build_kg_nodes(cmap, mentions, aliases)
    edges = kg_ops.build_kg_edges(triples, cmap)
    return {
        "docs": docs, "aliases": aliases, "mentions": mentions,
        "triples": triples, "links": links, "cmap": cmap,
        "nodes": nodes, "edges": edges,
    }


def test_mentions_match_oracle(spark_kg, oracle):
    got = {tuple(r) for r in spark_kg["mentions"].collect()}
    want = set(oracle["mentions"])
    assert got == want
    assert len(want) > N_PAGES  # plenty of mentions planted


def test_triples_match_oracle_pr_gate(spark_kg, oracle):
    got = {tuple(r) for r in spark_kg["triples"].collect()}
    want = set(oracle["triples"])
    assert want, "oracle extracted no triples — rules broken"
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert got == want  # target: exact match


def test_triples_recall_vs_planted_truth():
    """Recall of the rule set against the generator's planted relations."""
    truth = set()
    extracted_docs = []
    pages = list(fixtures.bulk_pages(N_PAGES, with_truth=True))
    for url, _ts, html, _text, _lang, planted in pages:
        for t in planted:
            truth.add((url,) + t)
    oracle_out = run_oracle([(r[0], r[2].decode()) for r in pages],
                            fixtures.alias_rows(), CFG)
    got = {(u, s, p, o) for (u, _sid, s, p, o, _c) in oracle_out["triples"]}
    tp = len(got & truth)
    recall = tp / len(truth)
    precision = tp / len(got)
    assert recall >= 0.95, f"recall {recall}: missing {list(truth - got)[:5]}"
    assert precision >= 0.95, f"precision {precision}: extra {list(got - truth)[:5]}"


def test_entity_links_match_oracle(spark_kg, oracle):
    got = {(r.url, r.mention_key, r.entity_id, round(r.score, 9))
           for r in spark_kg["links"].collect()}
    want = {(u, mk, e, round(s, 9)) for (u, mk, e, s) in oracle["entity_links"]}
    assert got == want


def test_salted_join_equals_broadcast_join(spark_kg):
    salted = kg_ops.link_entities(spark_kg["mentions"], spark_kg["aliases"],
                                  salt=4)
    a = {tuple(r) for r in salted.collect()}
    b = {tuple(r) for r in spark_kg["links"].collect()}
    assert a == b


def _components(pairs):
    """canonical_map rows -> frozenset-of-frozensets component partition."""
    groups = {}
    for node, canon in pairs:
        groups.setdefault(canon, set()).add(node)
    return frozenset(frozenset(g) for g in groups.values())


def test_canonical_components_match_oracle(spark_kg, oracle):
    got = _components([(r.node_id, r.canon_id) for r in spark_kg["cmap"].collect()])
    want = _components(oracle["canonical_map"])
    assert got == want
    # and labels agree exactly (min-label == union-find min root)
    got_exact = {tuple(r) for r in spark_kg["cmap"].collect()}
    assert got_exact == set(oracle["canonical_map"])


def test_cc_local_and_distributed_paths_identical(spark_kg):
    """The size-gated local union-find and the distributed min-label
    propagation must produce byte-identical canonical maps."""
    edges = kg_ops.coreference_edges(spark_kg["links"])
    local = kg_ops.connected_components(edges)  # gated -> local solve
    dist = kg_ops.connected_components(edges, local_solve_threshold=0)
    assert {tuple(r) for r in local.collect()} == \
           {tuple(r) for r in dist.collect()}


def test_kg_nodes_and_edges_match_oracle(spark_kg, oracle):
    got_nodes = {tuple(r) for r in spark_kg["nodes"].collect()}
    assert got_nodes == set(oracle["kg_nodes"])
    got_edges = {tuple(r) for r in spark_kg["edges"].collect()}
    assert got_edges == set(oracle["kg_edges"])
    assert got_edges, "no kg edges produced"


def test_rules_units():
    md = "# T\n\nAlice Chen works for Stellar Labs 42. Markets rallied."
    sents = rules.split_sentences(md)
    assert sents == ["T", "Alice Chen works for Stellar Labs 42.",
                     "Markets rallied."]
    triples = rules.extract_triples(sents)
    assert triples == [(1, "Alice Chen", "works_for", "Stellar Labs 42", 1.0)]
    gaz = rules.Gazetteer([("Alice Chen", "PERSON"), ("Alice", "PERSON"),
                           ("Stellar Labs 42", "ORG")])
    ments = rules.detect_mentions(sents, gaz)
    # leftmost-longest: 'Alice Chen' wins over 'Alice'
    assert (1, 0, 10, "Alice Chen", "PERSON") in ments
    assert not any(m[3] == "Alice" for m in ments)


def test_auto_salt_triggers_on_big_dict_and_stays_byte_identical(spark_kg, spark):
    """I7 auto-trigger: with the dict under the broadcast threshold the
    auto path broadcasts (decide_salt -> None); with the threshold
    squeezed below the dict size (the hub-alias / giant-dictionary
    regime) the salted shuffle path kicks in — and both produce
    byte-identical links."""
    mentions, aliases = spark_kg["mentions"], spark_kg["aliases"]
    assert kg_ops.decide_salt(aliases) is None  # fixture dict fits

    base = {tuple(r) for r in spark_kg["links"].collect()}
    auto_small = kg_ops.link_entities(mentions, aliases, salt="auto")
    assert {tuple(r) for r in auto_small.collect()} == base

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled",
                              "true")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64b")
        # AQE skew handling on (production default): the over-threshold
        # dict takes the PLAIN shuffle join — AQE splits a hub key's
        # partition at runtime, and explicit salting measured 4x slower
        # (decide_salt docstring / BENCH/BASELINE.md)
        s = kg_ops.decide_salt(aliases)
        assert s == 1
        auto_big = kg_ops.link_entities(mentions, aliases, salt="auto")
        assert {tuple(r) for r in auto_big.collect()} == base

        # AQE skew handling OFF: hand-salting is the only skew defense
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        s_off = kg_ops.decide_salt(aliases)
        assert s_off is not None and s_off >= 4
        salted = kg_ops.link_entities(mentions, aliases, salt="auto")
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "salt_key" in plan           # salted keys in the join
        assert {tuple(r) for r in salted.collect()} == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", old_skew)


def test_decide_salt_cached_per_dict_identity(spark):
    """The broadcast-vs-salt decision is a property of the dictionary,
    not of the batch: tagged dicts pay the probe agg once per
    (tag, threshold, parallelism); untagged dicts never cache."""
    from unittest import mock

    kg_ops._SALT_DECISIONS.clear()
    a = kg_ops.alias_df(spark)
    d1 = kg_ops.decide_salt(a)
    assert len(kg_ops._SALT_DECISIONS) == 1
    # second call must hit the cache: poison DataFrame.agg to prove no
    # probe action runs
    a2 = kg_ops.alias_df(spark)
    with mock.patch.object(type(a2), "agg",
                           side_effect=AssertionError("probe re-ran")):
        assert kg_ops.decide_salt(a2) == d1
    # an untagged dict (no identity) probes every time, never caches
    bare = spark.createDataFrame(a.collect(), a.schema)
    kg_ops.decide_salt(bare)
    assert len(kg_ops._SALT_DECISIONS) == 1


def test_forced_salt_must_be_positive(spark_kg):
    import pytest as _pytest

    for bad in (0, -3, 2.5):
        with _pytest.raises(ValueError, match="salt"):
            kg_ops.link_entities(spark_kg["mentions"], spark_kg["aliases"],
                                 salt=bad)


def test_gazetteer_skips_empty_alias():
    """A caller-injected alias dictionary (reachable via KgBuildJob
    custom aliases) with a blank surface must not IndexError at
    pattern-compile time — and must not change matching."""
    gaz = rules.Gazetteer([("", "PERSON"), ("Alice", "PERSON")])
    assert [m[2] for m in gaz.find("Alice met Bob")] == ["Alice"]
    # all-empty dictionary compiles to the no-op matcher
    assert rules.Gazetteer([("", "ORG")]).find("anything") == []


def test_cc_max_iter_plumbed_through_dedup_surfaces(spark):
    """ADVICE r03: CC fails loud on round-budget exhaustion, so every
    production dedup/canonicalize surface must expose the knob."""
    import inspect

    from mdscraper_spark.jobs.dedup import dedup_corpus
    from mdscraper_spark.operators.dedup import (near_dedup_groups,
                                                 resolve_dedup_groups)
    from mdscraper_spark.streaming.kg_incremental import \
        canonicalize_accumulated

    for fn in (near_dedup_groups, resolve_dedup_groups, dedup_corpus,
               canonicalize_accumulated):
        assert "cc_max_iter" in inspect.signature(fn).parameters, fn
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta"),
         (2, "unrelated text entirely different")],
        "doc_id long, text string")
    got = {r.doc_id: r.keep
           for r in near_dedup_groups(docs, cc_max_iter=50).collect()}
    assert got == {0: True, 1: False, 2: True}


def test_edge_provenance_counts_and_url_span(spark):
    """Round 4: build_kg_edges_with_provenance = build_kg_edges plus
    exact distinct-doc counts and the lexicographic url span, one
    shuffle total."""
    from mdscraper_spark.operators.kg import (build_kg_edges,
                                              build_kg_edges_with_provenance)

    triples = spark.createDataFrame(
        [("https://d.test/2", 0, "Ada Lovelace", "works_for", "Acme", 0.9),
         ("https://d.test/1", 0, "Ada Lovelace", "works_for", "Acme", 0.9),
         ("https://d.test/1", 1, "Ada Lovelace", "works_for", "Acme", 0.9),
         ("https://d.test/3", 0, "Ada Lovelace", "born_in", "London", 0.8)],
        "url string, sent_id int, subj string, pred string, obj string, "
        "conf double")
    cmap = spark.createDataFrame([("s:ada lovelace", "e:1")],
                                 "node_id string, canon_id string")
    rows = {(r.src, r.pred, r.dst): r for r in
            build_kg_edges_with_provenance(triples, cmap).collect()}
    works = rows[("e:1", "works_for", "s:acme")]
    assert (works.n_support, works.n_docs) == (3, 2)
    assert works.first_url == "https://d.test/1"
    assert works.last_url == "https://d.test/2"
    born = rows[("e:1", "born_in", "s:london")]
    assert (born.n_support, born.n_docs) == (1, 1)
    # provenance agrees with the flagship edge build on (edge, support)
    flag = {(r.src, r.pred, r.dst): r.n_support
            for r in build_kg_edges(triples, cmap).collect()}
    assert {k: v.n_support for k, v in rows.items()} == flag


def test_edge_time_windows(spark):
    """Round 5 (J61): build_kg_edges_with_time_windows aggregates the
    min/max supporting-page timestamp per canonical edge; support
    counts agree with the flagship edge build, also for a triple whose
    page has no timestamp."""
    import datetime

    from mdscraper_spark.operators.kg import (
        build_kg_edges, build_kg_edges_with_time_windows)

    t0 = datetime.datetime(2025, 6, 14, 0, 0, 0)

    def ts(i):
        return t0 + datetime.timedelta(hours=i)

    triples = spark.createDataFrame(
        [("https://d.test/2", 0, "Ada Lovelace", "works_for", "Acme", 0.9,
          ts(2)),
         ("https://d.test/1", 0, "Ada Lovelace", "works_for", "Acme", 0.9,
          ts(1)),
         ("https://d.test/4", 0, "Ada Lovelace", "works_for", "Acme", 0.9,
          None),
         ("https://d.test/3", 0, "Ada Lovelace", "born_in", "London", 0.8,
          ts(3))],
        "url string, sent_id int, subj string, pred string, obj string, "
        "conf double, warc_ts timestamp")
    cmap = spark.createDataFrame([("s:ada lovelace", "e:1")],
                                 "node_id string, canon_id string")
    rows = {(r.src, r.pred, r.dst): r for r in
            build_kg_edges_with_time_windows(triples, cmap).collect()}
    works = rows[("e:1", "works_for", "s:acme")]
    # the null-timestamp triple (doc 4) still supports the edge; the
    # window spans the timestamped supporting pages only (doc 3
    # supports born_in)
    assert works.n_support == 3
    assert works.first_seen == ts(1)
    assert works.last_seen == ts(2)
    born = rows[("e:1", "born_in", "s:london")]
    assert born.first_seen == born.last_seen == ts(3)
    flag = {(r.src, r.pred, r.dst): r.n_support
            for r in build_kg_edges(triples, cmap).collect()}
    assert {k: v.n_support for k, v in rows.items()} == flag


def test_cc_on_round_telemetry_chain(spark):
    """Distributed CC must report an exact changed-label count per
    round: on a length-7 path graph, counts strictly shrink to 0 and
    the final round is the converged one."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(7)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    rounds = []
    cmap = kg_ops.connected_components(
        edges, local_solve_threshold=0,
        on_round=lambda i, ch, nn: rounds.append((i, ch, nn)))
    assert {r["canon_id"] for r in cmap.collect()} == {"n0"}
    assert [r[0] for r in rounds] == list(range(len(rounds)))
    assert rounds[-1][1] == 0          # converged round reports 0
    assert all(ch > 0 for _i, ch, _n in rounds[:-1])
    assert all(nn == 8 for _i, _ch, nn in rounds)  # all nodes, every round
    # min-label over a path halves the frontier per doubling round:
    # strictly more informative than a bare converged/not bit
    changed = [ch for _i, ch, _n in rounds]
    assert changed == sorted(changed, reverse=True)


def test_cc_local_path_never_calls_on_round(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    calls = []
    kg_ops.connected_components(edges,
                                on_round=lambda *a: calls.append(a))
    assert calls == []


def test_pmi_cooccurrence_hand_graph(spark):
    """3 sentences: (A,B) together twice, (A,C) once, D unlinked.
    N=3 linked sentences; pmi(A,B)=ln(2*3/(3*2)), pmi(A,C)=ln(1*3/(3*1))
    = 0; the unlinked surface never reaches the pair table and a canon
    repeated within one sentence counts once."""
    import math

    from mdscraper_spark.operators.kg import pmi_cooccurrence

    mentions = spark.createDataFrame(
        [("u1", 0, 0, 1, "Alpha", "ORG"), ("u1", 0, 5, 6, "Beta", "ORG"),
         ("u1", 0, 9, 10, "alpha", "ORG"),          # same canon, same sent
         ("u1", 1, 0, 1, "Alpha", "ORG"), ("u1", 1, 5, 6, "Beta", "ORG"),
         ("u2", 0, 0, 1, "Alpha", "ORG"), ("u2", 0, 5, 6, "Gamma", "ORG"),
         ("u2", 0, 9, 10, "Unlinked", "ORG")],
        "url string, sent_id int, span_start int, span_end int, "
        "surface string, mtype string")
    cmap = spark.createDataFrame(
        [("s:alpha", "cA"), ("s:beta", "cB"), ("s:gamma", "cC"),
         ("e:1", "cA")],
        "node_id string, canon_id string")
    got = {(r.canon_a, r.canon_b): (r.n_pair, r.pmi)
           for r in pmi_cooccurrence(mentions, cmap).collect()}
    assert got == {
        ("cA", "cB"): (2, round(math.log(2 * 3 / (3 * 2)), 6)),
        ("cA", "cC"): (1, round(math.log(1 * 3 / (3 * 1)), 6)),
    }


def _pipeline_tables(spark, docs, aliases, gaz_entries):
    """The join-form reference: mine without links, then link_entities."""
    mentions, triples = kg_ops.split_mined(
        kg_ops.mine_kg_combined(docs, gaz_entries))
    links = kg_ops.link_entities(mentions, aliases)
    cmap = kg_ops.connected_components(kg_ops.coreference_edges(links))
    return {"entity_links": links, "canonical_map": cmap,
            "kg_nodes": kg_ops.build_kg_nodes(cmap, mentions, aliases),
            "kg_edges": kg_ops.build_kg_edges(triples, cmap)}


def _rows(df):
    cols = [c for c in df.columns if c != "part_id"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _assert_job_equals_pipeline(job_tables, want):
    for name, df in want.items():
        assert _rows(job_tables[name]) == _rows(df), name
    assert _rows(job_tables["entity_links"]), "no links scored"


def test_job_links_in_mining_pass_equal_join_pipeline(spark_kg, spark,
                                                      tmp_path):
    """The job scores links inside the mining pass; its entity_links,
    canonical_map, kg_nodes and kg_edges equal the mine + link_entities
    join pipeline over the fixture dictionary."""
    from mdscraper_spark.jobs.kg_build import KgBuildJob

    tables = KgBuildJob(spark, str(tmp_path / "wh"), CFG).run(
        bulk_pages_df(spark, N_PAGES))
    _assert_job_equals_pipeline(tables, {
        "entity_links": spark_kg["links"], "canonical_map": spark_kg["cmap"],
        "kg_nodes": spark_kg["nodes"], "kg_edges": spark_kg["edges"]})


def _custom_pages(spark, sentences):
    import datetime

    html = ("<div class='content'>"
            + "".join(f"<p>{s}</p>" for s in sentences) + "</div>")
    return spark.createDataFrame(
        [(f"https://c{i}.test/p{i}", datetime.datetime(2025, 6, 14),
          html.encode(), None, "en") for i in range(4)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


_ALIAS_DDL = ("alias string, entity_id long, canonical string, "
              "etype string, prior double")


def test_job_links_equal_join_pipeline_custom_dictionary(spark, tmp_path):
    """Edge cases of the mining-pass link rule against link_entities:
    one alias shared by two entities at equal prior (tie -> lowest
    entity_id), upper/lower-case variants of one alias (exact match
    beats the discounted case-folded one, and vice versa by prior), a
    null etype (first in Spark's sort, so it wins the mtype), and a
    null prior (scores null, loses to any scored candidate)."""
    from mdscraper_spark.jobs.kg_build import KgBuildJob

    rows = [("Zorblax Corp", 907, "Zorblax Corporation", "ORG", 0.9),
            ("Zorblax Corp", 903, "Zorblax Holdings", "ORG", 0.9),
            ("ZORBLAX CORP", 905, "Zorblax Shouting", "ORG", 0.5),
            ("Quuxana Vel", 901, "Quuxana Vel", "PERSON", 0.4),
            ("quuxana vel", 902, "Quuxana V.", "PERSON", 1.0),
            ("Plimbo", 910, "Plimbo Inc", "ORG", 1.0),
            ("Plimbo", 911, "Plimbo Ltd", None, 1.0),
            ("Grelt", 920, "Grelt Unscored", "ORG", None),
            ("grelt", 921, "Grelt Scored", "ORG", 0.2),
            ("Vosk", 930, "Vosk Null", "ORG", None),
            ("Vosk", 931, "Vosk Null Too", "ORG", None)]
    aliases = spark.createDataFrame(rows, _ALIAS_DDL)
    pages = _custom_pages(spark, [
        "Quuxana Vel works for Zorblax Corp.",
        "quuxana vel works for ZORBLAX CORP.",
        "Plimbo acquired Grelt.", "Vosk founded grelt."])
    job = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=4,
                     aliases=aliases)
    tables = job.run(pages)

    gaz_entries = tuple(sorted(
        ((a, t) for a, _e, _c, t, _p in rows),
        key=lambda e: (e[0], e[1] is not None, e[1] or "")))
    assert job._gazetteer_entries() == gaz_entries
    _assert_job_equals_pipeline(tables, _pipeline_tables(
        spark, tables["markdown_docs"], aliases, gaz_entries))

    best = {(r.surface, r.entity_id, r.score)
            for r in tables["entity_links"].collect()}
    assert best == {("Zorblax Corp", 903, 0.9), ("ZORBLAX CORP", 903,
                                                 0.9 * 0.7),
                    ("Quuxana Vel", 902, 0.7), ("quuxana vel", 902, 1.0),
                    ("Plimbo", 910, 1.0), ("Grelt", 921, 0.2 * 0.7),
                    ("grelt", 921, 0.2), ("Vosk", 930, None)}
    assert {r.mtype for r in tables["mentions"]
            .filter("surface = 'Plimbo'").collect()} == {None}


def test_job_links_follow_casefold_rule_of_oracle(spark, tmp_path):
    """The job normalizes surfaces with rules.norm_surface (casefold),
    as run_oracle does, in its links AND its canonical ids; the Spark
    key of link_entities and coreference_edges is lower().
    'Straße' and 'STRASSE' casefold together but do not lower together,
    so the two forms disagree here — the job follows the oracle in
    every table, including the edges of triples whose subject is one
    of the two spellings."""
    from mdscraper_spark.jobs.kg_build import KgBuildJob

    rows = [("Straße", 1, "Strasse AG", "ORG", 1.0),
            ("STRASSE", 2, "STRASSE GmbH", "ORG", 0.5),
            ("Quuxana Vel", 3, "Quuxana Vel", "PERSON", 1.0)]
    sentences = ["Quuxana Vel works for STRASSE.",
                 "Quuxana Vel works for Straße.",
                 "Straße acquired Quuxana Vel.",
                 "STRASSE is based in Berlin."]
    pages = _custom_pages(spark, sentences)
    tables = KgBuildJob(spark, str(tmp_path / "wh"), CFG, n_buckets=4,
                        aliases=spark.createDataFrame(rows, _ALIAS_DDL)
                        ).run(pages)
    got = sorted((r.url, r.mention_key, r.entity_id, r.score)
                 for r in tables["entity_links"].collect())
    oracle = run_oracle([(r.url, r.html.decode()) for r in pages.collect()],
                        rows, CFG)
    assert got == oracle["entity_links"]
    assert {(r[2], r[3]) for r in got} == {(1, 1.0), (1, 0.7), (3, 1.0)}
    for name in ("canonical_map", "kg_nodes", "kg_edges"):
        assert _rows(tables[name]) == sorted(oracle[name]), name
    assert ("s:strasse", "e:1") in oracle["canonical_map"]
    assert ("e:1", "acquired", "e:3") in {e[:3] for e in oracle["kg_edges"]}
    assert ("e:1", "based_in", "s:berlin") in {
        e[:3] for e in oracle["kg_edges"]}
    joined = kg_ops.link_entities(tables["mentions"].drop("part_id"),
                                  spark.createDataFrame(rows, _ALIAS_DDL))
    assert {r.entity_id for r in joined.filter("surface = 'STRASSE'")
            .collect()} == {2}
