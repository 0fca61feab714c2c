"""In-suite DuckDB-oracle checks for the driver-contract queries.

A representative subset runs at sf0.001 inside pytest so `python -m
pytest` alone guards the contract; the full registry is verified by
tools/check_oracle.py (run at sf0.001 and sf0.01 before each commit
touching queries.py).
"""

import duckdb
import pytest

from mdscraper_spark.queries import REGISTRY
from tools.check_oracle import TABLES, frame_digest

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "q1_pricing_summary",
    "q3_top_orders",
    "largest_order_argmax",
    "rollup_lang_source",
    "event_sessions",
    "asof_prior_click",
    "cube_event_stats",
    "events_json_extract",
    "doc_token_stats",
    "doc_lang_guess",
    "doc_quality_score",
    "dedup_exact",
    "minhash_signatures",
    "simhash16",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "lsh_topk",
    "dedup_embedding_pairs",
    "ivf_topk",
    "md_title_probe",
    "relative_url_strip",
    "extract_markdown_docs",
    "multimodal_decode",
    "multimodal_frame_sample",
    "multimodal_feature_ann",
    "kg_flagship",
    "doc_repetition_stats",
    "doc_split_assignment",
    "benchmark_contamination",
    "greedy_token_packing",
    "curation_funnel",
    "gopher_rules_filter",
    "ccnet_quality_buckets",
    "winnowing_fingerprints",
    "winnowing_shared_pairs",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    fn, sql = REGISTRY[name]
    sdf = fn(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    res = duck.sql(sql)
    ocols = [d[0] for d in res.description]
    # Arrow fetch, like the driver harness and tools/check_oracle.py:
    # HUGEINT/DECIMAL must surface as Decimal, not be coerced to int.
    orows = [tuple(d[c] for c in ocols)
             for d in res.fetch_arrow_table().to_pylist()]
    assert len(srows) == len(orows)
    assert sorted(scols) == sorted(ocols)
    sd = frame_digest(scols, [[r[c] for c in scols] for r in srows])
    od = frame_digest(ocols, orows)
    assert sd == od, f"value mismatch for {name}"


def test_every_registry_entry_is_callable():
    assert len(REGISTRY) >= 25
    for name, (fn, sql) in REGISTRY.items():
        assert callable(fn)


def test_no_oracle_emits_hugeint_or_decimal(duck):
    """Registry-wide output-type lint (round-3 verdict item 1).

    The driver harness canonicalizes DuckDB HUGEINT / DECIMAL (Arrow
    decimal128) differently from Spark's bigint/double, so any oracle
    whose SQL binds to one of those types is a latent hash-fail even if
    the values are numerically identical (this is exactly how
    kg_degree_stats and dup_span_stats went driver-red in round 3: a
    bare integer SUM binds to HUGEINT).  `rel.types` needs only DuckDB
    binding, not execution, so this covers the whole registry cheaply.
    """
    bad = {}
    for name, (fn, sql) in REGISTRY.items():
        if sql is None:
            continue
        types = [str(t) for t in duck.sql(sql).types]
        offending = [t for t in types if "HUGEINT" in t or "DECIMAL" in t]
        if offending:
            bad[name] = offending
    assert not bad, f"oracles emitting non-canonical types: {bad}"


def test_engine_rows_inside_driver_window():
    """The driver's correctness harness hashes only the first 50
    entries of queries().  Round-3 rotation contract (verdict item 2,
    superseding the round-2 fixed list): the PINNED engine-defining
    rows always sit inside that window, every row with NO driver-green
    record yet fills the next slots (longest-unverified first), and
    the driver-facing order stays an exact permutation of the
    registry."""
    import json
    import pathlib

    from mdscraper_spark.queries import oracle_sql, queries
    from tools.rotate_driver_order import DRIVER_CAP, PINNED

    names = list(queries())
    assert set(names) == set(REGISTRY)
    window = set(names[:DRIVER_CAP])
    for must in PINNED:
        assert must in window, must
    # rotation invariant: a row the driver has never verified green
    # outranks every row that already has a green record on file
    hist = json.loads(pathlib.Path(
        "tools/driver_green_history.json").read_text())["history"]
    never = {n for n in names if hist.get(n, 0) == 0}
    if len(never) <= DRIVER_CAP - len(PINNED):
        assert never <= window, sorted(never - window)
    # ordering of oracle_sql() mirrors queries()
    assert [n for n in names if n in oracle_sql()] == list(oracle_sql())


def test_multimodal_decode_stub(spark):
    fn, _ = REGISTRY["multimodal_decode"]
    rows = fn(spark, SF_DIR).collect()
    assert len(rows) == 500
    assert all(r.status == "ok" for r in rows)
    assert all(r.n_bytes > 0 and len(r.content_hash) == 32 for r in rows)
    assert all(64 <= r.width < 1984 and 64 <= r.height < 1144 for r in rows)
    # determinism: same content -> same fake features
    by_id = {r.doc_id: (r.content_hash, r.width, r.height) for r in rows}
    rows2 = fn(spark, SF_DIR).collect()
    assert {r.doc_id: (r.content_hash, r.width, r.height)
            for r in rows2} == by_id


def test_multimodal_frame_sample_and_feature_ann(spark):
    fn, _ = REGISTRY["multimodal_frame_sample"]
    frames = fn(spark, SF_DIR).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 1->N expansion with deterministic per-doc frame counts and
    # contiguous frame numbering at the sampling interval
    assert len(frames) > len(by_doc)
    for doc_id, rows in list(by_doc.items())[:20]:
        nos = sorted(r["frame_no"] for r in rows)
        assert nos == list(range(len(rows)))
        assert all(r["ts_ms"] == r["frame_no"] * 1000 for r in rows)

    fn2, _ = REGISTRY["multimodal_feature_ann"]
    top = fn2(spark, SF_DIR).collect()
    assert 0 < len(top) <= 10
    sims = [r["sim"] for r in top]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_multimodal_stub_seam_guard(monkeypatch):
    """Item: a deployment where codec libs ARE importable must not
    silently run the deterministic fake — the stub functions raise at
    the documented swap point (operators/multimodal.py) until a real
    decoder is wired in."""
    from mdscraper_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "REAL_DECODERS_AVAILABLE", True)
    with pytest.raises(NotImplementedError):
        mm._decode_image_stub(b"payload")
    with pytest.raises(NotImplementedError):
        mm._require_stub()
    monkeypatch.setattr(mm, "REAL_DECODERS_AVAILABLE", False)
    meta = mm._decode_image_stub(b"payload")
    assert meta["status"] == "ok" and len(meta["content_hash"]) == 32


def test_second_kg_row_builds_no_matcher(spark, monkeypatch, matcher_builds):
    """The registry's KG rows share one matcher per application and
    dictionary: after the first KG row, kg_snapshot_diff's second
    build runs no ``best_links`` and builds no ``Gazetteer``."""
    from mdscraper_spark import queries

    monkeypatch.setattr(queries, "_KG_BUILD_CACHE", {})
    REGISTRY["kg_flagship"][0](spark, SF_DIR)
    assert matcher_builds == ["best_links", "Gazetteer"]
    REGISTRY["kg_snapshot_diff"][0](spark, SF_DIR)
    assert matcher_builds == ["best_links", "Gazetteer"]
    for kg in queries._KG_BUILD_CACHE.values():
        kg.close()
