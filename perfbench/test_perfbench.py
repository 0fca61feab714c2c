"""Spark-free tests of the benchmark's own parts.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_generators_are_deterministic_per_seed(workload, tmp_path):
    a, b = gen.WORKLOADS[workload](7), gen.WORKLOADS[workload](7)
    assert a.rows == b.rows and a.planted == b.planted
    assert a.alias_rows == b.alias_rows
    other = gen.WORKLOADS[workload](8)
    assert [r[2] for r in other.rows] != [r[2] for r in a.rows]

    gen.write_pages(a, str(tmp_path / "a"))
    gen.write_pages(b, str(tmp_path / "b"))
    files = sorted(os.listdir(tmp_path / "a"))
    assert len(files) == a.n_files
    for name in files:
        assert (pq.read_table(tmp_path / "a" / name)
                .equals(pq.read_table(tmp_path / "b" / name)))


def test_crawl_sizes_span_the_target_range():
    sizes = gen.crawl_large(3).html_sizes()
    assert 10 * gen.KIB <= min(sizes) and max(sizes) <= 230 * gen.KIB
    assert 40 * gen.KIB < sum(sizes) / len(sizes) < 90 * gen.KIB


def test_alias_dictionary_shape():
    rows = gen.alias_dictionary(5)
    assert len(rows) == 50_000
    etypes = {}
    for alias, _eid, _canon, etype, _prior in rows:
        etypes.setdefault(alias, set()).add(etype)
    # hub aliases repeat across entities, but each keeps one mention type,
    # so the job's (alias, etype)-ordered gazetteer agrees with the oracle's
    assert all(len(t) == 1 for t in etypes.values())
    # prefix-sharing names: "... 12" next to "... 123"
    assert sum(a + d in etypes for a in etypes for d in "0123456789") > 1000
    assert any(a.isupper() for a in etypes)


def _observed_from_reference(corpus):
    """What a correct pass would return, built from the references."""
    urls = [r[0] for r in corpus.rows]
    expected = check.reference(corpus, urls)
    observed = {
        "status": {"ok": corpus.n_pages},
        "markdown": dict(expected["markdown"]),
        "mentions": list(expected["mentions"]),
        "triples_sample": list(expected["triples"]),
        "triples_all": [(u, s, p, o) for u, _sid, s, p, o, _c
                        in expected["triples"]],
    }
    return observed, expected


@pytest.fixture(scope="module")
def small_corpus():
    return gen.crawl_large(11, n_pages=3)


def test_check_accepts_correct_output(small_corpus):
    observed, expected = _observed_from_reference(small_corpus)
    assert check.problems(observed, small_corpus, expected) == []


@pytest.mark.parametrize("corruption", [
    "markdown", "mention", "triple", "status", "missing_triples"])
def test_check_rejects_a_corrupted_row(small_corpus, corruption):
    observed, expected = _observed_from_reference(small_corpus)
    if corruption == "markdown":
        url = next(iter(observed["markdown"]))
        observed["markdown"][url] = observed["markdown"][url][:-1] + "X"
    elif corruption == "mention":
        row = observed["mentions"][0]
        observed["mentions"][0] = row[:4] + (row[4] + "x",) + row[5:]
    elif corruption == "triple":
        row = observed["triples_sample"][0]
        observed["triples_sample"][0] = row[:3] + ("acquired_by",) + row[4:]
    elif corruption == "status":
        observed["status"] = {"ok": small_corpus.n_pages - 1, "error": 1}
    else:
        observed["triples_all"] = observed["triples_all"][::2]
    assert check.problems(observed, small_corpus, expected)


def test_planted_pr_counts_multisets():
    planted = {"u": [("A", "p", "B"), ("A", "p", "B")]}
    assert check.planted_pr(planted, [("u", "A", "p", "B")]) == (1.0, 0.5)
    assert check.planted_pr(planted, []) == (0.0, 0.0)


def test_host_readings():
    assert host.process_age_s() > 0
    assert host.tree_cpu_s() > 0
    busy, steal, total = host.cpu_jiffies()
    assert total >= busy >= 0 and steal >= 0
    assert host.speed_probe_ms() > 0


class _FakeSparkContext:
    """Enough of SparkContext for Tracer: job groups and an empty tracker."""

    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return []


def test_span_self_time_excludes_children():
    import time

    import spans

    tracer = spans.Tracer(type("S", (), {"sparkContext": _FakeSparkContext()}),
                          "t")
    with tracer.span("root"):
        time.sleep(0.02)
        with tracer.span("child"):
            time.sleep(0.05)
    root, child = tracer.by_name("root"), tracer.by_name("child")
    assert child["parent"] == root["id"] and child["jobs"] == 0
    assert tracer.self_s(child) == child["end"] - child["start"]
    expected = (root["end"] - root["start"]) - (child["end"] - child["start"])
    assert abs(tracer.self_s(root) - expected) < 1e-9
