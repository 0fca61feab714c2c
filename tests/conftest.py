import os

import pytest

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from mdscraper_spark.session import get_spark

    session = get_spark(
        app_name="mdscraper-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB"},
    )
    yield session
    session.stop()


@pytest.fixture()
def matcher_builds(monkeypatch):
    """Every rules.best_links call and rules.Gazetteer build in this
    (driver) process, in order, starting from no fixture matcher; the
    fixture matcher built during the test is closed after it."""
    from mdscraper_spark.kg import rules
    from mdscraper_spark.operators import kg as kg_ops

    builds = []
    best_links, init = rules.best_links, rules.Gazetteer.__init__

    def counted_best_links(rows):
        builds.append("best_links")
        return best_links(rows)

    def counted_init(self, *args):
        builds.append("Gazetteer")
        init(self, *args)

    monkeypatch.setattr(kg_ops, "_FIXTURE_MATCHERS", {})
    monkeypatch.setattr(rules, "best_links", counted_best_links)
    monkeypatch.setattr(rules.Gazetteer, "__init__", counted_init)
    yield builds
    for matcher in kg_ops._FIXTURE_MATCHERS.values():
        matcher.close()
