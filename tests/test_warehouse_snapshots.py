"""Warehouse snapshot semantics: time travel, dynamic partition
overwrite isolation, compaction, and snapshot expiration."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mdscraper_spark.sources.tables import Warehouse


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(part_id=p, k=k, v=v) for p, k, v in rows])


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def grab(df):
    return sorted(tuple(r) for r in df.collect())


def test_time_travel_full_overwrite(spark, wh):
    s1 = wh.write_table(_df(spark, [(0, "a", 1), (1, "b", 2)]), "t")
    s2 = wh.write_table(_df(spark, [(0, "c", 3)]), "t")
    assert grab(wh.read_table("t")) == [(0, "c", 3)]
    assert grab(wh.read_table("t", snapshot_id=s1)) == [(0, "a", 1), (1, "b", 2)]
    assert grab(wh.read_table("t", snapshot_id=s2)) == [(0, "c", 3)]


def test_dynamic_partition_overwrite_and_travel(spark, wh):
    s1 = wh.write_table(_df(spark, [(0, "a", 1), (1, "b", 2), (2, "c", 3)]),
                        "t", partition_by=("part_id",))
    # overwrite ONLY bucket 1; buckets 0 and 2 stay owned by s1
    s2 = wh.write_table(_df(spark, [(1, "B", 20)]), "t",
                        partition_by=("part_id",))
    assert grab(wh.read_table("t")) == [(0, "a", 1), (1, "B", 20), (2, "c", 3)]
    assert grab(wh.read_table("t", snapshot_id=s1)) == \
        [(0, "a", 1), (1, "b", 2), (2, "c", 3)]
    m = wh.manifest("t")
    assert m["partitions"]["part_id=1"] == [s2]
    assert m["partitions"]["part_id=0"] == [s1]


def test_append_mode_accumulates(spark, wh):
    wh.write_table(_df(spark, [(0, "a", 1)]), "t",
                   partition_by=("part_id",))
    s2 = wh.write_table(_df(spark, [(0, "b", 2)]), "t",
                        partition_by=("part_id",), mode="append")
    assert grab(wh.read_table("t")) == [(0, "a", 1), (0, "b", 2)]
    assert grab(wh.read_table("t", snapshot_id=s2)) == \
        [(0, "a", 1), (0, "b", 2)]


def test_compaction_reduces_files_preserves_rows_and_history(spark, wh):
    rows = [(i % 3, f"k{i}", i) for i in range(60)]
    # many small incremental writes -> many files
    for i in range(0, 60, 12):
        wh.write_table(_df(spark, rows[i:i + 12]).repartition(4), "t",
                       partition_by=("part_id",), mode="append")
    before = grab(wh.read_table("t"))
    pre_sid = wh.manifest("t")["snapshot_id"]
    stats = wh.compact("t")
    assert stats["files_after"] < stats["files_before"]
    assert grab(wh.read_table("t")) == before
    # pre-compaction snapshot still time-travelable
    assert grab(wh.read_table("t", snapshot_id=pre_sid)) == before


def test_expire_snapshots_drops_history_keeps_current(spark, wh):
    s1 = wh.write_table(_df(spark, [(0, "a", 1)]), "t")
    s2 = wh.write_table(_df(spark, [(0, "b", 2)]), "t")
    s3 = wh.write_table(_df(spark, [(0, "c", 3)]), "t")
    assert len(wh.snapshots("t")) == 3
    out = wh.expire_snapshots("t", keep_last=1)
    assert out["expired"] == 2 and out["data_dirs_deleted"] == 2
    assert grab(wh.read_table("t")) == [(0, "c", 3)]
    assert [m["snapshot_id"] for m in wh.snapshots("t")] == [s3]
    with pytest.raises(ValueError):
        wh.read_table("t", snapshot_id=s1)


def test_empty_table_still_readable(spark, wh):
    empty = _df(spark, [(0, "a", 1)]).filter(F.col("v") > 99)
    wh.write_table(empty, "t", partition_by=("part_id",))
    got = wh.read_table("t")
    assert got.count() == 0
    assert set(got.columns) == {"part_id", "k", "v"}


def test_compact_refuses_then_carries_lost_partition_dirs(spark, wh):
    """A physically lost partition dir must not be silently finalized
    out of the manifest by compaction (the resume path treats lost
    buckets as recoverable)."""
    import shutil

    s1 = wh.write_table(_df(spark, [(0, "a", 1), (1, "b", 2), (2, "c", 3)]),
                        "t", partition_by=("part_id",))
    m = wh.manifest("t")
    lost_key = sorted(m["partitions"])[1]
    shutil.rmtree(wh._snap_data_dir("t", s1) / lost_key)

    with pytest.raises(ValueError, match="physically missing"):
        wh.compact("t")

    stats = wh.compact("t", on_missing="carry")
    assert stats["missing_partitions"] == [lost_key]
    m2 = wh.manifest("t")
    # lost key's old ownership carried forward, survivors compacted
    assert s1 in m2["partitions"][lost_key]
    assert grab(wh.read_table("t")) == [(0, "a", 1), (2, "c", 3)]


def test_compact_carry_does_not_duplicate_surviving_sids(spark, wh):
    """Carry must re-attach ONLY the (key, sid) entries whose dirs are
    physically missing — re-attaching a surviving sid whose rows were
    already folded into the compacted snapshot would double-read them."""
    import shutil

    s1 = wh.write_table(_df(spark, [(0, "a", 1), (1, "b", 2)]), "t",
                        partition_by=("part_id",), mode="append")
    s2 = wh.write_table(_df(spark, [(1, "c", 3)]), "t",
                        partition_by=("part_id",), mode="append")
    key1 = [k for k in wh.manifest("t")["partitions"] if "1" in k][0]
    # lose s1's copy of partition 1; s2's copy survives
    shutil.rmtree(wh._snap_data_dir("t", s1) / key1)

    before = grab(wh.read_table("t"))          # (1,"b",2) already gone
    stats = wh.compact("t", on_missing="carry")
    assert stats["missing_partitions"] == [key1]
    m2 = wh.manifest("t")
    assert s1 in m2["partitions"][key1]        # lost entry carried
    assert s2 not in m2["partitions"][key1]    # surviving sid NOT re-attached
    assert grab(wh.read_table("t")) == before  # and no duplicated rows


def test_merge_table_upsert_partition_scoped(spark, wh):
    """MERGE: matched keys replaced, new keys inserted, unmatched rows
    kept; partitioned merges rewrite ONLY the touched partitions and
    history stays time-travelable."""
    s1 = wh.write_table(_df(spark, [(0, "a", 1), (0, "b", 2), (1, "c", 3),
                                    (2, "d", 4)]),
                        "t", partition_by=("part_id",))
    # upsert: update (0,"a"), insert (0,"e") — touches ONLY partition 0
    src = _df(spark, [(0, "a", 10), (0, "e", 5)])
    s2 = wh.merge_table(src, "t", key_cols=("part_id", "k"),
                        partition_by=("part_id",))
    assert grab(wh.read_table("t")) == [
        (0, "a", 10), (0, "b", 2), (0, "e", 5), (1, "c", 3), (2, "d", 4)]
    # untouched partitions still owned by the pre-merge snapshot
    m = wh.manifest("t")
    owners = {k: v for k, v in m["partitions"].items()}
    p0 = [k for k in owners if k.endswith("=0")][0]
    p1 = [k for k in owners if k.endswith("=1")][0]
    assert owners[p0] == [s2] and owners[p1] == [s1]
    # pre-merge state reproducible
    assert grab(wh.read_table("t", snapshot_id=s1)) == [
        (0, "a", 1), (0, "b", 2), (1, "c", 3), (2, "d", 4)]


def test_merge_table_creates_when_missing(spark, wh):
    wh.merge_table(_df(spark, [(0, "a", 1)]), "fresh", key_cols=("k",))
    assert grab(wh.read_table("fresh")) == [(0, "a", 1)]


def test_changes_classifies_insert_update_delete(spark, wh):
    s1 = wh.write_table(_df(spark, [(0, "a", 1), (0, "b", 2), (1, "c", 3)]),
                        "t")
    s2 = wh.write_table(_df(spark, [(0, "a", 99), (1, "c", 3), (2, "e", 5)]),
                        "t")
    rows = {(r.k, r.v, r._change_type)
            for r in wh.changes("t", s1, s2, key_cols=("k",)).collect()}
    assert rows == {("a", 99, "update_postimage"),
                    ("e", 5, "insert"),
                    ("b", 2, "delete")}


def test_schema_evolution_add_column(spark, wh):
    """Iceberg-style add-column evolution: the manifest schema is
    authoritative, so pre-evolution files surface the new column as
    null and time travel reads each snapshot under its own schema."""
    from pyspark.sql import Row

    s1 = wh.write_table(_df(spark, [(0, "a", 1)]), "t", mode="append")
    evolved = spark.createDataFrame([Row(part_id=0, k="b", v=2, tag="new")])
    s2 = wh.write_table(evolved, "t", mode="append")
    rows = {tuple(r) for r in wh.read_table("t").collect()}
    assert rows == {(0, "a", 1, None), (0, "b", 2, "new")}
    # old snapshot still reads under its own (3-column) schema
    assert grab(wh.read_table("t", snapshot_id=s1)) == [(0, "a", 1)]
    assert [f.name for f in
            wh.read_table("t", snapshot_id=s1).schema.fields] == \
        ["part_id", "k", "v"]


def test_merge_cross_partition_key_move_not_duplicated(spark, wh):
    """When key_cols do NOT determine the partition, a key that moved
    partitions must be replaced, not duplicated (full-rewrite
    fallback), and its emptied old partition must not linger."""
    wh.write_table(_df(spark, [(0, "a", 1), (1, "c", 3)]), "t",
                   partition_by=("part_id",))
    # key 'a' moves from partition 0 to partition 1
    wh.merge_table(_df(spark, [(1, "a", 9)]), "t", key_cols=("k",),
                   partition_by=("part_id",))
    assert grab(wh.read_table("t")) == [(1, "a", 9), (1, "c", 3)]


def test_changes_emits_delete_for_vanished_duplicate(spark, wh):
    s1 = wh.write_table(_df(spark, [(0, "a", 5), (0, "a", 5), (0, "b", 1)]),
                        "t")
    s2 = wh.write_table(_df(spark, [(0, "a", 5), (0, "b", 1)]), "t")
    rows = [(r.k, r.v, r._change_type)
            for r in wh.changes("t", s1, s2, key_cols=("k",)).collect()]
    assert rows == [("a", 5, "delete")]


def test_changes_across_schema_evolution(spark, wh):
    from pyspark.sql import Row

    s1 = wh.write_table(_df(spark, [(0, "a", 1)]), "t", mode="append")
    s2 = wh.write_table(
        spark.createDataFrame([Row(part_id=0, k="b", v=2, tag="new")]),
        "t", mode="append")
    rows = {(r.k, r.v, r.tag, r._change_type) for r in
            wh.changes("t", s1, s2, key_cols=("k",)).collect()}
    assert rows == {("b", 2, "new", "insert")}


def test_manifest_record_counts_per_written_partition(spark, wh):
    """Each snapshot manifest carries the rows it wrote per partition
    key, read from the new files' parquet footers: only the
    partitions a dynamic overwrite or append wrote, {} for an empty
    partitioned write, and the whole table again after compaction."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    wh.write_table(_df(spark, [(0, "a", 1), (1, "b", 2), (1, "c", 3),
                               (2, "d", 4)]), "t", partition_by=("part_id",))
    assert wh.manifest("t")["record_counts"] == {
        "part_id=0": 1, "part_id=1": 2, "part_id=2": 1}
    # dynamic overwrite: only the partitions this write produced
    wh.write_table(_df(spark, [(1, "B", 5), (1, "C", 6), (1, "D", 7)]), "t",
                   partition_by=("part_id",))
    assert wh.manifest("t")["record_counts"] == {"part_id=1": 3}
    # append: this snapshot's rows, not the partition total
    wh.write_table(_df(spark, [(0, "e", 8), (3, "f", 9)]), "t",
                   partition_by=("part_id",), mode="append")
    assert wh.manifest("t")["record_counts"] == {"part_id=0": 1,
                                                 "part_id=3": 1}
    # compaction rewrites every partition: counts equal a re-count
    for _ in range(2):
        wh.compact("t")
        want = {f"part_id={r.part_id}": r.n for r in wh.read_table("t")
                .groupBy("part_id").agg(F.count("*").alias("n")).collect()}
        assert wh.manifest("t")["record_counts"] == want == {
            "part_id=0": 2, "part_id=1": 3, "part_id=2": 1, "part_id=3": 1}

    # unpartitioned: one "" key, also through compaction
    wh.write_table(_df(spark, [(0, "a", 1), (5, "b", 2)]), "u")
    assert wh.manifest("u")["record_counts"] == {"": 2}
    wh.write_table(_df(spark, [(0, "c", 3)]), "u", mode="append")
    assert wh.manifest("u")["record_counts"] == {"": 1}
    wh.compact("u")
    assert wh.manifest("u")["record_counts"] == {"": 3}

    # empty partitioned write: no files, no counts
    schema = StructType([StructField("part_id", LongType()),
                         StructField("k", StringType())])
    wh.write_table(spark.createDataFrame([], schema), "e",
                   partition_by=("part_id",))
    assert wh.manifest("e")["record_counts"] == {}


_ROWS_SCHEMA = "k string not null, v long, tag string"


def _comparable(m):
    """A manifest without its ids and commit time."""
    sid = m["snapshot_id"]
    out = {k: v for k, v in m.items()
           if k not in ("table", "snapshot_id", "parent_snapshot",
                        "committed_at")}
    out["partitions"] = {k: ["<self>" if s == sid else s for s in v]
                         for k, v in m["partitions"].items()}
    return out


@pytest.mark.parametrize("rows", [[("a", 1, "x"), ("b", None, None)], []],
                         ids=["rows", "empty"])
def test_write_rows_manifest_equals_write_table(spark, wh, rows):
    """The pyarrow path commits the manifest Spark's write commits for
    the same rows: schema, partitions and record_counts ({"": 0} for no
    rows: one empty file either way)."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(_ROWS_SCHEMA)
    wh.write_table(spark.createDataFrame(rows, schema), "spark_t")
    wh.write_rows(rows, schema, "arrow_t")
    assert _comparable(wh.manifest("arrow_t")) == \
        _comparable(wh.manifest("spark_t"))
    assert wh.manifest("arrow_t")["record_counts"] == {"": len(rows)}
    assert grab(wh.read_table("arrow_t")) == grab(wh.read_table("spark_t"))
    assert wh.read_table("arrow_t").schema == wh.read_table("spark_t").schema


def test_write_rows_time_travel_and_maintenance(spark, wh):
    """Snapshots written from driver rows time-travel, compact and
    expire like Spark-written ones."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(_ROWS_SCHEMA)
    s1 = wh.write_rows([("a", 1, "x"), ("b", 2, None)], schema, "t")
    s2 = wh.write_rows([("c", 3, "y")], schema, "t")
    assert wh.manifest("t")["parent_snapshot"] == s1
    assert grab(wh.read_table("t")) == [("c", 3, "y")]
    assert grab(wh.read_table("t", snapshot_id=s1)) == \
        [("a", 1, "x"), ("b", 2, None)]
    assert grab(wh.read_table("t", snapshot_id=s2)) == [("c", 3, "y")]

    stats = wh.compact("t")
    assert stats["files_before"] == stats["files_after"] == 1
    assert grab(wh.read_table("t")) == [("c", 3, "y")]
    assert wh.manifest("t")["record_counts"] == {"": 1}
    assert grab(wh.read_table("t", snapshot_id=s1)) == \
        [("a", 1, "x"), ("b", 2, None)]

    out = wh.expire_snapshots("t", keep_last=1)
    assert out == {"kept": 1, "expired": 2, "data_dirs_deleted": 2}
    assert grab(wh.read_table("t")) == [("c", 3, "y")]
    with pytest.raises(ValueError, match="not found"):
        wh.read_table("t", snapshot_id=s2)
