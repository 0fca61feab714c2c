"""Warehouse table layer: Iceberg-semantics adapter over parquet.

Production target is an Iceberg catalog (BASELINE.json: Iceberg tables,
``bucket(N, url_host)`` partitioning).  This sandbox has no Iceberg
runtime jar (SURVEY.md §4.4), so the same surface is provided over
parquet plus a JSON snapshot chain carrying the Iceberg metadata we
rely on: snapshot id + parent, schema, partition spec, and a
partition -> owning-snapshot map.  The adapter is intentionally thin:
on a cluster with Iceberg jars, ``write_table``/``read_table`` become
``df.writeTo(...)``/``spark.read.table(...)`` with no caller changes.

Semantics provided (all tested):
* **Dynamic partition overwrite** — a partitioned overwrite replaces
  exactly the partitions present in the incoming DataFrame; untouched
  partitions stay owned by their previous snapshot.  This is what
  makes checkpoint/resume restarts idempotent (SURVEY.md §2.I8).
* **Snapshot isolation / time travel** — every write lands in its own
  ``data/snap-<id>/`` directory and never mutates earlier snapshots'
  files, so ``read_table(name, snapshot_id=...)`` reconstructs any
  retained snapshot exactly.
* **Compaction** — ``compact()`` bin-packs the current snapshot into
  ~target-sized files as a NEW snapshot (history stays readable); at
  100 TB this is the maintenance job that keeps scan split counts
  sane after many incremental partition overwrites.
* **Snapshot expiration** — ``expire_snapshots(keep_last=k)`` drops
  history and deletes data files no retained snapshot references
  (Iceberg's expire_snapshots + orphan-file cleanup in one step).
* **MERGE INTO (upsert)** — ``merge_table`` replaces matched keys,
  inserts new ones, keeps the rest; partitioned merges rewrite only
  the touched partitions (copy-on-write scoped by the dynamic
  partition overwrite).
* **Change data feed** — ``changes(from, to, keys)`` classifies the
  row-level delta between two retained snapshots as
  insert / update_postimage / delete (Iceberg CDC shape).
"""

from __future__ import annotations

import datetime
import json
import pathlib
import shutil
import uuid
from typing import Dict, List, Optional, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def write_parquet_rows(rows: Sequence[tuple], schema: StructType,
                       path: pathlib.Path) -> None:
    """One parquet file of driver-held rows, typed the way Spark types
    ``schema`` in Arrow (TimestampType as tz-aware UTC, which Spark
    reads back as TimestampType, not TimestampNTZ)."""
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    pq.write_table(pa.Table.from_pydict(dict(zip(arrow_schema.names,
                                                 columns)),
                                        schema=arrow_schema), path)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = pathlib.Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def table_path(self, name: str) -> pathlib.Path:
        return self.root / name

    def _manifest_path(self, name: str) -> pathlib.Path:
        return self.table_path(name) / "_manifest.json"

    def _snapshots_dir(self, name: str) -> pathlib.Path:
        return self.table_path(name) / "_snapshots"

    def _snap_data_dir(self, name: str, snapshot_id: str) -> pathlib.Path:
        return self.table_path(name) / "data" / f"snap-{snapshot_id}"

    def exists(self, name: str) -> bool:
        return self._manifest_path(name).exists()

    # -- io ---------------------------------------------------------------
    def write_table(self, df: DataFrame, name: str,
                    partition_by: Sequence[str] = (),
                    mode: str = "overwrite",
                    properties: Optional[dict] = None,
                    bucket_by: Optional[Sequence] = None) -> str:
        """Write + advance the snapshot chain; returns the snapshot id.

        ``mode='overwrite'`` with a partition spec replaces only the
        partitions present in ``df`` (dynamic overwrite); without one it
        replaces the whole table.  ``mode='append'`` adds files while
        keeping every previous file visible.  Earlier snapshots' data
        files are never touched — time travel stays exact until
        ``expire_snapshots``.

        The manifest's ``record_counts`` maps each partition key this
        write produced (``""`` when unpartitioned) to its row count:
        the rows of THIS snapshot only — an append or a dynamic
        overwrite lists just the partitions it wrote, an empty write
        lists none.  ``live_counts`` maps every live partition key of
        the table after this write to its row count, summed over the
        snapshots that own it, so the current manifest alone gives the
        table's size (:meth:`row_count`), also after older owners
        expire.

        ``properties`` (JSON-able dict) is committed INSIDE the new
        snapshot manifest — the Iceberg snapshot-properties analog that
        lets a writer make application metadata (e.g. a streaming
        batch id) atomic with the data commit.

        ``bucket_by=(n, col)`` writes the snapshot's files hash-bucketed
        on ``col`` (Spark bucketBy file layout — the Iceberg
        ``bucket(n, col)`` analog), so ``read_bucketed_parts`` can hand
        them back with a catalog bucket spec and joins on ``col`` pay
        NO Exchange on this side.  The spec is recorded in the manifest
        and inherited by later appends / compactions of the same table;
        passing a conflicting spec raises.  Mutually exclusive with
        ``partition_by`` (Iceberg would allow both; nothing here needs
        it and the write path stays simple).
        """
        if mode not in ("overwrite", "append"):
            # anything else would silently take the overwrite ownership
            # branch below — a typo like 'Append' must not replace the
            # table
            raise ValueError(f"write_table mode must be 'overwrite' or "
                             f"'append', got {mode!r}")
        parent_m = self.manifest(name)
        inherited = (parent_m or {}).get("bucket_by")
        if bucket_by is None and inherited:
            bucket_by = inherited
        if bucket_by is not None:
            bucket_by = [int(bucket_by[0]), str(bucket_by[1])]
            if inherited and bucket_by != list(inherited):
                raise ValueError(
                    f"table {name} is bucketed {inherited}; conflicting "
                    f"spec {bucket_by} would break co-partitioning")
            if partition_by:
                raise ValueError(
                    "bucket_by and partition_by are mutually exclusive")
        snapshot_id = uuid.uuid4().hex
        data_dir = self._snap_data_dir(name, snapshot_id)
        if bucket_by is not None:
            self._write_bucketed(df, data_dir, *bucket_by)
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(str(data_dir))

        return self._commit(name, snapshot_id, parent_m, df.schema,
                            partition_by, mode, properties, bucket_by)

    def write_rows(self, rows: Sequence[tuple], schema: StructType,
                   name: str) -> str:
        """Full overwrite of an unpartitioned table from driver-held
        rows, written as one parquet file with pyarrow — no Spark job.
        The manifest is the one ``write_table`` commits for the same
        rows (schema, ``partitions``, ``record_counts``; an empty write
        still leaves one empty file, so ``record_counts`` is
        ``{"": 0}`` as Spark's write gives).  Returns the snapshot id."""
        snapshot_id = uuid.uuid4().hex
        data_dir = self._snap_data_dir(name, snapshot_id)
        data_dir.mkdir(parents=True)
        write_parquet_rows(rows, schema,
                           data_dir / f"part-00000-{uuid.uuid4()}.parquet")
        return self._commit(name, snapshot_id, self.manifest(name), schema,
                            (), "overwrite", None, None)

    def _commit(self, name: str, snapshot_id: str,
                parent: Optional[dict], schema: StructType,
                partition_by: Sequence[str], mode: str,
                properties: Optional[dict],
                bucket_by: Optional[list]) -> str:
        """Advance the snapshot chain over the files a write just put
        in the snapshot's data dir."""
        data_dir = self._snap_data_dir(name, snapshot_id)
        # the partition keys this snapshot wrote (leaf dirs with data
        # files, relative to the snapshot dir) and their row counts,
        # read from the new files' parquet footers — the manifest's
        # per-file record_count, at no extra Spark job
        record_counts: Dict[str, int] = {}
        for f in sorted(data_dir.rglob("*.parquet")):
            key = (f.parent.relative_to(data_dir).as_posix()
                   if partition_by else "")
            record_counts[key] = (record_counts.get(key, 0)
                                  + pq.read_metadata(f).num_rows)
        written = sorted(record_counts)

        partitions: Dict[str, List[str]] = {}
        live_counts: Dict[str, int] = {}
        if parent is not None and (mode == "append" or
                                   (partition_by and mode == "overwrite")):
            partitions = {k: list(v) for k, v in
                          parent.get("partitions", {}).items()}
            live_counts = self._live_counts(name, parent)
        if mode == "append":
            for key in written:
                partitions.setdefault(key, []).append(snapshot_id)
                live_counts[key] = (live_counts.get(key, 0)
                                    + record_counts[key])
        else:
            for key in written:
                partitions[key] = [snapshot_id]
                live_counts[key] = record_counts[key]

        manifest = {
            "table": name,
            "snapshot_id": snapshot_id,
            "parent_snapshot": parent["snapshot_id"] if parent else None,
            "committed_at":
                datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "schema": json.loads(schema.json()),
            "partition_by": list(partition_by),
            "write_mode": mode,
            "partitions": partitions,
            "record_counts": record_counts,
            "live_counts": live_counts,
            "properties": dict(properties or {}),
            "bucket_by": list(bucket_by) if bucket_by is not None else None,
        }
        self._snapshots_dir(name).mkdir(parents=True, exist_ok=True)
        (self._snapshots_dir(name) / f"{snapshot_id}.json").write_text(
            json.dumps(manifest, indent=2))
        self._manifest_path(name).write_text(json.dumps(manifest, indent=2))
        return snapshot_id

    def _live_counts(self, name: str, m: dict) -> Dict[str, int]:
        """``m``'s ``live_counts``; a manifest committed before that
        field existed gets them from its owners' ``record_counts``."""
        if "live_counts" in m:
            return dict(m["live_counts"])
        return {key: sum(self.manifest(name, sid)["record_counts"]
                         .get(key, 0) for sid in sids)
                for key, sids in m.get("partitions", {}).items()}

    def row_count(self, name: str) -> int:
        """Rows of the table's current snapshot, from its manifest
        alone (no Spark job)."""
        return sum(self._live_counts(name, self.manifest(name)).values())

    def _write_bucketed(self, df: DataFrame, data_dir: pathlib.Path,
                        n_buckets: int, col: str) -> None:
        """Write ``df`` as Spark-bucketed parquet files at ``data_dir``.

        bucketBy only exists on the saveAsTable path (plain
        ``.parquet()`` files carry no bucket ids in their names), so the
        write goes through a throwaway EXTERNAL table — dropping it
        keeps the files, which is all we want.  The repartition aligns
        tasks with buckets (bucket id and HashPartitioning use the same
        murmur3-pmod), so each task emits exactly one bucket file
        instead of tasks × buckets fragments.
        """
        tmp = f"mdscraper_bucket_write_{uuid.uuid4().hex}"
        (df.repartition(n_buckets, col)
           .write.mode("overwrite")
           .bucketBy(n_buckets, col).sortBy(col)
           .option("path", str(data_dir))
           .saveAsTable(tmp))
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")

    def read_bucketed_parts(self, name: str) -> List[DataFrame]:
        """Current snapshots of a bucketed table as SEPARATE bucket-aware
        DataFrames, oldest-first (compacted base first, then the appends
        since).  Each part is registered as an external table with the
        manifest's CLUSTERED BY spec, so a join on the bucket column
        pays no Exchange on that part's side — the reader composes
        base-vs-delta plans (big base: sort-merge, exchange-free;
        small deltas: broadcast).  Falls back to ``[read_table(name)]``
        for unbucketed tables so callers degrade instead of branching.
        """
        m = self.manifest(name)
        if m is None:
            return []
        if not m.get("bucket_by"):
            return [self.read_table(name)]
        n_buckets, col = m["bucket_by"]
        schema = StructType.fromJson(m["schema"])
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                        for f in schema.fields)
        parts = []
        for sid in m.get("partitions", {}).get("", []):
            d = self._snap_data_dir(name, sid)
            if not d.exists():
                continue
            # name keyed by snapshot dir: IF NOT EXISTS must never pick
            # up a same-named registration pointing elsewhere
            tbl = f"mdscraper_bkt_{uuid.uuid5(uuid.NAMESPACE_URL, str(d)).hex}"
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY (`{col}`) SORTED BY (`{col}`) "
                f"INTO {n_buckets} BUCKETS LOCATION '{d}'")
            parts.append(self.spark.table(tbl).select(
                *[f.name for f in schema.fields]))
        return parts

    def read_table(self, name: str,
                   snapshot_id: Optional[str] = None) -> DataFrame:
        """Read the current snapshot, or time-travel to a retained one.

        Schema comes from the snapshot manifest (Iceberg semantics:
        metadata, not file-footer inference), which also makes empty
        tables readable.  Partition values are recovered from the
        directory layout per owning snapshot (basePath)."""
        from functools import reduce

        m = self.manifest(name, snapshot_id)
        if m is None:
            return self.spark.read.parquet(str(self.table_path(name)))
        schema = StructType.fromJson(m["schema"])
        # group partition keys by owning snapshot
        by_snap: Dict[str, List[str]] = {}
        for key, sids in m.get("partitions", {}).items():
            for sid in sids:
                by_snap.setdefault(sid, []).append(key)
        parts = []
        for sid, keys in sorted(by_snap.items()):
            base = self._snap_data_dir(name, sid)
            if keys == [""]:
                if base.exists():
                    parts.append(self.spark.read.schema(schema)
                                 .parquet(str(base)))
            else:
                # skip physically-lost partition dirs instead of failing:
                # (Iceberg fails fast here; we degrade to the readable
                # subset so a damaged bucket can be re-extracted by the
                # resume path, which then re-commits the partition)
                paths = [str(base / k) for k in sorted(keys)
                         if (base / k).exists()]
                if paths:
                    parts.append(self.spark.read.schema(schema)
                                 .option("basePath", str(base))
                                 .parquet(*paths))
        if not parts:
            return self.spark.createDataFrame([], schema)
        cols = [f.name for f in schema.fields]
        # partitioned reads surface partition columns last; restore the
        # manifest's column order so the contract is layout-independent
        return reduce(lambda a, b: a.unionByName(b),
                      [p.select(*cols) for p in parts])

    def manifest(self, name: str,
                 snapshot_id: Optional[str] = None) -> Optional[dict]:
        if snapshot_id is not None:
            p = self._snapshots_dir(name) / f"{snapshot_id}.json"
            if not p.exists():
                raise ValueError(
                    f"snapshot {snapshot_id} of table {name} not found "
                    "(expired or never committed)")
            return json.loads(p.read_text())
        p = self._manifest_path(name)
        return json.loads(p.read_text()) if p.exists() else None

    def snapshots(self, name: str) -> List[dict]:
        """Snapshot chain, current first, following parent links."""
        out = []
        m = self.manifest(name)
        while m is not None:
            out.append(m)
            parent = m.get("parent_snapshot")
            m = self.manifest(name, parent) if parent else None
        return out

    # -- merge / change data feed -----------------------------------------
    def merge_table(self, source: DataFrame, name: str,
                    key_cols: Sequence[str],
                    partition_by: Sequence[str] = (),
                    properties: Optional[dict] = None) -> str:
        """MERGE INTO (upsert): target rows matching ``key_cols`` are
        replaced by the source row, unmatched source rows are inserted,
        unmatched target rows are kept.  Returns the new snapshot id.

        Partitioned tables rewrite ONLY the partitions the source
        touches (merged rows routed through the dynamic partition
        overwrite), so a re-crawl upsert of one url-host bucket leaves
        every other bucket owned by its previous snapshot — the same
        property the resume path relies on.  That scoping is only
        sound when the key determines the partition (partition_by ⊆
        key_cols — a matched row can then never live outside a touched
        partition); otherwise the merge falls back to a full rewrite
        so a key that MOVED partitions is still replaced, not
        duplicated.  Unpartitioned tables always rewrite fully (as
        Iceberg copy-on-write does).
        """
        from pyspark.sql import functions as F

        keys = list(key_cols)
        if not self.exists(name):
            return self.write_table(source, name,
                                    partition_by=tuple(partition_by),
                                    properties=properties)
        target = self.read_table(name)
        scoped = bool(partition_by) and set(partition_by) <= set(keys)
        if scoped:
            touched = source.select(*partition_by).distinct()
            target = target.join(F.broadcast(touched),
                                 list(partition_by), "left_semi")
        cols = target.columns       # key-joins reorder columns; keep
        kept = target.join(source.select(*keys).distinct(), keys,
                           "left_anti")
        merged = kept.unionByName(source).select(*cols)
        if partition_by and not scoped:
            # full rewrite: a dynamic overwrite would leave a stale
            # copy in a partition the merged frame no longer touches
            return self._full_overwrite(merged, name, tuple(partition_by),
                                        properties=properties)
        return self.write_table(merged, name,
                                partition_by=tuple(partition_by),
                                properties=properties)

    def changes(self, name: str, from_snapshot: str, to_snapshot: str,
                key_cols: Sequence[str]) -> DataFrame:
        """Change data feed between two retained snapshots: each row of
        the newer snapshot that is new ('insert') or whose non-key
        content changed ('update_postimage'), plus each older-snapshot
        row whose key disappeared ('delete') — the incremental-consumer
        contract (Iceberg CDC / changelog scan shape).

        Row-level diff via exceptAll (duplicate-exact), classified by
        key membership; one extra ``_change_type`` string column.
        Snapshots straddling an add-column evolution are aligned by
        null-filling each side to the union of both schemas.  Exact
        for unique-key tables (the engine's tables are url-/id-keyed);
        with duplicate keys, a removed copy of a key that also has
        added rows is folded into the update classification rather
        than emitted as its own delete.
        """
        from pyspark.sql import functions as F

        keys = list(key_cols)
        old = self.read_table(name, snapshot_id=from_snapshot)
        new = self.read_table(name, snapshot_id=to_snapshot)
        # align schemas across add-column evolution (exceptAll needs
        # identical column sets)
        o_types, n_types = dict(old.dtypes), dict(new.dtypes)
        for c, t in n_types.items():
            if c not in o_types:
                old = old.withColumn(c, F.lit(None).cast(t))
        for c, t in o_types.items():
            if c not in n_types:
                new = new.withColumn(c, F.lit(None).cast(t))
        cols = new.columns
        old = old.select(*cols)
        added = new.exceptAll(old)          # inserted or post-update
        removed = old.exceptAll(new)        # deleted or pre-update
        changed_keys = (added.select(*keys)
                        .intersect(removed.select(*keys)))
        updates = added.join(changed_keys, keys, "left_semi") \
            .withColumn("_change_type", F.lit("update_postimage"))
        inserts = added.join(changed_keys, keys, "left_anti") \
            .withColumn("_change_type", F.lit("insert"))
        # a removed row is a delete unless its key is being updated —
        # this also catches a vanished duplicate copy of a key that
        # still exists in the new snapshot
        deletes = (removed.join(changed_keys, keys, "left_anti")
                   .withColumn("_change_type", F.lit("delete")))
        return inserts.unionByName(updates).unionByName(deletes)

    # -- maintenance -------------------------------------------------------
    def _data_files(self, name: str, m: dict) -> List[pathlib.Path]:
        files: List[pathlib.Path] = []
        for key, sids in m.get("partitions", {}).items():
            for sid in sids:
                base = self._snap_data_dir(name, sid)
                files.extend((base / key if key else base).rglob("*.parquet"))
        return files

    def compact(self, name: str,
                target_file_bytes: int = 128 * 1024 * 1024,
                on_missing: str = "error") -> dict:
        """Bin-pack the current snapshot into ~target-sized files as a
        new snapshot.  Partitioned tables get one file per partition
        (the repartition-on-key collapses each key's file set); history
        remains time-travelable until expired.

        A partition dir the manifest references but the filesystem has
        lost is NOT silently finalized out of existence (the resume
        path treats lost buckets as recoverable): on_missing='error'
        (default) refuses with the lost keys; on_missing='carry' keeps
        the lost keys' old ownership entries in the new manifest and
        reports them in the returned stats."""
        if on_missing not in ("error", "carry"):
            raise ValueError(f"on_missing must be error|carry: {on_missing}")
        m = self.manifest(name)
        if m is None:
            raise ValueError(f"no such table: {name}")
        def _dir(sid, key):
            base = self._snap_data_dir(name, sid)
            return (base / key) if key else base

        # only the (key, sid) pairs whose dirs are PHYSICALLY missing:
        # carrying a still-present sid too would double-read its rows
        # after they were folded into the compacted snapshot
        lost_entries = {
            key: [sid for sid in sids if not _dir(sid, key).exists()]
            for key, sids in m.get("partitions", {}).items()}
        lost_entries = {k: v for k, v in lost_entries.items() if v}
        lost = sorted(lost_entries)
        if lost and on_missing == "error":
            raise ValueError(
                f"compact({name}): manifest references physically missing "
                f"partition dirs {lost}; recover them or pass "
                "on_missing='carry' to preserve their ownership entries")
        before = self._data_files(name, m)
        total = sum(f.stat().st_size for f in before)
        df = self.read_table(name)
        part_by = m.get("partition_by", [])
        if part_by:
            df = df.repartition(*part_by)
        elif not m.get("bucket_by"):
            # bucketed tables skip this: write_table inherits the spec
            # and _write_bucketed repartitions onto the buckets itself
            df = df.repartition(max(1, -(-total // target_file_bytes)))
        # carry the current snapshot's properties forward: writers use
        # them for commit metadata that must survive maintenance (the
        # streaming ingest's last_batch_id/stream_id exactly-once guard
        # reads the CURRENT manifest — a compaction that dropped them
        # would re-admit replayed batches)
        carried = dict(m.get("properties", {}))
        sid = self.write_table(df, name, partition_by=tuple(part_by),
                               mode="overwrite", properties=carried) \
            if not part_by else \
            self._full_overwrite(df, name, tuple(part_by),
                                 properties=carried)
        if lost_entries:
            m2 = self.manifest(name)
            old_counts = self._live_counts(name, m)
            for key, sids in lost_entries.items():
                m2["partitions"].setdefault(key, [])
                m2["partitions"][key] = sorted(
                    set(m2["partitions"][key]) | set(sids))
                # the compacted rows plus the lost dirs' claimed rows:
                # what the old manifest counted for the key
                m2["live_counts"][key] = old_counts[key]
            (self._snapshots_dir(name) / f"{sid}.json").write_text(
                json.dumps(m2, indent=2))
            self._manifest_path(name).write_text(json.dumps(m2, indent=2))
        after = self._data_files(name, self.manifest(name))
        return {"snapshot_id": sid, "files_before": len(before),
                "files_after": len(after), "bytes": total,
                "missing_partitions": lost}

    def _full_overwrite(self, df: DataFrame, name: str,
                        partition_by: Sequence[str],
                        properties: Optional[dict] = None) -> str:
        """Overwrite ALL partitions (compaction), not just those present
        in df — drop inherited ownership by clearing the parent map."""
        sid = self.write_table(df, name, partition_by=partition_by,
                               mode="overwrite", properties=properties)
        m = self.manifest(name)
        m["partitions"] = {k: [sid] for k, v in m["partitions"].items()
                           if sid in v}
        m["live_counts"] = dict(m["record_counts"])
        (self._snapshots_dir(name) / f"{sid}.json").write_text(
            json.dumps(m, indent=2))
        self._manifest_path(name).write_text(json.dumps(m, indent=2))
        return sid

    def expire_snapshots(self, name: str, keep_last: int = 1) -> dict:
        """Retain the newest ``keep_last`` snapshots; delete snapshot
        metadata AND data directories no retained snapshot references
        (expire + orphan-file cleanup).  ``keep_last`` must be >= 1:
        keeping zero snapshots would delete every data directory while
        the manifest survives — a silently emptied table, not an
        expiry."""
        if keep_last < 1:
            raise ValueError(
                f"expire_snapshots keep_last must be >= 1, got "
                f"{keep_last} (the current snapshot is always retained)")
        chain = self.snapshots(name)
        kept, dropped = chain[:keep_last], chain[keep_last:]
        referenced = {sid for m in kept
                      for sids in m.get("partitions", {}).values()
                      for sid in sids}
        n_dirs = 0
        for snap_dir in (self.table_path(name) / "data").glob("snap-*"):
            if snap_dir.name.removeprefix("snap-") not in referenced:
                shutil.rmtree(snap_dir, ignore_errors=True)
                n_dirs += 1
        kept_ids = {m["snapshot_id"] for m in kept}
        for meta in self._snapshots_dir(name).glob("*.json"):
            if meta.stem not in kept_ids:
                meta.unlink()
        # sever the parent link of the oldest kept snapshot
        if kept and kept[-1].get("parent_snapshot"):
            oldest = dict(kept[-1], parent_snapshot=None)
            (self._snapshots_dir(name)
             / f"{oldest['snapshot_id']}.json").write_text(
                json.dumps(oldest, indent=2))
            if oldest["snapshot_id"] == kept[0]["snapshot_id"]:
                self._manifest_path(name).write_text(
                    json.dumps(oldest, indent=2))
        return {"kept": len(kept), "expired": len(dropped),
                "data_dirs_deleted": n_dirs}
