"""Standing-ingest job: the spark-submit entry for the KG lambda loop.

``--ingest`` drains currently-available page files into the accumulated
raw_edges / raw_mentions tables (availableNow trigger + checkpoint =
one exactly-once incremental ingest per invocation — run it from a
scheduler for a standing pipeline); ``--canonicalize`` runs the
periodic batch half (the accumulated mention counts canonicalized on
the driver with the batch job's rule, kg_nodes/kg_edges materialized
to the warehouse).  Both may be combined in one invocation.

    spark-submit --py-files dist/mdscraper_spark.zip \\
        mdscraper_spark/jobs/kg_stream.py \\
        --input /path/pages_stream --warehouse /path/wh \\
        --checkpoint /path/ckpt --ingest --canonicalize
"""

from __future__ import annotations

import argparse
import json

from mdscraper_spark.config import ExtractConfig


def main(argv=None) -> None:
    p = argparse.ArgumentParser(
        description="standing KG ingest + periodic canonicalization")
    p.add_argument("--input", required=True,
                   help="pages parquet dir (streamed, new files picked up)")
    p.add_argument("--format", default="parquet",
                   choices=("parquet", "warc"), dest="input_format",
                   help="--input format: parquet pages dir (default) or "
                        "a directory of arriving WARC/1.0 shards")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--checkpoint", required=True,
                   help="streaming checkpoint dir (exactly-once state)")
    p.add_argument("--ingest", action="store_true",
                   help="drain available page files into the "
                        "accumulated tables")
    p.add_argument("--canonicalize", action="store_true",
                   help="canonicalize the accumulated mention counts on "
                        "the driver and materialize kg_nodes/kg_edges")
    p.add_argument("--exclude-selectors", nargs="*", default=())
    p.add_argument("--expire-keep", type=int, default=None, metavar="N",
                   help="after the run, expire accumulated-table "
                        "snapshots down to the newest N (a standing "
                        "ingest commits one snapshot per table per "
                        "micro-batch — unbounded without expiry)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not (args.ingest or args.canonicalize):
        p.error("nothing to do: pass --ingest and/or --canonicalize")

    from mdscraper_spark.session import get_spark
    from mdscraper_spark.streaming.kg_incremental import (
        canonicalize_accumulated, stream_kg_update)

    spark = get_spark("mdscraper-spark-kg-stream", master=args.master)
    out: dict = {}
    if args.ingest:
        cfg = ExtractConfig(
            exclude_selectors=tuple(args.exclude_selectors))
        stream_kg_update(spark, args.input, args.warehouse,
                         args.checkpoint, cfg,
                         input_format=args.input_format)
        out["ingested"] = True
    if args.canonicalize:
        nodes, edges = canonicalize_accumulated(spark, args.warehouse)
        out["n_nodes"] = nodes.count()
        out["n_edges"] = edges.count()
    if args.expire_keep is not None:
        from mdscraper_spark.sources.tables import Warehouse
        from mdscraper_spark.streaming.kg_incremental import (
            RAW_EDGES, RAW_MENTIONS)

        wh = Warehouse(spark, args.warehouse)
        out["expired"] = {
            t: wh.expire_snapshots(t, keep_last=args.expire_keep)
            for t in (RAW_EDGES, RAW_MENTIONS)
            if wh.exists(t)}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
