#!/usr/bin/env python
"""spark-submit entrypoint for the STREAMING form of the KG pipeline:
transcript files land in a directory, each micro-batch (file) runs the full
transform chain and MERGEs into the snapshot graph store.

Cluster usage:

    spark-submit --py-files rio_spark.zip jobs/run_streaming_pipeline.py \
        --input /landing/transcripts --store /data/kg_store \
        --checkpoint /data/kg_store_ckpt --snapshot-id stream-2024-06

Local smoke (stages N synthetic conversations into M landing files, runs
the availableNow replay, prints one JSON report line):

    python jobs/run_streaming_pipeline.py --synthetic-convs 120 --files 3 \
        --store /tmp/kg_stream_store --checkpoint /tmp/kg_stream_ckpt

Resume: rerunning with the SAME --checkpoint skips files the stream already
processed (Spark's source checkpoint); rerunning with a fresh checkpoint
re-merges idempotently (merged=0 lineage rows — the audit trail of a
redelivery). Ingest contract: each landing file holds complete
conversations (see rio_spark/streaming/materialize.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="directory of transcript parquet landing files")
    ap.add_argument("--synthetic-convs", type=int, default=0,
                    help="stage N synthetic conversations into --files landing files")
    ap.add_argument("--files", type=int, default=3,
                    help="landing files to stage with --synthetic-convs")
    ap.add_argument("--store", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--snapshot-id", default="stream-local")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from rio_spark.operators.materialize import GraphStore
    from rio_spark.session import get_spark
    from rio_spark.sources.entity_dictionary import entity_dictionary
    from rio_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
        synthetic_docs_meta,
        synthetic_transcripts,
    )
    from rio_spark.streaming.materialize import run_streaming_pipeline

    spark = get_spark(app_name="rio_spark_streaming_pipeline", cores=args.cores)

    docs_meta = None
    if args.synthetic_convs:
        docs_meta = synthetic_docs_meta(spark, args.synthetic_convs)
        # parameters in the dir name: changing --synthetic-convs/--files must
        # not silently reuse a stale landing set
        input_dir = os.path.join(
            os.path.dirname(args.checkpoint.rstrip("/")),
            os.path.basename(args.checkpoint.rstrip("/"))
            + f"_landing_{args.synthetic_convs}x{args.files}",
        )
        # reuse only a COMPLETE landing set: a staging run that crashed after
        # writing some f{i} subdirs must be regenerated, not replayed partial
        # (each f{i} is finished by a _SUCCESS marker once its write commits)
        complete = all(
            os.path.exists(os.path.join(input_dir, f"f{i}", "_SUCCESS"))
            for i in range(args.files)
        )
        if not complete:
            # complete conversations per landing file: split on conv hash
            all_t = synthetic_transcripts(spark, args.synthetic_convs)
            for i in range(args.files):
                all_t.filter(
                    F.pmod(F.xxhash64("conv_id"), F.lit(args.files)) == i
                ).coalesce(1).write.mode("overwrite").parquet(f"{input_dir}/f{i}")
    elif args.input:
        input_dir = args.input
    else:
        ap.error("need --input or --synthetic-convs")

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(input_dir)
    )
    store = GraphStore(args.store, n_buckets=args.n_buckets)
    lineage_before = store.lineage(spark).count()
    q = run_streaming_pipeline(
        stream, store, args.snapshot_id, args.checkpoint,
        docs_meta=docs_meta, dictionary=entity_dictionary(spark),
    )
    q.awaitTermination()

    lin = store.lineage(spark).filter(
        F.col("input_snapshot_id") == args.snapshot_id
    ).toPandas()
    batches = lin[~lin.partition_hash.str.endswith("-errors")]
    print(json.dumps({
        "snapshot_id": args.snapshot_id,
        "batches_total": int(len(batches)),
        "lineage_rows_this_run": int(store.lineage(spark).count() - lineage_before),
        "triples_merged": int(batches.triple_count.sum()),
        "error_rows": int(lin[lin.partition_hash.str.endswith("-errors")].triple_count.sum()),
        "store_snapshot": store.current_snapshot(),
        "quads_in_store": store.graph(spark).count(),
    }))


if __name__ == "__main__":
    main()
