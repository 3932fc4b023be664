"""Rewrite-bytes curve of the leveled fingerprint-store compactor
(round-16, VERDICT r15 task 5).

Simulates a long-running stream: N batches of fresh documents arrive;
after every batch the store is compacted. Each fold is written as a
new run, and runs merge into the base only when the size ratio
triggers, so total rewrite is O(N log N) over the stream's life. The
whole-store fold it replaced rewrote everything each time (O(N²)); its
numbers are the flat column of the SCALE.md §round-16 table.

Usage: python scripts/compaction_curve.py [--batches 12] [--rows 4000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(n_batches: int, rows_per_batch: int, spark) -> dict:
    from pyspark.sql import functions as F

    from parsedmarc_go_spark.storage import _parquet_file_stats
    from parsedmarc_go_spark.streaming.dedup import (
        STORE_TABLE,
        compact_fingerprint_store,
        make_dedup_processor,
    )

    root = tempfile.mkdtemp(prefix="cc_leveled_")
    out, store = os.path.join(root, "out"), os.path.join(root, "store")
    proc = make_dedup_processor(out, store)
    total_rewritten = 0
    curve = []
    try:
        for b in range(n_batches):
            lo = b * rows_per_batch
            docs = (
                spark.range(lo, lo + rows_per_batch)
                .select(
                    F.col("id").alias("doc_id"),
                    F.concat_ws(
                        "\n\n",
                        F.concat(F.lit("para-a-"), F.col("id")),
                        F.concat(F.lit("para-b-"), F.col("id")),
                        F.md5(F.col("id").cast("string")),
                    ).alias("text"),
                )
            )
            proc(docs, b)
            _, before_bytes = _parquet_file_stats(
                spark, os.path.join(store, STORE_TABLE)
            )
            st: dict = {}
            compact_fingerprint_store(spark, store, keep_last=1, stats=st)
            total_rewritten += st["bytes_rewritten"]
            curve.append(
                {"batch": b, "store_bytes": before_bytes,
                 "rewritten": st["bytes_rewritten"]}
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return {"mode": "leveled", "total_rewritten": total_rewritten, "curve": curve}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--rows", type=int, default=4000)
    args = ap.parse_args()
    from parsedmarc_go_spark.session import get_spark

    spark = get_spark(
        app_name="compaction-curve", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    r = run(args.batches, args.rows, spark)
    print(json.dumps(r))
    print(
        f"\n| batches | leveled total rewritten |\n"
        f"|---|---|\n"
        f"| {args.batches} | {r['total_rewritten']:,} B |"
    )


if __name__ == "__main__":
    main()
