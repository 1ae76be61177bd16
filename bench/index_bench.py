"""spark-submit entry: full index-build pipeline throughput.

    spark-submit --master local[N] --py-files <engine.zip> \
        bench/index_bench.py --input <pages parquet> --out <index dir> \
        [--segments S] [--shuffle P] [--compress]

Times extract (html->text) -> analyze -> invert ->
[encode ->] write segments, excluding corpus generation (BASELINE.md
protocol).  Prints one JSON line with docs/sec.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--segments", type=int, default=32)
    ap.add_argument("--shuffle", type=int, default=64)
    ap.add_argument("--compress", action="store_true")
    ap.add_argument("--nosave", action="store_true")
    ap.add_argument("--nopersist", action="store_true")
    ap.add_argument("--route", default="hash", choices=["hash", "none"])
    ap.add_argument("--layout", default="segdir",
                    choices=["segdir", "packed"])
    args = ap.parse_args()

    spark = (SparkSession.builder.appName("index-bench")
             .config("spark.sql.shuffle.partitions", str(args.shuffle))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             # task-side (parallel) output commit — the v1 default
             # renames every file sequentially on the driver, a serial
             # term that does not scale with cores (BASELINE.md r5)
             .config("spark.hadoop.mapreduce.fileoutputcommitter"
                     ".algorithm.version", "2")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_solr_old_spark.operators.indexer import build_index, compress_index

    docs = spark.read.parquet(args.input)
    n_docs = docs.count()  # warm the input listing outside the timed window

    t0 = time.time()
    idx = build_index(docs, key_col="url", html_col="html",
                      num_segments=args.segments, analyzer="english",
                      persist_termdoc=not args.nopersist,
                      route=args.route)
    if args.compress:
        idx = compress_index(idx)
    if args.nosave:
        # materialize fully without the file sink (plan-cost isolation)
        idx.postings.write.format("noop").mode("overwrite").save()
        idx.docmeta.write.format("noop").mode("overwrite").save()
    else:
        idx.save(args.out, layout=args.layout)
    wall = time.time() - t0

    master = spark.sparkContext.master
    print(json.dumps({
        "master": master,
        "docs": n_docs,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 2),
        "segments": args.segments, "route": args.route,
        "layout": args.layout,
        "shuffle_partitions": args.shuffle,
        "compressed": bool(args.compress),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
