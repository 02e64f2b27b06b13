"""Cluster entry point for spark-submit (see submit_cluster.sh).

Runs the full crawler pipeline against a lake root. On a cluster the
SparkSession comes from the submit environment (no local[*] master);
GraphStore's parquet + staged partition commits map 1:1 onto Iceberg
(MERGE INTO / overwritePartitions) when the catalog is configured.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lake", required=True)
    ap.add_argument("--mode", choices=["batched", "sequential"],
                    default="batched")
    ap.add_argument("--resume", action="store_true",
                    help="skip crawlers with a completed materialize record "
                         "(both modes)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from iyp_spark.crawlers import CRAWLER_ORDER
    from iyp_spark.framework import run_pipeline, run_pipeline_batched
    from iyp_spark.store import make_store

    spark = SparkSession.builder.appName("iyp_spark_build").getOrCreate()
    # backend from $IYP_STORE_BACKEND (submit_cluster.sh sets "iceberg")
    store = make_store(spark, args.lake)
    if args.mode == "batched":
        result = run_pipeline_batched(store, CRAWLER_ORDER, resume=args.resume)
    else:
        result = run_pipeline(store, CRAWLER_ORDER, resume=args.resume)
    print(json.dumps(result, default=str))


if __name__ == "__main__":
    main()
