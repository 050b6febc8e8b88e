"""Experiment runner CLI (E12, ``/root/reference/experiment.py`` —
dataset × blocker → assign → parquet → re-read → evaluate → JSON
metrics).  The reference's 1690-line click CLI with SLURM/dask
bootstrap shrinks to argparse + the engine: cluster deployment is
spark-submit's job, not the library's.

Usage:
  python scripts/run_experiment.py --sf-dir /root/testdata/sf0.01 \
      --blocker token --out /tmp/blocks

Blockers: standard token qgram unique tfidf lsh relational composite
attr-cluster embedding.  Left = customer, right = supplier (names),
gold = the synthetic arithmetic link c_custkey = 10*s_suppkey.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F


def build_blocker(name: str):
    from klinker_spark.blockers.attribute_clustering import AttributeClusteringBlocker
    from klinker_spark.blockers.lsh import MinHashLSHBlocker
    from klinker_spark.blockers.qgrams import QgramsBlocker
    from klinker_spark.blockers.standard import StandardBlocker
    from klinker_spark.blockers.tfidf import TfIdfFilteredTokenBlocker
    from klinker_spark.blockers.token import TokenBlocker
    from klinker_spark.blockers.unique_name import UniqueNameBlocker
    from klinker_spark.embedding.blockbuilder import KNNBlockBuilder
    from klinker_spark.embedding.blocker import EmbeddingBlocker

    return {
        "standard": lambda: StandardBlocker("name"),
        "token": TokenBlocker,
        "qgram": lambda: QgramsBlocker("name"),
        "unique": UniqueNameBlocker,
        "tfidf": TfIdfFilteredTokenBlocker,
        "lsh": MinHashLSHBlocker,
        "attr-cluster": AttributeClusteringBlocker,
        "embedding": lambda: EmbeddingBlocker(block_builder=KNNBlockBuilder(k=5)),
    }[name]()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--blocker", default="token")
    ap.add_argument("--out", default="/tmp/klinker_spark_blocks")
    ap.add_argument(
        "--tracker",
        default="console",
        choices=["console", "jsonl", "none"],
        help="result tracker (E13): console logging or a JSONL artifact",
    )
    ap.add_argument("--tracker-out", default="/tmp/klinker_spark_runs.jsonl")
    args = ap.parse_args()

    from klinker_spark.data.blocks import BlockManager
    from klinker_spark.data.frames import EntityFrame
    from klinker_spark.eval import Evaluation
    from klinker_spark.session import get_spark

    spark = get_spark(f"experiment:{args.blocker}")
    cust = spark.read.parquet(f"{args.sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{args.sf_dir}/supplier.parquet")
    left = EntityFrame.from_wide(cust, "customer", "c_custkey", ["c_name"])
    right = EntityFrame.from_wide(supp, "supplier", "s_suppkey", ["s_name"])
    # normalize the property name across sides (StandardBlocker keys on it)
    left = left.with_attrs(left.attrs.withColumn("prop", F.lit("name")))
    right = right.with_attrs(right.attrs.withColumn("prop", F.lit("name")))

    from klinker_spark.trackers import ConsoleResultTracker, JsonlResultTracker, ResultTracker

    tracker: ResultTracker = {
        "console": lambda: ConsoleResultTracker(writer="builtin"),
        "jsonl": lambda: JsonlResultTracker(args.tracker_out),
        "none": ResultTracker,
    }[args.tracker]()
    tracker.start_run(f"experiment:{args.blocker}")
    tracker.log_params({"blocker": args.blocker, "sf_dir": args.sf_dir})

    t0 = time.time()
    blocks = build_blocker(args.blocker).assign(left, right)
    blocks.to_parquet(args.out)  # execution boundary, like experiment.py:568
    assign_s = time.time() - t0

    blocks = BlockManager.read_parquet(spark, args.out, "customer", "supplier")
    gold = cust.join(supp, cust.c_custkey == 10 * supp.s_suppkey).select(
        F.col("c_custkey").cast("string"), F.col("s_suppkey").cast("string")
    )
    ev = Evaluation.from_blocks(
        blocks, gold, left_count=cust.count(), right_count=supp.count()
    )
    metrics = {"time_in_s": round(assign_s, 3), **ev.to_dict()}
    tracker.log_metrics(metrics)
    tracker.end_run(success=True)
    print(json.dumps({"blocker": args.blocker, **metrics}))


if __name__ == "__main__":
    main()
