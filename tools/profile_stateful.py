#!/usr/bin/env python
"""Decompose the stream_stateful_sessions replay (r15, VERDICT r14 #3).

Runs the sentinel-staged bounded replay through
``streaming.stateful.run_staged_sessions``, the runner the registry
query uses (state partitions scaled from the stage directory), with a
chosen Arrow batch size, and prints the per-micro-batch
StreamingQueryProgress durations (triggerExecution, addBatch,
stateOperators commit times, number of batches) plus the replay's
wall-clock, staging included — so the remaining cost (state-store
commits vs Python state workers vs batch machinery) is attributable.

    SPARK_GRAFT_SF_DIR=... python tools/profile_stateful.py --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--arrow-batch", type=int, default=0,
                    help="spark.sql.execution.arrow.maxRecordsPerBatch "
                         "(0 = session default 10000)")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from biodiversity_data_ingestion_spark.session import get_spark
    from biodiversity_data_ingestion_spark.streaming import stateful as st

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-stateful")
    spark.sparkContext.setLogLevel("ERROR")
    if args.arrow_batch:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(args.arrow_batch)
        )
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for rep in range(args.reps):
        t0 = time.perf_counter()
        sessions, q = st.run_staged_sessions(spark, sf_dir, "prof_sessions")
        t_replay = time.perf_counter() - t0
        batches = []
        for p in q.recentProgress:
            pj = json.loads(p.json)
            so = pj.get("stateOperators") or []
            batches.append({
                "batchId": pj.get("batchId"),
                "numInputRows": pj.get("numInputRows"),
                "durationMs": pj["durationMs"],
                "stateCommitMs": [o.get("commitTimeMs") for o in so],
                "stateRowsUpdated": [o.get("numRowsUpdated") for o in so],
                "statePartitions": [o.get("numShufflePartitions") for o in so],
            })
        print(json.dumps({
            "rep": rep,
            "arrow_batch": args.arrow_batch or 10000,
            "replay_s": round(t_replay, 3),
            "rows": sessions.count(),
            "batches": batches,
        }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
