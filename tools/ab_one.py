#!/usr/bin/env python
"""One fresh-process leg of an alternating A/B (r14 host-contention
protocol, memory/r14-host-contention-protocol.md): run ONE bench query
with bench.py's exact timing (consecutive best-of-N, noop sink, EAGER
builder handling) and print a single JSON line.

Variants are selected by the caller via env vars the code under test
reads (e.g. BDI_HITS_EDGE_CACHE=1) — this script is variant-agnostic.

    SPARK_GRAFT_SF_DIR=... python tools/ab_one.py purchase_hits_scores --reps 4
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

    from bench import time_query
    from biodiversity_data_ingestion_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"ab-{args.query}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up

    reps = time_query(spark, args.query, sf_dir, args.reps)
    print(
        json.dumps(
            {
                "query": args.query,
                "tag": args.tag,
                "reps": reps,
                "best": min(reps),
                "sf_dir": sf_dir,
                "load_end": round(os.getloadavg()[0], 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
