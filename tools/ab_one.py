#!/usr/bin/env python
"""One fresh-process leg of an alternating A/B: run ONE bench query
with bench.py's timing loop (``bench.time_query``: consecutive repeats,
noop sink, EAGER builders timed with their builder) and print a single
JSON line.

A leg measures the checkout the script lives in (it puts that checkout
first on ``sys.path``). To compare two versions, keep one checkout of
each and run one leg from each in turn, parent then change, for several
pairs; ``tools/ab_pairs.sh`` does exactly that. Compare the medians of
the legs' ``best`` figures.

    SPARK_GRAFT_SF_DIR=<sf dir> python tools/ab_one.py kmeans_clusters --reps 4
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
