#!/usr/bin/env python
"""Scaling-leg bench (r15, VERDICT r14 "Next round" #2): time the heavy
bench queries on a LARGER dataset (tools/gen_scaled_sf.py) at a given
core count, with bench.py's exact methodology — consecutive best-of-N
per query, noop sink, EAGER builder timing, calibration probe.

This is perf *evidence tooling*, not the driver bench: bench.py and its
one-line JSON contract are untouched. Run it in fresh processes, e.g.

    SPARK_GRAFT_SF_DIR=/root/testdata_sf1 SPARK_GRAFT_CPUS=32 \
        python tools/scaling_bench.py --out plans/r15/scaling_sf1_c32.json
    SPARK_GRAFT_SF_DIR=/root/testdata_sf1 SPARK_GRAFT_CPUS=8 \
        python tools/scaling_bench.py --out plans/r15/scaling_sf1_c8.json

The point: at sf0.1 every query is fixed-overhead-bound (r14 scaling
block read ~1.0 for 8c/32c everywhere, even the pure-CPU probe), so
shuffle/exchange wins are invisible as wall-clock. At 10x the compute
term dominates and core-count ratios move off 1.0.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the heavy tier: every query >= ~2 s in the r14 driver bench, plus the
# r14 exchange-elimination queries whose payoff the leg must demonstrate
DEFAULT_QUERIES = (
    "stream_stateful_sessions",
    "copurchase_pagerank",
    "copurchase_communities",
    "purchase_hits_scores",
    "copurchase_kcore",
    "kmeans_clusters",
    "pq_adc_topk",
    "corpus_curation_pipeline",
    "dedup_components",
    "lineitem_corr_matrix",
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--out", default=None, help="also write the JSON here")
    args = ap.parse_args()

    from bench import _calibrate, time_query  # bench.py methodology, reused
    from biodiversity_data_ingestion_spark.session import get_spark

    names = args.queries or list(DEFAULT_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata_sf1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    load_start = round(os.getloadavg()[0], 2)

    spark = get_spark(app_name="bdi-scaling-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm-up
    _calibrate(spark)  # unmeasured: absorbs probe codegen compile
    cal_times = [_calibrate(spark)]

    timings: dict[str, float] = {}
    all_reps: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"scaling-leg: {name}")
        all_reps[name] = time_query(spark, name, sf_dir, args.repeats)
        spark.sparkContext.setJobDescription(None)
        timings[name] = min(all_reps[name])
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)
        cal_times.append(_calibrate(spark))
    cal = statistics.median(cal_times)

    line = json.dumps(
        {
            "metric": "scaling-leg heavy-query wall-clock (noop sink)",
            "unit": "sec",
            "sf_dir": sf_dir,
            "cpus": cpus,
            "repeats": args.repeats,
            "aggregation": "best",
            "repeats_all": all_reps,
            "queries": timings,
            "queries_normalized": {
                n: round(t / cal, 2) for n, t in timings.items()
            },
            "value": round(sum(timings.values()), 3),
            "calibration_times": cal_times,
            "calibration": round(cal, 3),
            "calibration_spread": round(max(cal_times) / min(cal_times), 2),
            "value_normalized": round(sum(timings.values()) / cal, 2),
            "load_avg_1m_start": load_start,
            "load_avg_1m_end": round(os.getloadavg()[0], 2),
        }
    )
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
