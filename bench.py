#!/usr/bin/env python
"""Benchmark smoke of the engine: prints ONE JSON line.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py

Times the headline queries of the FULL registry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) and perfbench's ``labels_shortdoc``
workload (``quality_filter_pipeline`` over 12,000 seeded pages), on
``local[$SPARK_GRAFT_CPUS | host cores]``. Every timed region is a
``noop`` write, so Catalyst runs every column a plan computes. A query
reports the median of 3 executions after one warm-up. The pipeline runs
perfbench's warm-up and then its minimum number of timed executions, and
checks each one (row conservation, the digest pinned for seed 1, and an
oracle sample; PII on the first execution). Exits 1 if any check fails.

Output: {"metric": ..., "value": <total sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ..., "pipeline": {...}}

For a gated A/B measurement use ``perfbench/run.py``; this is a smoke.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from perfbench.run import WARMUP, ensure_inputs, timed_loop
from perfbench.workloads import DEFAULT_SEED, LabelsShortdoc

# Relational, window, domain, flagship filter, quality, scrub, dedup,
# perplexity, ANN and skew paths. The TPC demos q01/q02 and every other
# query run in the driver's correctness gate.
HEADLINE = [
    "q04_window_top_events",
    "q10_domain_extract",
    "q12_robots_filter",
    "q13_quality_features",
    "q15_pii_scrub",
    "q18_exact_dedup",
    "q19_minhash_signature",
    "q23_unigram_perplexity",
    "q24_ann_brute_force",
    "q26_salted_domain_count",
]

# q12's merged key runs the parity and enforcement modes as a union;
# the bench times the original single-mode flagship filter, kept in the
# FULL registry under this alias.
_BENCH_ALIAS = {"q12_robots_filter": "q12_robots_filter_reference_parity"}

QUERY_REPS = 3


def _noop_wall(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _queries(spark, sf_dir: str) -> dict[str, float]:
    from fineweb_domain_analyzer_spark.merged import full_queries

    qs = full_queries()
    timings = {}
    for name in HEADLINE:
        fn = qs[_BENCH_ALIAS.get(name, name)]
        walls = [_noop_wall(fn(spark, sf_dir)) for _ in range(1 + QUERY_REPS)]
        timings[name] = round(statistics.median(walls[1:]), 3)
    return timings


def _pipeline(spark, meta: dict) -> dict:
    wl = LabelsShortdoc(spark, DEFAULT_SEED, meta)
    warm_failed = 0
    for i in range(WARMUP):
        _wall, errors = wl.execute(i, full_check=(i == 0))
        if errors:
            warm_failed += 1
            sys.stderr.write("bench: warm-up check failed:\n  " + "\n  ".join(errors[:10]) + "\n")
    loop = timed_loop(wl, 0, WARMUP)
    sec = statistics.median(loop["walls"]) if loop["walls"] else None
    return {
        "workload": wl.name,
        "docs": wl.docs,
        "sec": None if sec is None else round(sec, 3),
        "docs_per_sec": None if sec is None else round(wl.docs / sec, 1),
        "samples_sec": [round(w, 3) for w in loop["walls"]],
        "attempted": WARMUP + loop["attempted"],
        "failed": warm_failed + loop["failed"],
        "digest": wl.last_digest,
        "pinned": wl.pinned,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from fineweb_domain_analyzer_spark.session import get_spark

    # generated (once, cached) in a child Spark process before ours starts
    meta, _gen_s = ensure_inputs(LabelsShortdoc.name, DEFAULT_SEED)

    # the Python workers import the package through PYTHONPATH, whatever
    # directory the bench was started from
    root = os.path.dirname(os.path.abspath(__file__))
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    spark = get_spark(
        app_name="fineweb-spark-bench",
        extra_confs={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    try:
        timings = _queries(spark, sf_dir)
        pipe = _pipeline(spark, meta)
    finally:
        spark.stop()
    result = {
        "metric": "headline query suite + quality-filter pipeline (noop sink)",
        "value": round(sum(timings.values()) + (pipe["sec"] or 0.0), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "pipeline": pipe,
    }
    print(json.dumps(result))
    return 1 if pipe["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
