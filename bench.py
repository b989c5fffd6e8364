#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Headline queries from ``__spark_entry__.queries()`` run at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS|32]``, plus the flagship end-to-end
quality-filter pipeline (the BASELINE.json metric) over a deterministic
synthetic pages corpus, reported as docs/sec.

Output: {"metric": ..., "value": <total sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ...,
         "pipeline": {"docs": N, "sec": S, "docs_per_sec": R}}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

# Representative subset: relational, window, flagship filter, quality,
# scrub, dedup families, perplexity, ANN. Full coverage runs in the
# driver's correctness gate; bench tracks the hot paths.
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
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

PIPELINE_ROWS = int(os.environ.get("BENCH_PIPELINE_ROWS", "300000"))

# Bench keys stay stable round-over-round; where a merged key took over
# a fine-grained name (its FULL alias in merged.py's _MERGED table), the
# bench still times the ORIGINAL single-mode query under its historical key —
# q12 must measure the flagship filter, not the 2× parity∪enforcement
# union the driver's correctness gate checks.
_BENCH_ALIAS = {"q12_robots_filter": "q12_robots_filter_reference_parity"}


def _run(spark, sf_dir: str) -> dict:
    # the FULL fine-grained registry: HEADLINE names stay stable across
    # rounds even though the driver-exposed registry consolidates keys
    from fineweb_domain_analyzer_spark.merged import full_queries

    qs = full_queries()
    timings: dict[str, float] = {}
    # One warm-up execution per query at the smallest SF: compiles the
    # whole-stage-codegen classes (Janino) and spawns the Python UDF
    # workers, so the timed run below measures steady-state execution —
    # the regime that matters at 100 TB — not one-time JVM compile cost.
    warm_dir = os.environ.get("BENCH_WARMUP_SF_DIR", "/root/testdata/sf0.001")
    for name in HEADLINE:
        try:
            qs[_BENCH_ALIAS.get(name, name)](spark, warm_dir).count()
        except Exception:
            pass  # warm-up is best-effort; the timed run surfaces real errors
    reps = int(os.environ.get("BENCH_SUITE_REPS", "3"))
    for name in HEADLINE:
        secs = []
        for _ in range(reps):
            t0 = time.time()
            df = qs[_BENCH_ALIAS.get(name, name)](spark, sf_dir)
            n = df.count()  # force full execution, no driver materialization
            secs.append(round(time.time() - t0, 3))
            assert n >= 0
        # median: sandbox co-tenant load swings single runs (see
        # _run_pipeline comment); per-query samples stay visible
        timings[name] = _median(secs)
    return timings


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    return s[len(s) // 2]


def _run_pipeline(spark) -> dict:
    from fineweb_domain_analyzer_spark.operators.metrics import filter_stats
    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline
    from fineweb_domain_analyzer_spark.sources.pages import (
        synth_pages,
        synth_policy_for_domains,
    )

    cache_dir = os.environ.get("BENCH_PAGES_CACHE", f"/tmp/fw_bench_pages_{PIPELINE_ROWS}")
    # _SUCCESS guards against a partial parquet from a killed run; on a
    # synth_pages generator change, delete /tmp/fw_bench_pages_* caches
    if not os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        synth_pages(spark, PIPELINE_ROWS, n_domains=2000, seed=42).write.mode(
            "overwrite"
        ).parquet(cache_dir)
    pages = spark.read.parquet(cache_dir)
    policy = synth_policy_for_domains(spark, 2000)
    # Warm-up, then median of REPS measured runs. One warm run compiles
    # the fused pipeline stage (Janino) and forks the Arrow workers, but
    # C2 JIT of the huge generated methods can lag a further execution
    # or two, and sandbox co-tenant load swings single runs by ~10×
    # (observed: 51 s and 5.0 s for the identical plan minutes apart) —
    # the median of three is robust to both, and all samples are
    # reported so an outlier is visible, not hidden.
    reps = int(os.environ.get("BENCH_PIPELINE_REPS", "3"))
    filter_stats(quality_filter_pipeline(pages, policy)).collect()
    secs: list[float] = []
    for _ in range(reps):
        t0 = time.time()
        stats = filter_stats(quality_filter_pipeline(pages, policy)).collect()[0]
        secs.append(round(time.time() - t0, 3))
    sec = _median(secs)
    docs = stats["total_processed"]
    # Write-included variant: materializes scrubbed_text and the
    # drop_reason-partitioned parquet sink — the full production job.
    from fineweb_domain_analyzer_spark.plans.pipeline import write_pipeline_output

    out_dir = os.environ.get("BENCH_PIPELINE_OUT", "/tmp/fw_bench_pipe_out")
    write_pipeline_output(quality_filter_pipeline(pages, policy), out_dir)  # warm
    wsecs: list[float] = []
    for _ in range(reps):
        t0 = time.time()
        write_pipeline_output(quality_filter_pipeline(pages, policy), out_dir)
        wsecs.append(round(time.time() - t0, 3))
    wsec = _median(wsecs)
    # JVM-only variant: exact_domain=False swaps the urlparse-parity
    # Arrow UDF for the staged SQL domain path — the whole pipeline
    # becomes one UDF-free codegen stage. Quantifies the byte-parity
    # tax and the throughput available when strict reference parity
    # isn't required (labels are identical on well-formed URLs).
    from fineweb_domain_analyzer_spark.plans.pipeline import PipelineConfig

    jvm_cfg = PipelineConfig(exact_domain=False)
    filter_stats(quality_filter_pipeline(pages, policy, jvm_cfg)).collect()  # warm
    jsecs: list[float] = []
    for _ in range(reps):
        t0 = time.time()
        jstats = filter_stats(
            quality_filter_pipeline(pages, policy, jvm_cfg)
        ).collect()[0]
        jsecs.append(round(time.time() - t0, 3))
    jsec = _median(jsecs)
    return {
        "docs": int(docs),
        "sec": sec,
        "docs_per_sec": round(docs / sec, 1),
        "kept": int(stats["filtered_kept"]),
        "samples_sec": secs,
        "write_sec": wsec,
        "write_docs_per_sec": round(docs / wsec, 1),
        "write_samples_sec": wsecs,
        "jvm_only_sec": jsec,
        "jvm_only_docs_per_sec": round(int(jstats["total_processed"]) / jsec, 1),
        "jvm_only_samples_sec": jsecs,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from fineweb_domain_analyzer_spark.session import get_spark

    spark = get_spark(
        app_name="fineweb-spark-bench",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8)),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        timings = _run(spark, sf_dir)
        pipe = _run_pipeline(spark)
    finally:
        spark.stop()
    total = round(sum(timings.values()) + pipe["sec"], 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline query suite + end-to-end quality-filter pipeline",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "pipeline": pipe,
            }
        )
    )


if __name__ == "__main__":
    main()
