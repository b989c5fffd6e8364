"""spark-submit entry point for the quality-filter pipeline.

Cluster usage (north rule: packaged for --py-files, resumable):

    cd repo && zip -r fineweb_spark.zip fineweb_domain_analyzer_spark
    spark-submit --py-files fineweb_spark.zip \
        fineweb_domain_analyzer_spark/job.py \
        --pages <parquet-or-iceberg-path> \
        --policy <policy-parquet> \
        --output <out-path> \
        --manifest <checkpoint.json> \
        [--splits all | <comma-separated buckets 0-15>] \
        [--synth-rows N]   # synthesize deterministic input instead

The job is batch + idempotent: ``--splits`` is either ``all`` or
distinct url-hash buckets 0-15. Every pending split is processed in one
pass — one scan, one write partitioned by split under dynamic-partition
overwrite — and recorded in the manifest in one commit
(plans/checkpoint.py). Re-running after a crash reprocesses at most the
one uncommitted pass.

The run report (one JSON line) is collected in the same pass that
writes: the write carries one ``Observation`` counting rows, kept rows
and rows per ``drop_reason`` for each split, and those counts are
recorded with the splits in the manifest, in the same atomic replace.
The report sums them over every committed split, so it covers splits
committed by earlier runs without rescanning the output. A split committed by a
manifest written before counts were recorded is counted by one
read-back of just those splits.

Local smoke:
    python -m fineweb_domain_analyzer_spark.job --synth-rows 50000 \
        --output /tmp/fw_out --manifest /tmp/fw_manifest.json
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from collections import Counter

from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.sqltext import sql_lit
from fineweb_domain_analyzer_spark.operators.filtering import REASON_KEPT
from fineweb_domain_analyzer_spark.operators.metrics import (
    drop_reason_histogram,
    keep_ratio,
)
from fineweb_domain_analyzer_spark.plans.checkpoint import Checkpointer, run_resumable
from fineweb_domain_analyzer_spark.plans.pipeline import (
    DROP_REASONS,
    PipelineConfig,
    quality_filter_pipeline,
)
from fineweb_domain_analyzer_spark.schema import DOMAIN_POLICY
from fineweb_domain_analyzer_spark.sources.pages import (
    synth_pages,
    synth_policy_for_domains,
)

SPLIT_COL = "_split"
BUCKETS = {str(i) for i in range(16)}


def split_stats() -> dict[str, str]:
    """The per-split counts observed on the write, as SQL row predicates:
    ``rows`` plus one count per drop_reason."""
    return {"rows": "true"} | {r: f"drop_reason = {sql_lit(r)}" for r in DROP_REASONS}


def run_report(spark, cp: Checkpointer, output: str) -> dict:
    """Totals over every committed split: the counts recorded in the
    manifest, plus one read-back restricted to the committed splits that
    have none (manifests written before counts were recorded)."""
    recorded = cp.split_counts()
    total = sum(c["rows"] for c in recorded.values())
    hist: Counter = Counter()
    for counts in recorded.values():
        hist.update({r: n for r, n in counts.items() if r != "rows" and n})
    legacy = sorted(cp.processed_splits() - set(recorded))
    if legacy:
        written = spark.read.parquet(output).filter(
            F.col(SPLIT_COL).cast("string").isin(*legacy)
        )
        read_back = {
            r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(written).collect()
        }
        total += sum(read_back.values())
        hist.update(read_back)
    kept = hist[REASON_KEPT]
    return {
        "total": total,
        "kept": kept,
        "excluded": total - kept,
        "keep_ratio": keep_ratio(kept, total),
        "drop_reason_histogram": dict(sorted(hist.items())),
        "lineage_partitions": len(recorded),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="fineweb quality-filter job")
    p.add_argument("--pages", help="input pages parquet/Iceberg path")
    p.add_argument("--policy", help="domain-policy parquet path")
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", required=True, help="checkpoint manifest path")
    p.add_argument("--splits", default="all", help="all, or comma-separated url buckets 0-15")
    p.add_argument("--synth-rows", type=int, default=0, help="synthesize input")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    splits = args.splits.split(",")
    scheme = {"all"} if splits == ["all"] else BUCKETS
    if len(set(splits)) < len(splits) or not scheme.issuperset(splits):
        p.error(f"--splits takes 'all' or distinct buckets 0-15, not {args.splits!r}")
    cp = Checkpointer(args.manifest)
    if other := cp.processed_splits() - scheme:
        p.error(f"{args.manifest} holds splits of another scheme: {sorted(other)}")

    from fineweb_domain_analyzer_spark.session import get_spark_owned

    spark, created = get_spark_owned(
        app_name="fineweb-quality-filter", master=args.master
    )
    t0 = time.time()

    # the policy dimension's schema is fixed; giving it skips the Spark
    # job that would infer it from the parquet footers
    policy = (
        synth_policy_for_domains(spark, 2000) if args.synth_rows
        else spark.read.schema(DOMAIN_POLICY).parquet(args.policy)
    )
    # split key: "all", or a stable bucket of url → disjoint units; under
    # "all" the routing filter folds to true and the plan is unchanged
    key = F.lit("all") if splits == ["all"] else (
        F.pmod(F.xxhash64("url"), F.lit(len(BUCKETS))).cast("string")
    )

    def process(spark_, pending):
        pages = (
            synth_pages(spark_, args.synth_rows, n_domains=2000, seed=42)
            if args.synth_rows else spark_.read.parquet(args.pages)
        )
        out = quality_filter_pipeline(
            pages.filter(key.isin(pending)), policy, PipelineConfig()
        )
        return out.withColumn(SPLIT_COL, key)

    done = run_resumable(
        spark, splits, process, args.output, cp,
        split_col=SPLIT_COL, split_stats=split_stats(),
    )
    report = {"splits_processed": done, **run_report(spark, cp, args.output)}
    sec = time.time() - t0
    report |= {"wall_sec": round(sec, 2), "docs_per_sec": round(report["total"] / sec, 1)}
    print(json.dumps(report))
    if created:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
