"""spark-submit entry point for the quality-filter pipeline.

Cluster usage (north rule: packaged for --py-files, resumable):

    cd repo && zip -r fineweb_spark.zip fineweb_domain_analyzer_spark
    spark-submit --py-files fineweb_spark.zip \
        fineweb_domain_analyzer_spark/job.py \
        --pages <parquet-or-iceberg-path> \
        --policy <policy-parquet> \
        --output <out-path> \
        --manifest <checkpoint.json> \
        [--splits <comma-separated split keys>] \
        [--synth-rows N]   # synthesize deterministic input instead

The job is batch + idempotent: input is processed in named splits,
each committed via dynamic-partition overwrite and recorded in the
manifest (plans/checkpoint.py). Re-running after a crash reprocesses
at most the one uncommitted split.

The run report (one JSON line) is collected in the same pass that
writes: each split's write carries one ``Observation`` counting rows,
kept rows and rows per ``drop_reason``, and those counts are recorded
with the split in the manifest, in the same atomic replace. The report
sums them over every committed split, so it covers splits committed by
earlier runs without rescanning the output. A split committed by a
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

from pyspark.sql import Column
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.sqltext import sql_ident, sql_lit
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


def split_stats() -> list[Column]:
    """The per-split counts observed on each split's write: ``rows``
    plus one count per drop_reason. Observed metrics are merged from the
    write's successful tasks only, so a retried task is not counted
    twice."""
    return [F.expr("count(1) AS rows")] + [
        F.expr(f"count_if(drop_reason = {sql_lit(r)}) AS {sql_ident(r)}")
        for r in DROP_REASONS
    ]


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
    p.add_argument("--splits", default="all", help="comma-separated split keys")
    p.add_argument("--synth-rows", type=int, default=0, help="synthesize input")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from fineweb_domain_analyzer_spark.session import get_spark_owned

    spark, created = get_spark_owned(
        app_name="fineweb-quality-filter", master=args.master
    )
    t0 = time.time()

    def bucket_split(df, split):
        """split key = stable bucket of url → disjoint restartable units."""
        if split == "all":
            return df
        n = 16
        return df.filter(F.pmod(F.xxhash64("url"), F.lit(n)) == int(split))

    if args.synth_rows:
        policy = synth_policy_for_domains(spark, 2000)

        def load_split(spark_, split):
            return bucket_split(
                synth_pages(spark_, args.synth_rows, n_domains=2000, seed=42), split
            )

    else:
        # the policy dimension's schema is fixed; giving it skips the
        # Spark job that would infer it from the parquet footers
        policy = spark.read.schema(DOMAIN_POLICY).parquet(args.policy)

        def load_split(spark_, split):
            return bucket_split(spark_.read.parquet(args.pages), split)

    def process(spark_, split):
        pages = load_split(spark_, split)
        return quality_filter_pipeline(pages, policy, PipelineConfig())

    cp = Checkpointer(args.manifest)
    splits = args.splits.split(",")
    done = run_resumable(
        spark, splits, process, args.output, cp,
        split_col=SPLIT_COL, split_stats=split_stats(),
    )
    report = run_report(spark, cp, args.output)
    sec = time.time() - t0
    print(
        json.dumps(
            {
                "splits_processed": done,
                **report,
                "wall_sec": round(sec, 2),
                "docs_per_sec": round(report["total"] / sec, 1),
            }
        )
    )
    if created:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
