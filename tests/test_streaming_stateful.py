"""applyInPandasWithState: running domain stats accumulate across
micro-batches AND across separate AvailableNow runs (state resumes
from the checkpoint), and the running totals match the batch
aggregation over everything ingested so far."""

from __future__ import annotations

from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.filtering import with_domain
from fineweb_domain_analyzer_spark.sources.pages import synth_pages
from fineweb_domain_analyzer_spark.streaming import read_pages_stream
from fineweb_domain_analyzer_spark.streaming.stateful import streaming_domain_stats

N_DOMAINS = 20


def _run_once(spark, in_dir, out_dir, ckpt):
    """One AvailableNow drain of the stateful query; update-mode output
    lands in parquet via foreachBatch (one file set per batch)."""
    stats = streaming_domain_stats(read_pages_stream(spark, in_dir))

    def _sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        stats.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()


def _batch_truth(spark, in_dir):
    pages = spark.read.parquet(in_dir)
    return {
        r["domain"]: (r["count"], r["first_seen"], r["last_seen"])
        for r in with_domain(pages)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
        )
        .collect()
    }


def _latest_state(spark, out_dir):
    """Last emitted row per domain (highest batch_id wins)."""
    out = spark.read.parquet(out_dir)
    rows = out.orderBy("batch_id").collect()
    latest = {}
    for r in rows:
        latest[r["domain"]] = (r["count"], r["first_seen"], r["last_seen"])
    return latest


def test_state_accumulates_across_runs(spark, tmp_path):
    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synth_pages(spark, 200, n_domains=N_DOMAINS, seed=7, partitions=1).write.mode(
        "append"
    ).parquet(in_dir)
    _run_once(spark, in_dir, out_dir, ckpt)
    assert _latest_state(spark, out_dir) == _batch_truth(spark, in_dir)

    # second dump → second run resumes state from the checkpoint: the
    # emitted counts must be CUMULATIVE, equal to a batch agg over the
    # union of both dumps — not a restart at the new files. Two of its
    # urls sit outside the JVM domain expression's safe subset: urlparse
    # strips the leading space and the tab, so both belong to
    # example.com in the batch domain
    messy = F.when(F.col("url").endswith("/p/348"), " http://Example.com/x")
    messy = messy.when(F.col("url").endswith("/p/349"), "http://exam\tple.com/y")
    synth_pages(
        spark, 150, n_domains=N_DOMAINS, seed=8, partitions=1, start=200
    ).withColumn("url", messy.otherwise(F.col("url"))).write.mode(
        "append"
    ).parquet(in_dir)
    _run_once(spark, in_dir, out_dir, ckpt)
    truth = _batch_truth(spark, in_dir)
    latest = _latest_state(spark, out_dir)
    # domains untouched by batch 2 keep their batch-1 stats; every
    # domain emitted so far must match the batch truth
    assert latest == truth
    assert truth["example.com"][0] == 2
    total = sum(c for c, _, _ in latest.values())
    assert total == 350
