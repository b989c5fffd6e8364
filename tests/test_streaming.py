"""Structured Streaming ingest: incremental exactly-once runs, batch
equivalence, watermark dedup, windowed metrics.

The correctness bar for streaming is *batch equivalence*: the same
input through readStream + AvailableNow must produce exactly the rows
and labels the batch pipeline produces — streaming is an execution
mode, not different semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline
from fineweb_domain_analyzer_spark.sources.pages import (
    synth_pages,
    synth_policy_for_domains,
)
from fineweb_domain_analyzer_spark.streaming import (
    dedup_stream,
    read_pages_stream,
    run_incremental,
    streaming_drop_reason_counts,
)

N_DOMAINS = 50


def _land(spark, in_dir: str, n: int, seed: int, start: int = 0) -> None:
    """Drop one batch of pages as a new file set in the landing dir.

    ``start`` keeps url spaces of successive drops disjoint (urls embed
    the row id), so per-url equivalence joins below stay 1:1."""
    synth_pages(
        spark, n, n_domains=N_DOMAINS, seed=seed, partitions=1, start=start
    ).write.mode("append").parquet(in_dir)


def test_incremental_ingest_exactly_once_and_batch_equivalent(spark, tmp_path):
    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    policy = synth_policy_for_domains(spark, N_DOMAINS)

    _land(spark, in_dir, 300, seed=1)
    r1 = run_incremental(spark, in_dir, out_dir, ckpt, policy)
    assert r1["rows"] == 300

    # nothing new landed → the checkpoint's file log skips everything
    r2 = run_incremental(spark, in_dir, out_dir, ckpt, policy)
    assert r2["rows"] == 0

    # a second dump lands → only ITS rows are processed
    _land(spark, in_dir, 200, seed=2, start=300)
    r3 = run_incremental(spark, in_dir, out_dir, ckpt, policy)
    assert r3["rows"] == 200

    out = spark.read.parquet(out_dir)
    assert out.count() == 500

    # batch equivalence: same input through the batch pipeline yields the
    # same (url → keep, drop_reason) labeling
    batch = quality_filter_pipeline(spark.read.parquet(in_dir), policy)
    joined = out.select("url", "keep", "drop_reason").join(
        batch.select(
            "url",
            F.col("keep").alias("b_keep"),
            F.col("drop_reason").alias("b_reason"),
        ),
        "url",
    )
    assert joined.count() == 500
    mismatches = joined.filter(
        (F.col("keep") != F.col("b_keep"))
        | (F.col("drop_reason") != F.col("b_reason"))
    ).count()
    assert mismatches == 0
    # partitioned sink: reason-level partition pruning works
    assert (
        out.filter(F.col("drop_reason") == "kept").count()
        == batch.filter(F.col("keep")).count()
    )


def test_incremental_counts_survive_recent_progress_cap(spark, tmp_path):
    """ADVICE r3 regression: query.recentProgress is capped at
    spark.sql.streaming.numRecentProgressUpdates (~100); with
    maxFilesPerTrigger and a longer backlog the old implementation
    undercounted. Shrink the cap to 2, force 6 micro-batches, and
    assert the listener-based count still sees every row."""
    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    policy = synth_policy_for_domains(spark, N_DOMAINS)
    for i in range(6):  # 6 separate files → 6 micro-batches at 1 file/trigger
        _land(spark, in_dir, 40, seed=10 + i, start=40 * i)

    old_cap = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    try:
        r = run_incremental(
            spark, in_dir, out_dir, ckpt, policy, max_files_per_trigger=1
        )
    finally:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", old_cap)
    assert r["rows"] == 240
    assert r["batches"] == 6
    assert spark.read.parquet(out_dir).count() == 240


def test_streaming_dedup_within_watermark(spark, tmp_path):
    in_dir = str(tmp_path / "landing")
    # two identical file drops → every url appears twice in the source
    synth_pages(spark, 100, n_domains=N_DOMAINS, seed=3, partitions=1).write.mode(
        "append"
    ).parquet(in_dir)
    synth_pages(spark, 100, n_domains=N_DOMAINS, seed=3, partitions=1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = dedup_stream(read_pages_stream(spark, in_dir), keys=("url",))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_sink")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select count(*) c, count(distinct url) d from dedup_sink").first()
    assert got["c"] == 100
    assert got["d"] == 100


def test_windowed_drop_reason_counts_match_batch(spark, tmp_path):
    in_dir = str(tmp_path / "landing")
    policy = synth_policy_for_domains(spark, N_DOMAINS)
    _land(spark, in_dir, 400, seed=4)

    labeled = quality_filter_pipeline(read_pages_stream(spark, in_dir), policy)
    counts = streaming_drop_reason_counts(
        labeled, window_duration="1 hour", watermark_delay="0 seconds"
    )
    # complete mode: every window is emitted regardless of watermark
    # progress — right for a finite AvailableNow drain
    q = (
        counts.writeStream.format("memory")
        .queryName("win_sink")
        .trigger(availableNow=True)
        .outputMode("complete")
        .start()
    )
    q.awaitTermination()

    batch = (
        quality_filter_pipeline(spark.read.parquet(in_dir), policy)
        .groupBy(
            F.window("warc_ts", "1 hour").alias("win"), F.col("drop_reason")
        )
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.col("win.start").alias("window_start"),
            "drop_reason",
            "rows",
        )
    )
    stream_rows = {
        (r["window_start"], r["drop_reason"]): r["rows"]
        for r in spark.table("win_sink").collect()
    }
    batch_rows = {
        (r["window_start"], r["drop_reason"]): r["rows"] for r in batch.collect()
    }
    assert stream_rows == batch_rows
    assert sum(batch_rows.values()) == 400


def test_new_gates_streaming_batch_equivalent(spark, tmp_path):
    """The round-5 opt-in gates (page-type, doc-shape) are pure codegen
    column work inside the shared plan, so they must label identically
    under Structured Streaming — per-url equivalence, gates ON."""
    from fineweb_domain_analyzer_spark.plans.pipeline import PipelineConfig

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    policy = synth_policy_for_domains(spark, N_DOMAINS)
    _land(spark, in_dir, 400, seed=9)

    cfg = PipelineConfig(
        scrub=False,
        enforce_doc_shape=True,
        drop_page_types=("login_wall", "error_page"),
        # the synthetic corpus vocabulary (real-phrase defaults can't
        # fire here; rule machinery is what's under test)
        page_type_rules=[
            ("error_page", "large home"),
            ("login_wall", "search service"),
        ],
    )
    r = run_incremental(spark, in_dir, out_dir, ckpt, policy, cfg=cfg)
    assert r["rows"] == 400

    out = spark.read.parquet(out_dir)
    batch = quality_filter_pipeline(spark.read.parquet(in_dir), policy, cfg)
    joined = (
        out.select("url", "keep", "drop_reason", "page_type")
        .join(
            batch.select(
                "url",
                F.col("keep").alias("b_keep"),
                F.col("drop_reason").alias("b_reason"),
                F.col("page_type").alias("b_ptype"),
            ),
            "url",
        )
    )
    assert joined.count() == 400
    assert (
        joined.filter(
            (F.col("keep") != F.col("b_keep"))
            | (F.col("drop_reason") != F.col("b_reason"))
            | (F.col("page_type") != F.col("b_ptype"))
        ).count()
        == 0
    )
    # the page-type gate actually fires on this corpus (the doc-shape
    # gate is exercised for plan parity; single-line synthetic prose
    # never trips it — its firing behavior is pinned by
    # tests/test_doc_shape.py)
    reasons = {
        r["drop_reason"]
        for r in out.select("drop_reason").distinct().collect()
    }
    assert "page_type_filtered" in reasons
