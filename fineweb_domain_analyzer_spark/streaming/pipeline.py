"""Structured Streaming ingest for the quality-filter pipeline.

The reference is batch-only (see this package's ``__init__`` docstring:
its "streaming" is constant-memory file iteration,
/root/reference/fineweb_analyzer.py:100-113), and the north rule asks
for a resumable batch job — ``plans/checkpoint.py`` covers that. This
module is the *incremental-ingest* extension a production web corpus
actually runs: Common-Crawl-style dumps land as new files in a
directory (or new Iceberg snapshots), and only the unprocessed files
should flow through the pipeline.

Design — everything is a lift of the existing batch plan:

* The pipeline stages in ``plans/pipeline.py`` are pure
  DataFrame→DataFrame transforms, so they apply to a ``readStream``
  frame unchanged; the domain-policy dimension joins as a
  **stream-static broadcast join** (policy is re-read per micro-batch,
  so a slowly-changing dimension refreshes without restarting).
* ``Trigger.AvailableNow`` turns the stream into an incremental batch
  job: process everything new, then stop. Re-running after more files
  land processes ONLY the new files — the file-source log in the
  checkpoint records what was seen. This is the "resumable from the
  last committed snapshot" contract (BASELINE.json north_rule) with
  exactly-once file-level semantics the manual manifest in
  ``plans/checkpoint.py`` provides for plain batch.
* The sink is a ``drop_reason``-partitioned parquet/Iceberg append with
  a write-ahead commit log in the checkpoint — a crashed run replays
  its last micro-batch idempotently.
* Streaming exact dedup (``dedup_stream``) uses
  ``dropDuplicatesWithinWatermark``: state is bounded by the watermark
  horizon instead of growing with the corpus — the only way per-key
  state survives 10^12 documents.
* Windowed lineage metrics (``streaming_drop_reason_counts``) are the
  per-partition metrics of the batch job re-expressed as event-time
  windows with a watermark, so late-arriving WARC records fold into
  the right window and state is evictable.

At cluster scale: one micro-batch = one ordinary Spark job over the new
files, so all batch-path reasoning (broadcast policy join, zero-shuffle
map stage, skew salting downstream) carries over; state stores
(dedup/windows) are RocksDB-backed per-partition on real clusters
(``spark.sql.streaming.stateStore.providerClass``), sized by the
watermark, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.listener import StreamingQueryListener

from fineweb_domain_analyzer_spark.plans.pipeline import (
    PipelineConfig,
    quality_filter_pipeline,
)

#: Canonical pages schema (BASELINE.json input_hint). Streaming file
#: sources require an explicit schema — inference would re-list the
#: directory on the driver and can silently widen types between runs.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def read_pages_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of page files.

    ``max_files_per_trigger`` bounds micro-batch size so one giant dump
    drop doesn't become one giant batch (memory + straggler control at
    scale); with AvailableNow the backlog is still fully drained, just
    in several batches.
    """
    reader = spark.readStream.format(fmt).schema(schema or PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def dedup_stream(
    df: DataFrame,
    keys: tuple[str, ...] = ("url",),
    event_time_col: str = "warc_ts",
    delay: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state.

    Keeps the first row per key seen within the watermark horizon.
    ``dropDuplicatesWithinWatermark`` evicts key state once the
    watermark passes, so memory is O(keys per horizon), not O(corpus) —
    plain ``dropDuplicates`` on a stream grows state forever and dies
    at web scale. Cross-horizon duplicates are handled downstream by
    the batch dedup family (operators/dedup.py)."""
    return df.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def streaming_drop_reason_counts(
    labeled: DataFrame,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
    event_time_col: str = "warc_ts",
) -> DataFrame:
    """Event-time windowed lineage metrics (rows per drop_reason per
    window). The watermark lets Spark finalize + evict windows once
    event time moves past them — append-mode emission, bounded state."""
    return (
        labeled.withWatermark(event_time_col, watermark_delay)
        .groupBy(
            F.window(F.col(event_time_col), window_duration).alias("win"),
            F.col("drop_reason"),
        )
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "drop_reason",
            "rows",
        )
    )


class _ProgressAccumulator(StreamingQueryListener):
    """StreamingQueryListener that accumulates per-batch input-row
    counts for every query — unlike ``query.recentProgress`` it is not
    capped at ``numRecentProgressUpdates`` entries, so runs with huge
    micro-batch backlogs count correctly.

    Keys on ``(query_id, batch_id)`` rather than binding to one query
    up-front: the listener is registered BEFORE ``start()`` so no
    event can be missed, and the caller filters by the query id it
    learns after start. Events arrive on a listener-bus thread, hence
    the lock + terminated latch."""

    def __init__(self) -> None:
        import threading

        self._rows: dict[tuple[str, int], int] = {}
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._cv:
            self._rows[(str(p.id), int(p.batchId))] = int(p.numInputRows)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    # --- caller side ---
    def rows_for(self, query_id: str) -> dict[int, int]:
        with self._cv:
            return {
                b: n for (q, b), n in self._rows.items() if q == query_id
            }

    def wait_terminated(self, query_id: str, timeout: float) -> bool:
        import time

        deadline = time.monotonic() + timeout
        with self._cv:
            while query_id not in self._terminated:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                self._cv.wait(remaining)
            return True


def run_incremental(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    policy: DataFrame,
    cfg: PipelineConfig | None = None,
    dedup: bool = False,
    fmt_in: str = "parquet",
    fmt_out: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> dict:
    """One AvailableNow incremental run: drain new files, write, stop.

    Returns ``{"rows": n, "batches": b}`` — rows processed THIS run
    (0 when nothing new landed). The checkpoint's file-source log +
    sink commit log make re-runs exactly-once at file granularity:
    the production cron/orchestrator just re-invokes this after every
    dump drop.

    The batch ``quality_filter_pipeline`` runs on the stream unchanged.
    ``policy`` stays a static (batch) DataFrame, so Spark plans a
    stream-static join and re-evaluates the policy side each
    micro-batch: the broadcast stays fresh if the policy table is
    overwritten between triggers. Every pipeline stage is stateless map
    work, so the streaming plan is shuffle-free like the batch plan.

    Counting: ``query.recentProgress`` is capped (default ~100
    entries, ``spark.sql.streaming.numRecentProgressUpdates``), so a
    backlog of >100 micro-batches (small ``max_files_per_trigger`` ×
    big dump) would undercount (ADVICE r3). A
    ``StreamingQueryListener`` sees EVERY progress event regardless of
    the cap, so counts come from the listener, with recentProgress
    only as a belt-and-braces fallback for the (unobserved) case of
    listener delivery failing entirely."""
    acc = _ProgressAccumulator()
    spark.streams.addListener(acc)
    try:
        pages = read_pages_stream(
            spark, in_path, fmt=fmt_in, max_files_per_trigger=max_files_per_trigger
        )
        if dedup:
            pages = dedup_stream(pages)
        labeled = quality_filter_pipeline(pages, policy, cfg)
        query = (
            labeled.writeStream.format(fmt_out)
            .option("checkpointLocation", checkpoint)
            .option("path", out_path)
            .partitionBy("drop_reason")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        query.awaitTermination()
        qid = str(query.id)
        # listener events are delivered on a separate thread — wait for
        # this query's terminated event so all progress is flushed.
        acc.wait_terminated(qid, timeout=30.0)
        seen = acc.rows_for(qid)
        # Merge recentProgress unconditionally (keyed by batchId, so
        # double-counting is impossible): if listener delivery lagged
        # past the wait timeout, the batches it missed are the LATEST
        # ones — exactly the window recentProgress retains — so the
        # union is complete whenever either source is.
        for p in query.recentProgress:
            seen.setdefault(int(p["batchId"]), int(p["numInputRows"]))
        rows = sum(seen.values())
        batches = sum(1 for v in seen.values() if v > 0)
        return {"rows": rows, "batches": batches}
    finally:
        spark.streams.removeListener(acc)
