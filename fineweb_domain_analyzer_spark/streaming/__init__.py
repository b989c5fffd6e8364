"""Streaming — incremental ingest on top of the batch pipeline.

The reference is batch-only: its README's "streaming" means
constant-memory file iteration (/root/reference/fineweb_analyzer.py:
100-113), not Structured Streaming, and the north rule specifies a
resumable spark-submit BATCH job (resume = snapshot checkpointing, see
plans/checkpoint.py — not streaming state). So nothing here is parity
surface; it is the continuous-ingest extension a production corpus
pipeline runs between full batch rebuilds.

``pipeline`` lifts the batch stages (pure DataFrame→DataFrame
transforms, plans/pipeline.py) onto ``spark.readStream``:

* AvailableNow incremental runs — process only files that landed since
  the last run, exactly-once at file granularity via the checkpoint.
* Stream-static broadcast join against the domain-policy dimension
  (refreshes per micro-batch — a slowly-changing dimension).
* Watermark-bounded streaming exact dedup
  (``dropDuplicatesWithinWatermark`` — state is O(horizon), never
  O(corpus)).
* Event-time windowed drop-reason metrics with a watermark.
* A custom stateful operator (``stateful.streaming_domain_stats``):
  running per-domain stats via ``applyInPandasWithState``, state
  resuming across AvailableNow runs from the checkpoint.
* A corpus-drift monitor (``monitor.streaming_category_counts``):
  watermark-bounded windowed category histograms, scored per finalized
  window against a fixed baseline with the batch drift family's
  JS machinery (operators/drift.py:js_vs_baseline).

Correctness story: streaming output must equal the batch pipeline on
the same input (tests/test_streaming.py asserts label equivalence
per url) — streaming is an execution mode, not different semantics.
"""

from fineweb_domain_analyzer_spark.streaming.pipeline import (  # noqa: F401
    PAGES_SCHEMA,
    dedup_stream,
    read_pages_stream,
    run_incremental,
    streaming_drop_reason_counts,
)
from fineweb_domain_analyzer_spark.streaming.monitor import (  # noqa: F401
    category_window_counts,
    streaming_category_counts,
)
from fineweb_domain_analyzer_spark.streaming.stateful import (  # noqa: F401
    streaming_domain_stats,
)
