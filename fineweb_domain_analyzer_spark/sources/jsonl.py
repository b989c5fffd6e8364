"""JSONL compatibility ingest — S3/S4/S5 of SURVEY.md §2.1.

The reference reads JSONL line-by-line, skipping blank lines and
logging/skipping malformed JSON (fineweb_analyzer.py:165-196, 444-477),
and its filter stage writes the ORIGINAL input line — not a
re-serialized record — to the kept/excluded outputs (lines 460-467).
That raw-line passthrough is what makes output text byte-identical per
url, so the engine's compat reader keeps the raw line as a column:

    spark.read.text → filter(blank) → from_json(value, schema)

``from_json`` is PERMISSIVE: malformed lines parse to a null struct,
which we drop (reference logs+skips them) while counting them for
lineage.

At scale this is a plain distributed text scan — splittable by line,
no shuffle; schema is applied post-split so Catalyst still prunes any
unreferenced struct fields.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from fineweb_domain_analyzer_spark.schema import JSONL_RECORD

_CORRUPT = "_corrupt_record"


def read_jsonl_with_raw(
    spark: SparkSession, path: str, schema: StructType = JSONL_RECORD
) -> DataFrame:
    """Read JSONL keeping the raw line. Columns: ``raw`` (the exact
    input line, newline-stripped by the text source) + all schema
    fields flattened. Blank lines are dropped (reference line 167/449);
    malformed lines are dropped (reference logs+skips, 194-196/475-477).

    Malformed detection uses from_json's corrupt-record column: a
    PERMISSIVE parse of a half-broken line otherwise yields an all-null
    struct that is indistinguishable from a legitimately sparse record.
    """
    raw = spark.read.text(path).withColumnRenamed("value", "raw")
    nonblank = raw.filter(F.length(F.trim(F.col("raw"))) > 0)
    schema_with_corrupt = StructType(
        list(schema.fields) + [StructField(_CORRUPT, StringType())]
    )
    parsed = nonblank.withColumn(
        "_rec",
        F.from_json(
            F.col("raw"),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
        ),
    )
    ok = parsed.filter(
        F.col("_rec").isNotNull() & F.col(f"_rec.{_CORRUPT}").isNull()
    )
    return ok.select("raw", "_rec.*").drop(_CORRUPT)


def write_jsonl_passthrough(
    labeled: DataFrame, out_dir: str, max_records_per_file: int | None = None
) -> None:
    """Dual sink (S7): one pass, partitioned by keep — each row's raw
    line is written verbatim, preserving byte-identity.

    ``max_records_per_file`` bounds output shard size (Spark's
    maxRecordsPerFile: a task rolls to a new file at the cap). At
    100 TB the input task layout says nothing about what a sane output
    shard is — downstream consumers want bounded files regardless of
    how fat the write-stage partitions were, and the cap delivers that
    without a repartition (no extra shuffle)."""
    w = labeled.select("keep", "raw").write.mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy("keep").text(out_dir)
