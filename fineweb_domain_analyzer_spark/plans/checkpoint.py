"""Checkpoint/resume — batch idempotence over snapshot-committed outputs.

North-rule requirement: "resumable from the last committed snapshot
checkpoint". The reference has no resume at all (a crash reprocesses
everything). Design (SURVEY §7.5):

* Work is partitioned by an INPUT SPLIT KEY (e.g. source file path, or
  a stable bucket of url) — the unit of lineage: one output partition
  and one manifest entry each.
* A run processes every pending split in ONE pass — one scan routes each
  row to its split's partition — and one manifest commit records them,
  with the counts observed while they were written, if any.
  With Iceberg, the manifest is the snapshot summary property
  ``processed-splits`` (atomic with the data commit). Without Iceberg
  (local mode), the manifest is a JSON file written AFTER the pass's
  parquet write succeeds — same protocol, weaker atomicity, clearly
  flagged below.
* Resume = anti-join pending splits against the manifest, process the
  remainder in one pass. A crash inside the pass re-runs the whole pass:
  resume precision traded for one scan and one commit per run.
  Exactly-once comes from overwrite-by-split-key (dynamic partition
  overwrite), making re-commits idempotent.

This module is deliberately engine-level (paths + DataFrames), not
tied to one catalog: `IcebergCheckpointer` overrides commit/load to
use snapshot properties when an Iceberg catalog is configured.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.sqltext import sql_ident, sql_lit


class Checkpointer:
    """File-manifest checkpointer (parquet/local mode).

    Commit protocol: write the pass's output with dynamic partition
    overwrite keyed by the split column, then record its splits in the
    manifest. A crash between the two steps re-processes the pass —
    idempotent because the overwrite replaces, never appends.
    """

    def __init__(self, manifest_path: str):
        self.manifest_path = manifest_path

    def _load(self) -> dict:
        if not os.path.exists(self.manifest_path):
            return {"splits": []}
        with open(self.manifest_path, encoding="utf-8") as f:
            return json.load(f)

    def processed_splits(self) -> set[str]:
        return set(self._load()["splits"])

    def split_counts(self) -> dict[str, dict]:
        """Counts recorded with each committed split (``run_resumable``'s
        ``split_stats``). A split committed without counts — or by a
        manifest written before counts were recorded, which holds only
        ``{"splits": [...]}`` — has no entry."""
        return self._load().get("counts", {})

    def _write_manifest(self, splits: set[str], counts: dict[str, dict]) -> None:
        """The ONE manifest commit path (tmp write + os.replace, atomic
        on POSIX) — ingest and compaction must share durability/format,
        so any future fsync/versioning change lands in both. A split's
        counts land in the same replace as the split itself, so a
        reader never sees one without the other."""
        d = os.path.dirname(self.manifest_path) or "."
        os.makedirs(d, exist_ok=True)
        manifest = {"splits": sorted(splits)}
        counts = {s: c for s, c in counts.items() if s in splits}
        if counts:
            manifest["counts"] = dict(sorted(counts.items()))
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)

    def mark_processed(self, splits: list[str], counts: dict | None = None) -> None:
        """Record ``splits``, with their ``counts`` keyed by split, in one
        manifest replace. A split given without counts keeps none."""
        manifest = self._load()
        recorded = manifest.get("counts", {})
        for split in splits:
            recorded.pop(split, None)
        recorded.update(counts or {})
        self._write_manifest(set(manifest["splits"]) | set(splits), recorded)

    def replace_splits(self, splits: set[str]) -> None:
        """Atomically REPLACE the manifest's split set (compaction:
        many ingested splits fold into one compacted split in a single
        os.replace — readers see either the old set or the new set,
        never a mix)."""
        self._write_manifest(splits, self.split_counts())

    def pending(self, all_splits: list[str]) -> list[str]:
        done = self.processed_splits()
        return [s for s in all_splits if s not in done]


def run_resumable(
    spark: SparkSession,
    splits: list[str],
    process,  # (spark, pending splits) -> DataFrame carrying split_col
    out_path: str,
    checkpointer: Checkpointer,
    split_col: str = "_split",
    split_stats: dict[str, str] | None = None,
) -> list[str]:
    """Process every pending split in ONE pass; return the splits
    processed this run.

    ``process(spark, pending)`` returns one frame holding only the
    pending splits' rows, each tagged with its split in ``split_col``.
    One ``partitionBy(split_col)`` write under dynamic partition
    overwrite replaces exactly those partitions, then one manifest
    commit records them all, whatever the number of splits. A crash
    inside the pass commits nothing, and the next run re-runs it.

    ``split_stats`` maps a count's name to a row predicate in SQL text.
    The write carries one ``Observation`` of one map column, split →
    ``named_struct`` of one ``count_if(split_col = split AND predicate)``
    per count (one SQL text: a 16-split pass has 144 counts), and each
    split's counts are recorded with it in the manifest
    (``Checkpointer.split_counts``). Observed metrics are merged from
    successful tasks only, so a retried task is not counted twice.
    """
    pending = checkpointer.pending(splits)
    if not pending:
        return []
    # scope the dynamic-overwrite mode to this run and restore the
    # caller's setting — leaking it would change the semantics of every
    # later partitioned overwrite in the shared session
    _key = "spark.sql.sources.partitionOverwriteMode"
    _prev = spark.conf.get(_key, None)
    spark.conf.set(_key, "dynamic")
    try:
        df = process(spark, pending)
        obs = Observation()
        if split_stats:
            df = df.observe(obs, F.expr("map(" + ", ".join(
                f"{sql_lit(split)}, named_struct(" + ", ".join(
                    f"{sql_lit(name)}, count_if("
                    f"{sql_ident(split_col)} = {sql_lit(split)} AND ({pred}))"
                    for name, pred in split_stats.items()
                ) + ")"
                for split in pending
            ) + ") AS counts"))
        df.write.mode("overwrite").partitionBy(split_col).parquet(out_path)
        counts = split_stats and {s: c.asDict() for s, c in obs.get["counts"].items()}
        checkpointer.mark_processed(pending, counts)
        return pending
    finally:
        if _prev is None:
            spark.conf.unset(_key)
        else:
            spark.conf.set(_key, _prev)


class IcebergCheckpointer(Checkpointer):
    """Table-property-backed manifest for Iceberg catalogs.

    The manifest lives in the table property ``processed-splits``
    (public Iceberg SQL: ``ALTER TABLE … SET TBLPROPERTIES``), written
    by ``mark_processed`` immediately after each pass's data commit and
    read back by ``processed_splits`` — so write and read use the same
    store, and resume works without any external file. A crash between
    the data commit and the property update reprocesses the pass,
    idempotently (same window as the file-manifest protocol above).

    Strictly-atomic variant for engines that expose it: attach the
    manifest as a *snapshot summary* property in the same commit
    (``df.writeTo(t).option("snapshot-property.processed-splits", …)``)
    — zero reprocess window, at the cost of coupling the checkpointer
    into the write call. Falls back to the file manifest when no
    Iceberg catalog is present so local tests exercise the same
    control flow.

    SINGLE-WRITER ONLY (both variants): ``mark_processed`` is a
    read-modify-write of the property with no compare-and-swap, so two
    drivers resuming the same table concurrently can lose each other's
    committed splits (the file-manifest path has the same constraint).
    Concurrent resume requires the snapshot-summary variant above —
    Iceberg's optimistic commit then detects the conflicting snapshot
    and retries — or an external lock / catalog-level CAS.
    """

    PROP = "processed-splits"

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        manifest_path: str,
        assume_iceberg: bool | None = None,
    ):
        """``assume_iceberg``: None auto-detects via the ``.snapshots``
        metadata table; True/False force the branch. Forcing True is for
        catalogs that serve the TBLPROPERTIES surface but not the
        ``.snapshots`` probe (e.g. a plain session-catalog table used as
        the property store, which is also how the jar-less test
        environment exercises the catalog branch end-to-end)."""
        super().__init__(manifest_path)
        self.spark = spark
        self.table = table
        self._have_iceberg = (
            self._detect() if assume_iceberg is None else assume_iceberg
        )

    def _detect(self) -> bool:
        try:
            self.spark.sql(f"SELECT * FROM {self.table}.snapshots LIMIT 1")
            return True
        except Exception:
            return False

    def processed_splits(self) -> set[str]:
        if not self._have_iceberg:
            return super().processed_splits()
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.table}").collect()
        props = {r["key"]: r["value"] for r in rows}
        return set(json.loads(props.get(self.PROP, "[]")))

    def mark_processed(self, splits: list[str], counts: dict | None = None) -> None:
        """The catalog branch records the splits only, not their
        ``counts``, in one ``ALTER TABLE``."""
        if not self._have_iceberg:
            return super().mark_processed(splits, counts)
        payload = json.dumps(sorted(self.processed_splits() | set(splits)))
        payload = payload.replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {self.table} SET TBLPROPERTIES ('{self.PROP}' = '{payload}')"
        )
