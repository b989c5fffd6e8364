"""Checkpoint/resume — batch idempotence over snapshot-committed outputs.

North-rule requirement: "resumable from the last committed snapshot
checkpoint". The reference has no resume at all (a crash reprocesses
everything). Design (SURVEY §7.5):

* Work is partitioned by an INPUT SPLIT KEY (e.g. source file path, or
  a stable bucket of url) — the unit of atomic progress.
* Each successful unit commit appends its split key to a manifest,
  together with the counts observed while the unit was written
  (``run_resumable``'s ``split_stats``), if any.
  With Iceberg, the manifest is the snapshot summary property
  ``processed-splits`` (atomic with the data commit). Without Iceberg
  (this sandbox), the manifest is a JSON file written AFTER the unit's
  parquet write succeeds — same protocol, weaker atomicity, clearly
  flagged below.
* Resume = anti-join pending splits against the manifest, process the
  remainder. Exactly-once comes from overwrite-by-split-key
  (dynamic partition overwrite), making re-commits idempotent.

This module is deliberately engine-level (paths + DataFrames), not
tied to one catalog: `IcebergCheckpointer` overrides commit/load to
use snapshot properties when an Iceberg catalog is configured.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class Checkpointer:
    """File-manifest checkpointer (parquet/local mode).

    Commit protocol: write unit output with dynamic partition overwrite
    keyed by the split column, then record the split in the manifest.
    A crash between the two steps re-processes one unit — idempotent
    because the overwrite replaces, never appends.
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

    def mark_processed(self, split: str, counts: dict | None = None) -> None:
        manifest = self._load()
        splits = set(manifest["splits"]) | {split}
        recorded = manifest.get("counts", {})
        if counts is None:
            recorded.pop(split, None)
        else:
            recorded[split] = counts
        self._write_manifest(splits, recorded)

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
    process_split,  # (spark, split) -> DataFrame
    out_path: str,
    checkpointer: Checkpointer,
    split_col: str = "_split",
    split_stats: list[Column] | None = None,
) -> list[str]:
    """Process pending splits one unit at a time with idempotent
    overwrite-by-split commits. Returns the splits processed this run.

    ``split_stats`` (aggregate Columns) are observed on each split's
    write — one ``Observation`` per split, collected in the same pass
    that writes — and recorded with the split in the manifest
    (``Checkpointer.split_counts``). Observed metrics are merged from
    the write's successful tasks only, so a retried task is not
    counted twice.

    At cluster scale each 'split' is typically a batch of hundreds of
    files — unit granularity trades resume precision against commit
    overhead; snapshot-per-unit keeps Iceberg metadata churn bounded.
    """
    # scope the dynamic-overwrite mode to this run and restore the
    # caller's setting — leaking it would change the semantics of every
    # later partitioned overwrite in the shared session
    _key = "spark.sql.sources.partitionOverwriteMode"
    _prev = spark.conf.get(_key, None)
    spark.conf.set(_key, "dynamic")
    try:
        done_now = []
        for split in checkpointer.pending(splits):
            df = process_split(spark, split).withColumn(split_col, F.lit(split))
            obs = None
            if split_stats:
                obs = Observation()
                df = df.observe(obs, *split_stats)
            (
                df.write.mode("overwrite")
                .partitionBy(split_col)
                .parquet(out_path)
            )
            checkpointer.mark_processed(split, obs.get if obs else None)
            done_now.append(split)
        return done_now
    finally:
        if _prev is None:
            spark.conf.unset(_key)
        else:
            spark.conf.set(_key, _prev)


class IcebergCheckpointer(Checkpointer):
    """Table-property-backed manifest for Iceberg catalogs.

    The manifest lives in the table property ``processed-splits``
    (public Iceberg SQL: ``ALTER TABLE … SET TBLPROPERTIES``), written
    by ``mark_processed`` immediately after each unit's data commit and
    read back by ``processed_splits`` — so write and read use the same
    store, and resume works without any external file. A crash between
    the data commit and the property update reprocesses exactly one
    unit, which the dynamic-partition-overwrite commit makes idempotent
    (same window as the file-manifest protocol above).

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

    def mark_processed(self, split: str, counts: dict | None = None) -> None:
        """The catalog branch records the split only, not its
        ``counts``."""
        if not self._have_iceberg:
            return super().mark_processed(split, counts)
        splits = sorted(self.processed_splits() | {split})
        payload = json.dumps(splits).replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {self.table} SET TBLPROPERTIES ('{self.PROP}' = '{payload}')"
        )
