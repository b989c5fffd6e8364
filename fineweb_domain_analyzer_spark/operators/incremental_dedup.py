"""Incremental cross-dump deduplication.

A web corpus is curated dump by dump (CC-MAIN-2024-10, -18, ...); each
new dump must be deduplicated against EVERYTHING already kept without
recomputing the old corpus. The standard trick: persist a compact
dedup index of the kept corpus — exact text hashes and MinHash
signatures — and dedup a new dump by joining its (freshly computed)
hashes/signatures against the stored index. The old corpus is never
re-read, re-shingled, or re-signed; per-dump cost is O(new dump +
matching index partitions), not O(corpus).

Index layout under ``root/`` (path-based parquet, partitioned by
``_batch`` so each ingest owns one partition and a crashed ingest can
be re-run with dynamic partition overwrite — the same commit protocol
as plans/checkpoint.py):

* ``exact/``  — (text_md5, doc_id, _batch): one row per kept doc.
* ``sigs/``   — (doc_id, sig array<string>, _batch): MinHash
  signatures of kept near-dup representatives. Band keys are DERIVED
  from the stored signature at join time (bands × md5 per row, a
  map-only expression) rather than stored pre-exploded — 1/bands the
  index size for one extra map over the scan.

Exactly-once: the manifest (``_manifest.json``, plans/checkpoint.py
Checkpointer) is written only AFTER both index tables commit; a crash
between the two re-runs the batch, and partition overwrite makes the
re-run idempotent (replaces, never appends). ``ingest_batch`` on an
already-manifested batch raises unless ``if_exists='skip'``.

Cross-dump NEAR verification uses the MinHash ESTIMATE of Jaccard
(fraction of equal signature components) because the index stores
signatures, not text — that is the point: verification never touches
old-corpus bytes. The estimator's resolution is 1/k; raise k for
tighter cross-dump thresholds. Intra-batch near-dedup (both texts in
hand) keeps the exact-Jaccard verification of near_dedup_minhash.

Scale notes (100 TB corpus, ~10^11 kept docs): the sig index is
~3 orders smaller than the corpus (one 16-hash row per doc vs
multi-KB text). Both cross joins shuffle ONLY the new dump plus the
index columns they touch (band join keys on (band_id, band_key) —
uniform by construction, no salting needed; verification keyed by old
doc_id). On a real deployment store both tables as bucketed tables
(exact by text_md5, sigs by doc_id) so repeated ingests skip the
index-side shuffle entirely; path parquet is used here because the
sandbox has no catalog, and the plan is otherwise identical.

Reference analog: none — the reference (fineweb_analyzer.py) has no
dedup at all; this is north-rule training-data-pipeline surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.dedup import (
    connected_components,
    near_dedup_minhash,
)
from fineweb_domain_analyzer_spark.operators.dedup import (
    # the ONE shingle→signature and sig→band derivation (dedup.py) —
    # shared with lsh_candidate_pairs so cross-dump and intra-batch
    # band keys can never diverge
    explode_bands as _explode_bands,
    signature_frame as _with_signature,
)
from fineweb_domain_analyzer_spark.plans.checkpoint import Checkpointer


def sig_match_fraction(a, b):
    """Estimated Jaccard: fraction of equal MinHash components
    (JVM-side zip_with + aggregate; resolution 1/k)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(a)


def label_against(
    docs: DataFrame,
    old_exact: DataFrame,
    old_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    sigs: DataFrame | None = None,
    persist_intermediates: bool = False,
) -> DataFrame:
    """Label new docs against a kept-corpus index given as DataFrames
    (``old_exact``: (text_md5, doc_id); ``old_sigs``: (doc_id, sig)).

    Returns docs + (keep boolean, drop_reason string, dup_of long):
    drop_reason ∈ {kept, exact_dup_cross, exact_dup_intra,
    near_dup_cross, near_dup_intra}; dup_of = the prior doc (old corpus
    for *_cross, same batch for *_intra) each dropped doc duplicates.
    Precedence follows that funnel order — a doc that is both a cross-
    and intra-dup reports the cross reason, keeping already-kept data
    authoritative. Cross-near verification is the MinHash Jaccard
    ESTIMATE against the stored signature (the index has no text);
    intra-near is exact-Jaccard-verified (both texts in hand).

    ``sigs``: optional precomputed (id_col, sig) frame for the NEW
    docs (same k/shingle_n). The labeling plan consumes
    signatures four times (cross bands, cross verify, intra LSH —
    and ingest adds the index write); passing one PERSISTED frame
    turns four signature map passes into one.

    ``persist_intermediates``: persist the two subplans that the final
    label assembly would otherwise re-execute — the md5-window frame
    (reused by the rep selection, the intra LSH semi-join and the
    final join; one full-batch shuffle each time) and the big
    cross-dump band join (executed once eagerly by the connected-
    components loop and again when the labels materialize). The
    handles are attached to the returned DataFrame as
    ``_fwda_intermediates`` so a caller that knows when consumption
    ends (``ingest_batch``) can unpersist them."""
    rows_per_band = k // bands
    intermediates: list[DataFrame] = []
    hashed = docs.withColumn("_md5", F.md5(F.col(text_col)))

    # 1. cross-dump exact: join stored exact hashes (min old id wins)
    old_exact_min = old_exact.groupBy("text_md5").agg(
        F.min("doc_id").alias("_old_exact_id")
    )
    hashed = hashed.join(
        old_exact_min, hashed["_md5"] == old_exact_min["text_md5"], "left"
    ).drop("text_md5")

    # 2. intra-batch exact: canonical = min id per hash among
    #    cross-survivors (window over the same hash shuffle)
    from pyspark.sql.window import Window

    w = Window.partitionBy("_md5")
    hashed = hashed.withColumn(
        "_intra_exact_id",
        F.min(F.when(F.col("_old_exact_id").isNull(), F.col(id_col))).over(w),
    )
    if persist_intermediates:
        from pyspark import StorageLevel

        hashed = hashed.persist(StorageLevel.MEMORY_AND_DISK)
        intermediates.append(hashed)

    # 3. near-dup layers run over intra-exact representatives that
    #    survived the exact cross-check (one doc per distinct text)
    reps = hashed.filter(
        F.col("_old_exact_id").isNull()
        & (F.col(id_col) == F.col("_intra_exact_id"))
    ).select(id_col, text_col)

    if sigs is not None:
        from fineweb_domain_analyzer_spark.operators.dedup import validate_sigs

        new_sigs = validate_sigs(sigs, k).join(
            reps.select(id_col), id_col, "left_semi"
        )
    else:
        new_sigs = _with_signature(reps, id_col, text_col, k, shingle_n)
    new_bands = _explode_bands(new_sigs, id_col, bands, rows_per_band)
    old_sigs_r = old_sigs.select(
        F.col("doc_id").alias("_old_id"), F.col("sig").alias("_old_sig")
    )
    old_bands = _explode_bands(
        old_sigs_r.withColumnRenamed("_old_sig", "sig"),
        "_old_id",
        bands,
        rows_per_band,
    )

    # cross-dump near: band-bucket join, then signature-estimate
    # verification against the stored sig (never old text)
    cross_cand = (
        new_bands.join(old_bands, ["band_id", "band_key"])
        .select(id_col, "_old_id")
        .distinct()
    )
    cross_near = (
        cross_cand.join(new_sigs, id_col)
        .join(old_sigs_r, "_old_id")
        .withColumn("_est", sig_match_fraction(F.col("sig"), F.col("_old_sig")))
        .filter(F.col("_est") >= threshold)
        .groupBy(id_col)
        .agg(F.min("_old_id").alias("_cross_near_id"))
    )
    if persist_intermediates:
        from pyspark import StorageLevel

        # O(dup docs) rows, but evaluating it runs the full cross-dump
        # band join — the most expensive leg against a grown index
        cross_near = cross_near.persist(StorageLevel.MEMORY_AND_DISK)
        intermediates.append(cross_near)

    # intra-batch near: full exact-verified near-dedup over the
    # cross-surviving representatives, canonical = min of component
    intra_reps = reps.join(cross_near, id_col, "left_anti")
    pairs = near_dedup_minhash(
        intra_reps,
        id_col,
        text_col,
        threshold=threshold,
        k=k,
        bands=bands,
        shingle_n=shingle_n,
        collapse_exact=False,  # reps are already exact-distinct
        sigs=new_sigs,
    )
    comp = connected_components(pairs).filter(F.col("node") != F.col("cluster_id"))
    intra_near = comp.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("_intra_near_id")
    )

    labeled = (
        hashed.join(cross_near, id_col, "left")
        .join(intra_near, id_col, "left")
        .withColumn(
            "drop_reason",
            F.when(F.col("_old_exact_id").isNotNull(), "exact_dup_cross")
            .when(F.col(id_col) != F.col("_intra_exact_id"), "exact_dup_intra")
            .when(F.col("_cross_near_id").isNotNull(), "near_dup_cross")
            .when(F.col("_intra_near_id").isNotNull(), "near_dup_intra")
            .otherwise("kept"),
        )
        .withColumn(
            "dup_of",
            F.coalesce(
                "_old_exact_id",
                F.when(
                    F.col(id_col) != F.col("_intra_exact_id"),
                    F.col("_intra_exact_id"),
                ),
                "_cross_near_id",
                "_intra_near_id",
            ),
        )
        .withColumn("keep", F.col("drop_reason") == "kept")
    )
    out = labeled.drop(
        "_md5", "_old_exact_id", "_intra_exact_id", "_cross_near_id", "_intra_near_id"
    )
    out._fwda_intermediates = intermediates
    return out


class DedupIndex:
    """Persistent cross-dump dedup index. See module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        threshold: float = 0.8,
        k: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
    ):
        if k % bands:
            raise ValueError(f"bands ({bands}) must divide k ({k})")
        self.spark = spark
        self.root = root
        self.threshold = threshold
        self.k, self.bands, self.shingle_n = k, bands, shingle_n
        self.rows_per_band = k // bands
        self.exact_path = os.path.join(root, "exact")
        self.sigs_path = os.path.join(root, "sigs")
        self.checkpointer = Checkpointer(os.path.join(root, "_manifest.json"))
        self._params_path = os.path.join(root, "_params.json")
        self._validate_params()

    # -- parameter pinning ---------------------------------------------------
    #
    # Signatures stored under one (k, bands, shingle_n, hash) are
    # meaningless under another: band keys stop matching and
    # sig_match_fraction's zip_with pads unequal-length arrays with
    # nulls, so the Jaccard estimate goes null, the >= threshold filter
    # drops it, and true cross-dump near-dups get labeled 'kept' with no
    # error. The params are therefore persisted next to the manifest on
    # first ingest and re-validated on every reopen. The hash is always
    # md5; it stays in the pinned set so an index whose signatures came
    # from another hash is refused on reopen.

    _PARAM_KEYS = ("threshold", "k", "bands", "shingle_n")

    def _params(self) -> dict:
        return {
            **{p: getattr(self, p) for p in self._PARAM_KEYS},
            "hash_family": "md5",
        }

    def _validate_params(self) -> None:
        if not os.path.exists(self._params_path):
            return
        import json

        with open(self._params_path, encoding="utf-8") as f:
            stored = json.load(f)
        mismatch = {
            p: (stored.get(p), v)
            for p, v in self._params().items()
            if stored.get(p) != v
        }
        if mismatch:
            detail = ", ".join(
                f"{p}: index={s!r} vs requested={r!r}"
                for p, (s, r) in sorted(mismatch.items())
            )
            raise ValueError(
                f"DedupIndex at {self.root} was built with different "
                f"parameters ({detail}); reopening with mismatched MinHash "
                "parameters would silently miss cross-dump near-dups"
            )

    def _pin_params(self) -> None:
        """Persist the parameter set (atomic tmp+replace, like the
        manifest). Called before the first ingest commit; idempotent."""
        if os.path.exists(self._params_path):
            return
        import json
        import tempfile

        os.makedirs(self.root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(self._params(), f)
        os.replace(tmp, self._params_path)

    # -- index reads --------------------------------------------------------

    def processed_batches(self) -> set[str]:
        return self.checkpointer.processed_splits()

    def _stored(self, path: str, schema: str) -> DataFrame:
        """Manifested index rows only: a partition written by a crashed
        ingest (present on disk, absent from the manifest) is invisible —
        the filter is on the partition column, so it prunes at the scan."""
        batches = self.processed_batches()
        if batches:
            return self.spark.read.parquet(path).filter(
                F.col("_batch").isin(sorted(batches))
            )
        return self.spark.createDataFrame([], schema)

    def stored_exact(self) -> DataFrame:
        return self._stored(
            self.exact_path, "text_md5 string, doc_id long, _batch string"
        )

    def stored_sigs(self) -> DataFrame:
        return self._stored(
            self.sigs_path,
            "doc_id long, sig array<string>, _batch string",
        )

    # -- ingest -------------------------------------------------------------

    def label_batch(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        sigs: DataFrame | None = None,
        persist_intermediates: bool = False,
    ) -> DataFrame:
        """Label a new dump against the index WITHOUT committing it.
        See ``label_against`` for semantics."""
        return label_against(
            docs,
            self.stored_exact(),
            self.stored_sigs(),
            id_col,
            text_col,
            threshold=self.threshold,
            k=self.k,
            bands=self.bands,
            shingle_n=self.shingle_n,
            sigs=sigs,
            persist_intermediates=persist_intermediates,
        )

    def batch_signatures(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """(id_col, sig) for a batch with this index's parameters —
        the frame to persist and pass as ``sigs=``."""
        return _with_signature(docs, id_col, text_col, self.k, self.shingle_n)

    def compact(self, cleanup: bool = True) -> str | None:
        """Fold every manifested batch partition into one compacted
        partition. After K dumps the index holds K small partitions;
        each ingest then opens K× the files and the manifest filter
        grows — compaction restores O(1) partitions without changing a
        single visible row.

        Crash-safe in the same way ingest is: the compacted partition
        is written first (invisible — not in the manifest), then the
        manifest atomically REPLACES the old split set with the one
        compacted split (``Checkpointer.replace_splits``); a crash on
        either side leaves a fully consistent index. ``cleanup``
        removes the now-invisible folded partition directories.
        Must not run concurrently with an ingest.

        All moves/deletes go through the HADOOP FILESYSTEM API of the
        table's own scheme (``FileSystem.rename`` / ``delete`` via the
        session JVM), so compaction works uniformly on file://, HDFS
        and S3A. Note S3A's rename is copy+delete, not atomic — which
        is fine here, because VISIBILITY is governed solely by the
        manifest swap: a half-renamed partition is simply absent from
        the manifest and invisible to readers.

        Returns the compacted batch name, or None if there is nothing
        to compact (0 or 1 manifested batches)."""
        import re as _re

        fs, hpath = self._hadoop_fs()
        batches = self.processed_batches()
        if len(batches) <= 1:
            return None
        gen = 1 + max(
            (
                int(m.group(1))
                for b in batches
                if (m := _re.fullmatch(r"__compact_(\d+)", b))
            ),
            default=0,
        )
        name = f"__compact_{gen}"
        # Spark refuses to overwrite a path it is reading from, so the
        # compacted rows are written OUTSIDE the table root and renamed
        # into place as a partition directory (partition discovery
        # derives _batch from the dir name) — still invisible until the
        # manifest swap, and no index-sized caching needed.
        tmp_root = os.path.join(self.root, "_tmp_compact")
        fs.delete(hpath(tmp_root), True)
        for sub, df in (("exact", self.stored_exact()), ("sigs", self.stored_sigs())):
            df.drop("_batch").write.mode("overwrite").parquet(
                os.path.join(tmp_root, sub)
            )
        for sub, table in (("exact", self.exact_path), ("sigs", self.sigs_path)):
            dest = os.path.join(table, f"_batch={name}")
            fs.delete(hpath(dest), True)
            if not fs.rename(hpath(os.path.join(tmp_root, sub)), hpath(dest)):
                raise OSError(
                    f"Hadoop FileSystem rename failed: "
                    f"{os.path.join(tmp_root, sub)} -> {dest}"
                )
        fs.delete(hpath(tmp_root), True)
        self.checkpointer.replace_splits({name})
        if cleanup:
            for path in (self.exact_path, self.sigs_path):
                for b in batches:
                    fs.delete(hpath(os.path.join(path, f"_batch={b}")), True)
        return name

    def _hadoop_fs(self):
        """(FileSystem for the index root's scheme, str -> hadoop Path)
        via the session JVM — the move/delete primitive that behaves
        the same on file://, HDFS and S3A."""
        jvm = self.spark._jvm
        mk = jvm.org.apache.hadoop.fs.Path
        fs = mk(self.root).getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        return fs, mk

    def ingest_batch(
        self,
        docs: DataFrame,
        batch_id: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        if_exists: str = "error",
    ) -> DataFrame:
        """Label a new dump against the index, commit the kept docs'
        hashes/signatures under ``_batch=batch_id``, mark the manifest.
        Returns the labeled batch (all input docs + keep/drop_reason/
        dup_of), still persisted (MEMORY_AND_DISK) — call
        ``.unpersist()`` when done consuming it. Idempotent per
        batch_id: a re-run after a crash overwrites the partial
        partition; a re-run after a successful commit raises (or with
        ``if_exists='skip'`` returns None)."""
        if batch_id in self.processed_batches():
            if if_exists == "skip":
                return None
            raise ValueError(
                f"batch {batch_id!r} already ingested into {self.root} "
                "(pass if_exists='skip' to no-op)"
            )
        self._pin_params()
        from pyspark import StorageLevel

        # One signature map pass for the whole ingest: labeling consumes
        # signatures three times (cross bands, cross verify, intra LSH)
        # and the index commit a fourth — persist them once. Rows are
        # narrow (id + k hashes). Likewise persist the labeled frame so
        # the two index writes and the caller's consumption don't each
        # re-execute the join/window/CC plan.
        sigs = self.batch_signatures(docs, id_col, text_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        labeled = self.label_batch(
            docs, id_col, text_col, sigs=sigs, persist_intermediates=True
        )
        intermediates = labeled._fwda_intermediates
        labeled = labeled.persist(StorageLevel.MEMORY_AND_DISK)
        kept_ids = labeled.filter(F.col("keep")).select(id_col, text_col)

        # dynamic overwrite replaces only the _batch=batch_id partition
        # (crash-idempotent re-ingest); scope it to these two writes and
        # restore the caller's setting — leaking 'dynamic' would silently
        # change the semantics of every later partitioned overwrite in
        # the shared session.
        _conf_key = "spark.sql.sources.partitionOverwriteMode"
        _prev_mode = self.spark.conf.get(_conf_key, None)
        self.spark.conf.set(_conf_key, "dynamic")
        try:
            (
                kept_ids.select(
                    F.md5(F.col(text_col)).alias("text_md5"),
                    F.col(id_col).alias("doc_id"),
                    F.lit(batch_id).alias("_batch"),
                )
                .write.mode("overwrite")
                .partitionBy("_batch")
                .parquet(self.exact_path)
            )
            (
                sigs.join(kept_ids.select(id_col), id_col, "left_semi")
                .select(
                    F.col(id_col).alias("doc_id"),
                    "sig",
                    F.lit(batch_id).alias("_batch"),
                )
                .write.mode("overwrite")
                .partitionBy("_batch")
                .parquet(self.sigs_path)
            )
        finally:
            if _prev_mode is None:
                self.spark.conf.unset(_conf_key)
            else:
                self.spark.conf.set(_conf_key, _prev_mode)
        self.checkpointer.mark_processed([batch_id])
        # force the label materialization NOW (while upstream caches are
        # warm) so unpersisting them below can't trigger a recompute of
        # the band join when the caller first consumes the result
        labeled.count()
        sigs.unpersist()
        for df in intermediates:
            df.unpersist()
        return labeled
