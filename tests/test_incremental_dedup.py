"""Incremental cross-dump dedup: dump2 is deduplicated against dump1's
persisted index without touching dump1's text; dump1 stays untouched;
ingest is exactly-once (crash-replay idempotent, double-ingest refused)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.incremental_dedup import DedupIndex


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BASE = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "spark shuffles data between stages when keys must be colocated"),
    (3, "a completely different document about nothing in particular here"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # intra-exact dup of 1
]

DUMP2 = [
    (101, "the quick brown fox jumps over the lazy dog near the river bank"),  # cross-exact dup of 1
    (102, "spark shuffles data between stages when keys must be colocated today"),  # cross-near dup of 2
    (103, "fresh never-seen content with its own words and no overlap at all"),
    (104, "fresh never-seen content with its own words and no overlap at all"),  # intra-exact dup of 103
    (105, "brand new text body that resembles nothing stored in the index"),
    (106, "brand new text body that resembles nothing stored in the index either"),  # intra-near dup of 105
]


@pytest.fixture()
def index(spark, tmp_path):
    return DedupIndex(spark, str(tmp_path / "idx"), threshold=0.75, k=16, bands=4)


class TestTwoBatchFlow:
    def test_cross_and_intra_layers(self, spark, index):
        lab1 = index.ingest_batch(_docs(spark, BASE), "dump1")
        got1 = {r["doc_id"]: r["drop_reason"] for r in lab1.collect()}
        assert got1 == {1: "kept", 2: "kept", 3: "kept", 4: "exact_dup_intra"}

        lab2 = index.ingest_batch(_docs(spark, DUMP2), "dump2")
        rows = {r["doc_id"]: r for r in lab2.collect()}
        assert rows[101]["drop_reason"] == "exact_dup_cross"
        assert rows[101]["dup_of"] == 1
        assert rows[102]["drop_reason"] == "near_dup_cross"
        assert rows[102]["dup_of"] == 2
        assert rows[103]["drop_reason"] == "kept"
        assert rows[104]["drop_reason"] == "exact_dup_intra"
        assert rows[104]["dup_of"] == 103
        assert rows[105]["drop_reason"] == "kept"
        assert rows[106]["drop_reason"] == "near_dup_intra"
        assert rows[106]["dup_of"] == 105

    def test_dump1_untouched_and_not_recomputed(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        before = {
            (r["text_md5"], r["doc_id"])
            for r in index.stored_exact().collect()
        }
        index.ingest_batch(_docs(spark, DUMP2), "dump2")
        after = {
            (r["text_md5"], r["doc_id"], r["_batch"])
            for r in index.stored_exact().collect()
        }
        # dump1's rows still there, byte-for-byte, under their own batch
        assert {(h, i) for h, i, b in after if b == "dump1"} == before
        # dump2 appended only its kept docs (103, 105)
        assert {i for _, i, b in after if b == "dump2"} == {103, 105}
        # labeling dump2 reads only signatures/hashes, never dump1 text:
        # the index directories contain no text column at all
        assert "text" not in index.stored_exact().columns
        assert "text" not in index.stored_sigs().columns

    def test_kept_only_enters_index(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        index.ingest_batch(_docs(spark, DUMP2), "dump2")
        sig_ids = {r["doc_id"] for r in index.stored_sigs().collect()}
        assert sig_ids == {1, 2, 3, 103, 105}


class TestSessionHygiene:
    def test_ingest_restores_partition_overwrite_mode(self, spark, index):
        """Regression (r4 review): ingest_batch scopes its dynamic
        partition-overwrite to the two index writes — leaking it would
        change the semantics of every later partitioned overwrite in
        the shared session."""
        key = "spark.sql.sources.partitionOverwriteMode"
        assert spark.conf.get(key).lower() == "static"  # Spark default
        index.ingest_batch(_docs(spark, BASE), "dump1")
        assert spark.conf.get(key).lower() == "static"
        # and an explicit caller setting is restored verbatim
        spark.conf.set(key, "static")
        try:
            index.ingest_batch(_docs(spark, DUMP2), "dump2")
            assert spark.conf.get(key) == "static"
        finally:
            spark.conf.unset(key)


class TestExactlyOnce:
    def test_double_ingest_refused_then_skippable(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        with pytest.raises(ValueError, match="already ingested"):
            index.ingest_batch(_docs(spark, BASE), "dump1")
        assert index.ingest_batch(_docs(spark, BASE), "dump1", if_exists="skip") is None

    def test_crash_replay_is_idempotent(self, spark, tmp_path):
        """Simulate a crash after the index writes but before the
        manifest mark: the partial partition must be invisible to
        reads, and the replay must converge to exactly one copy."""
        idx = DedupIndex(spark, str(tmp_path / "idx"), threshold=0.75)
        idx.ingest_batch(_docs(spark, BASE), "dump1")

        # crashed ingest: write dump2's partitions, do NOT mark manifest
        real_mark = idx.checkpointer.mark_processed
        idx.checkpointer.mark_processed = lambda s: None
        idx.ingest_batch(_docs(spark, DUMP2), "dump2")
        idx.checkpointer.mark_processed = real_mark

        assert idx.processed_batches() == {"dump1"}
        # unmanifested partition exists on disk but is invisible
        assert os.path.exists(os.path.join(idx.exact_path, "_batch=dump2"))
        assert {r["_batch"] for r in idx.stored_exact().collect()} == {"dump1"}

        # replay: same labels, one committed copy, no duplicate rows
        lab = idx.ingest_batch(_docs(spark, DUMP2), "dump2")
        assert {r["doc_id"] for r in lab.filter("keep").collect()} == {103, 105}
        exact2 = idx.stored_exact().filter("_batch = 'dump2'").collect()
        assert sorted(r["doc_id"] for r in exact2) == [103, 105]
        sigs2 = idx.stored_sigs().filter("_batch = 'dump2'").collect()
        assert sorted(r["doc_id"] for r in sigs2) == [103, 105]

    def test_manifest_is_the_commit_point(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        with open(index.checkpointer.manifest_path, encoding="utf-8") as f:
            assert json.load(f)["splits"] == ["dump1"]


class TestCompaction:
    def test_compact_preserves_visible_rows(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        index.ingest_batch(_docs(spark, DUMP2), "dump2")
        before_exact = {
            (r["text_md5"], r["doc_id"]) for r in index.stored_exact().collect()
        }
        before_sigs = {
            (r["doc_id"], tuple(r["sig"])) for r in index.stored_sigs().collect()
        }
        name = index.compact()
        assert name == "__compact_1"
        assert index.processed_batches() == {"__compact_1"}
        assert {
            (r["text_md5"], r["doc_id"]) for r in index.stored_exact().collect()
        } == before_exact
        assert {
            (r["doc_id"], tuple(r["sig"])) for r in index.stored_sigs().collect()
        } == before_sigs
        # folded partition dirs are gone, one compacted partition remains
        dirs = {
            d for d in os.listdir(index.exact_path) if d.startswith("_batch=")
        }
        assert dirs == {"_batch=__compact_1"}

    def test_ingest_after_compact_and_generation_bump(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        index.ingest_batch(_docs(spark, DUMP2), "dump2")
        index.compact()
        # dedup against the compacted index still works
        lab = index.label_batch(_docs(spark, [(201, BASE[0][1])]))
        assert lab.collect()[0]["drop_reason"] == "exact_dup_cross"
        index.ingest_batch(
            _docs(spark, [(300, "entirely new content for generation test")]),
            "dump3",
        )
        assert index.compact() == "__compact_2"
        assert index.processed_batches() == {"__compact_2"}

    def test_compact_noop_on_single_batch(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        assert index.compact() is None
        assert index.processed_batches() == {"dump1"}


class TestLabelOnly:
    def test_label_batch_does_not_commit(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        lab = index.label_batch(_docs(spark, DUMP2))
        assert lab.filter("keep").count() == 2
        assert index.processed_batches() == {"dump1"}
        assert {r["_batch"] for r in index.stored_exact().collect()} == {"dump1"}


class TestParamPinning:
    """Reopening an index with different MinHash parameters must fail
    loudly — mismatched k/bands/shingle_n silently break cross-dump
    near-dedup (band keys stop matching; the null-padded zip_with makes
    the Jaccard estimate null and true near-dups get labeled kept)."""

    def test_params_pinned_on_first_ingest(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        with open(os.path.join(index.root, "_params.json"), encoding="utf-8") as f:
            stored = json.load(f)
        assert stored == {
            "threshold": 0.75, "k": 16, "bands": 4,
            "shingle_n": 3, "hash_family": "md5",
        }

    def test_reopen_with_mismatched_params_raises(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        with pytest.raises(ValueError, match="k: index=16"):
            DedupIndex(spark, index.root, threshold=0.75, k=32, bands=4)

    def test_reopen_index_of_another_hash_family_raises(self, spark, tmp_path):
        """Signatures are md5; an index pinned with the xxhash64 family
        ("xx") holds bigint signatures no ingest here can match."""
        root = tmp_path / "xx_idx"
        root.mkdir()
        (root / "_params.json").write_text(json.dumps({
            "threshold": 0.75, "k": 16, "bands": 4,
            "shingle_n": 3, "hash_family": "xx",
        }))
        with pytest.raises(
            ValueError, match="hash_family: index='xx' vs requested='md5'"
        ):
            DedupIndex(spark, str(root), threshold=0.75, k=16, bands=4)

    def test_reopen_with_matching_params_ok(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        reopened = DedupIndex(
            spark, index.root, threshold=0.75, k=16, bands=4
        )
        assert reopened.processed_batches() == {"dump1"}


class TestSigsValidation:
    """Precomputed sigs= frames are no longer accepted on trust."""

    def test_wrong_element_type_raises(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        bad = spark.createDataFrame(
            [(101, [1, 2, 3])], "doc_id long, sig array<bigint>"
        )
        with pytest.raises(TypeError, match="element type bigint is not string"):
            index.label_batch(_docs(spark, DUMP2), sigs=bad)

    def test_wrong_k_fails_the_job(self, spark, index):
        from py4j.protocol import Py4JJavaError

        index.ingest_batch(_docs(spark, BASE), "dump1")
        short = index.batch_signatures(_docs(spark, DUMP2)).withColumn(
            "sig", F.slice("sig", 1, 8)
        )
        with pytest.raises(Exception, match="sig length|USER_RAISED"):
            index.label_batch(_docs(spark, DUMP2), sigs=short).collect()

    def test_correct_sigs_still_accepted(self, spark, index):
        index.ingest_batch(_docs(spark, BASE), "dump1")
        sigs = index.batch_signatures(_docs(spark, DUMP2))
        lab = {
            r["doc_id"]: r["drop_reason"]
            for r in index.label_batch(_docs(spark, DUMP2), sigs=sigs).collect()
        }
        assert lab[101] == "exact_dup_cross"
        assert lab[102] == "near_dup_cross"
