"""Golden end-to-end filter test — SURVEY.md §5.2.

Input: the reference's own examples/test_data.jsonl (50 rows) + its
frozen robots snapshot as the policy dimension. The engine's labels
must exactly reproduce the committed kept(34)/excluded(16) partition
(F1 = 1.0 ≥ 0.99 gate) with byte-identical passthrough lines, and the
stats must equal {50, 34, 16, 68.0}
(/root/reference/output/filter_stats_20250724_133214.json).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.robots import load_policy_fixture
from fineweb_domain_analyzer_spark.operators.filtering import label_pages
from fineweb_domain_analyzer_spark.operators.metrics import (
    drop_reason_histogram,
    filter_stats,
)
from fineweb_domain_analyzer_spark.sources.jsonl import read_jsonl_with_raw


@pytest.fixture(scope="module")
def labeled(spark, fixtures_dir):
    pages = read_jsonl_with_raw(spark, str(fixtures_dir / "test_data.jsonl"))
    policy = load_policy_fixture(
        spark, str(fixtures_dir / "robots_check_20250724_133214.json")
    )
    return label_pages(pages, policy).cache()


def _golden_ids(path):
    ids = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                ids.add(json.loads(line)["id"])
    return ids


def test_keep_drop_exact_match(labeled, fixtures_dir):
    golden_kept = _golden_ids(fixtures_dir / "filtered_test_data_20250724_133214.jsonl")
    golden_excl = _golden_ids(fixtures_dir / "excluded_test_data_20250724_133214.jsonl")
    rows = labeled.select("id", "keep").collect()
    kept = {r["id"] for r in rows if r["keep"]}
    excl = {r["id"] for r in rows if not r["keep"]}
    assert kept == golden_kept
    assert excl == golden_excl


def test_stats_match_golden(labeled, fixtures_dir):
    with open(fixtures_dir / "filter_stats_20250724_133214.json") as f:
        golden = json.load(f)["statistics"]
    row = filter_stats(labeled).collect()[0]
    assert row["total_processed"] == golden["total_processed"] == 50
    assert row["filtered_kept"] == golden["filtered_kept"] == 34
    assert row["excluded_count"] == golden["excluded_count"] == 16
    assert row["keep_ratio"] == golden["keep_ratio"] == 68.0


def test_byte_identical_passthrough(labeled, fixtures_dir):
    """Each kept/excluded row's raw line must equal the reference output
    line for the same id, byte for byte (modulo the trailing newline the
    text source strips)."""
    golden_lines = {}
    for name in (
        "filtered_test_data_20250724_133214.jsonl",
        "excluded_test_data_20250724_133214.jsonl",
    ):
        with open(fixtures_dir / name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    golden_lines[json.loads(line)["id"]] = line.rstrip("\n")
    rows = labeled.select("id", "raw").collect()
    assert len(rows) == 50
    for r in rows:
        assert r["raw"] == golden_lines[r["id"]], r["id"]


def test_drop_reason_histogram(labeled):
    hist = {r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(labeled).collect()}
    assert hist.get("kept") == 34
    assert hist.get("robots_disallowed", 0) == 16


def test_plan_is_broadcast_join_no_shuffle(labeled):
    """Scale guard: the label plan must be a BroadcastHashJoin (no
    shuffle of the pages fact side)."""
    plan = labeled._sc._jvm.PythonSQLUtils.explainString(
        labeled._jdf.queryExecution(), "formatted"
    ) if False else labeled._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_agg_matches_golden_domains(labeled, fixtures_dir):
    """The distinct extracted domains must equal the reference's
    domains_simple list (46 domains)."""
    with open(fixtures_dir / "domains_simple_20250724_132950.json") as f:
        golden = set(json.load(f)["domains"])
    ours = {
        r["domain"]
        for r in labeled.filter(
            F.col("url").isNotNull() & (F.col("url") != "") & (F.col("domain") != "")
        )
        .select("domain")
        .distinct()
        .collect()
    }
    assert ours == golden


def test_curation_funnel_counts(spark):
    """curation_funnel's single-pass stage tagging must equal the
    counts of running the four stages separately (computed here in
    plain Python over a corpus with known dups / keeps / buckets)."""
    import hashlib

    from fineweb_domain_analyzer_spark.operators.metrics import curation_funnel

    rows = [
        (i, i % 4 != 0, f"t{i % 10}", "en" if i % 2 else "xx")
        for i in range(1, 41)
    ]
    df = spark.createDataFrame(rows, "doc_id long, keep boolean, text string, lang string")
    out = {
        r["stage"]: (r["stage_idx"], r["rows_out"], r["dropped"])
        for r in curation_funnel(df, rates={"en": 50}, default_rate=25).collect()
    }

    kept = [(i, t, lg) for i, k, t, lg in rows if k]
    canon = {min(i for i, t2, _ in kept if t2 == t) for _, t, _ in kept}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 100

    sampled = {
        i
        for i, t, lg in kept
        if i in canon and bucket(i) < (50 if lg == "en" else 25)
    }
    assert out["ingest"] == (1, 40, 0)
    assert out["robots_filter"] == (2, len(kept), 40 - len(kept))
    assert out["exact_dedup"] == (3, len(canon), len(kept) - len(canon))
    assert out["stratified_sample"] == (
        4,
        len(sampled),
        len(canon) - len(sampled),
    )
