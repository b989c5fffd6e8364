"""Full quality-filter pipeline + checkpoint/resume + synthetic pages."""

from __future__ import annotations

import json
from functools import reduce
from pathlib import Path

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.metrics import (
    drop_reason_histogram,
    filter_stats,
)
from fineweb_domain_analyzer_spark.plans.checkpoint import Checkpointer, run_resumable
from fineweb_domain_analyzer_spark.plans.pipeline import (
    PipelineConfig,
    quality_filter_pipeline,
)
from fineweb_domain_analyzer_spark.sources.pages import (
    synth_pages,
    synth_policy_for_domains,
)


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, n_rows=2000, n_domains=50, seed=7).cache()


@pytest.fixture(scope="module")
def policy(spark):
    return synth_policy_for_domains(spark, n_domains=50).cache()


def test_synth_pages_deterministic(spark, pages):
    again = synth_pages(spark, n_rows=2000, n_domains=50, seed=7, partitions=3)
    a = sorted(r["url"] + "|" + (r["text"] or "<null>")[:40] for r in pages.collect())
    b = sorted(r["url"] + "|" + (r["text"] or "<null>")[:40] for r in again.collect())
    assert a == b


def test_synth_pages_zipf_skew(pages):
    counts = sorted(
        (
            r["cnt"]
            for r in pages.groupBy(
                F.regexp_extract("url", r"host(\d+)", 1).alias("d")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ),
        reverse=True,
    )
    # head domain should dominate (Zipf-ish): top domain ≥ 10× median
    assert counts[0] >= 10 * counts[len(counts) // 2]


def test_pipeline_end_to_end(pages, policy):
    out = quality_filter_pipeline(pages, policy).cache()
    assert out.count() == 2000
    # partition invariant: kept ⊎ dropped == input
    stats = filter_stats(out).collect()[0]
    assert stats["total_processed"] == 2000
    assert stats["filtered_kept"] + stats["excluded_count"] == 2000
    hist = {r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(out).collect()}
    assert "kept" in hist and hist["kept"] == stats["filtered_kept"]
    # denied domains must actually be dropped
    denied = out.filter(F.col("drop_reason") == "robots_disallowed")
    assert denied.count() > 0
    # scrubbed text must not contain raw PII that appeared in input
    pii_rows = out.filter(F.col("text").contains("@example.com")).select(
        "scrubbed_text"
    )
    for r in pii_rows.collect():
        assert "@example.com" not in r["scrubbed_text"]


def test_pipeline_columns(pages, policy):
    out = quality_filter_pipeline(pages, policy, PipelineConfig(scrub=False))
    for col in ("domain", "langid", "word_count", "keep", "drop_reason"):
        assert col in out.columns
    assert "scrubbed_text" not in out.columns


def test_default_allow_for_uncovered_domains(pages, policy):
    out = quality_filter_pipeline(pages, policy)
    # policy covers only even host indices; odd-indexed hosts must never
    # be robots_disallowed (default-allow, fineweb_analyzer.py:459)
    odd = out.filter(
        (F.regexp_extract("domain", r"host(\d+)", 1).cast("int") % 2 == 1)
        & (F.col("drop_reason") == "robots_disallowed")
    )
    assert odd.count() == 0


def _tagged_pages(spark, pending, n_rows, offset):
    """The pending splits' rows in one frame, each tagged with its split
    in ``_split``; ``offset(split)`` gives each split its own url range."""
    return reduce(DataFrame.unionByName, [
        synth_pages(spark, n_rows, n_domains=10, start=offset(s) * n_rows)
        .select("url", F.lit(s).alias("_split"))
        for s in pending
    ])


def test_checkpoint_resume(spark, tmp_path):
    manifest = str(tmp_path / "manifest.json")
    out = str(tmp_path / "out")
    cp = Checkpointer(manifest)
    calls = []

    def process(spark_, pending):
        calls.append(pending)
        return _tagged_pages(spark_, pending, 100, int)

    splits = ["1", "2", "3"]
    done = run_resumable(spark, splits, process, out, cp)
    assert done == splits
    # second run: nothing pending → no pass at all
    done2 = run_resumable(spark, splits, process, out, cp)
    assert done2 == []
    assert calls == [splits]
    # new split appears → only it runs; prior output intact
    done3 = run_resumable(spark, splits + ["4"], process, out, cp)
    assert done3 == ["4"]
    assert calls == [splits, ["4"]]
    total = spark.read.parquet(out).count()
    assert total == 400


def test_checkpoint_idempotent_overwrite(spark, tmp_path):
    """Simulate crash-after-write-before-mark: the rerun must overwrite
    the pass's splits, not duplicate them."""
    manifest = str(tmp_path / "m.json")
    out = str(tmp_path / "out")
    cp = Checkpointer(manifest)

    def process(spark_, pending):
        return _tagged_pages(spark_, pending, 50, int)

    run_resumable(spark, ["8", "9"], process, out, cp)
    # crash simulation: wipe the manifest (data remains), rerun
    import os

    os.remove(manifest)
    run_resumable(spark, ["8", "9"], process, out, Checkpointer(manifest))
    assert spark.read.parquet(out).count() == 100


def _crash_inside_the_pass(spark, out, checkpointer, splits):
    """Inject a crash inside the one pass (every row of the last split
    fails the write job), then re-run from a fresh checkpointer (a 'new
    driver'). Nothing of the crashed pass may be committed, the re-run
    processes every pending split once, and every row is on disk
    exactly once. Returns the re-run's checkpointer."""
    calls = []

    def process(spark_, pending):
        calls.append(pending)
        df = _tagged_pages(spark_, pending, 40, splits.index)
        if len(calls) == 1:
            crash = F.raise_error(F.lit("injected crash"))
            df = df.withColumn(
                "url", F.when(F.col("_split") == splits[-1], crash).otherwise(F.col("url"))
            )
        return df

    stats = {"rows": "true"}
    cp = checkpointer()
    with pytest.raises(Exception, match="injected crash"):
        run_resumable(spark, splits, process, out, cp, split_stats=stats)
    assert cp.processed_splits() == set()
    assert not list(Path(out).glob("_split=*"))

    cp = checkpointer()
    assert run_resumable(spark, splits, process, out, cp, split_stats=stats) == splits
    assert calls == [splits, splits]
    assert cp.processed_splits() == set(splits)
    written = spark.read.parquet(out)
    per_split = written.groupBy("_split").agg(
        F.count("*").alias("rows"), F.countDistinct("url").alias("urls")
    )
    assert {str(r["_split"]): (r["rows"], r["urls"]) for r in per_split.collect()} == {
        s: (40, 40) for s in splits
    }
    assert written.select("url").distinct().count() == 40 * len(splits)
    return cp


def test_file_manifest_crash_inside_the_pass(spark, tmp_path):
    manifest = tmp_path / "m.json"
    cp = _crash_inside_the_pass(
        spark, str(tmp_path / "out"), lambda: Checkpointer(str(manifest)), ["3", "7"]
    )
    # the counts observed on the re-run's write land with its splits
    assert cp.split_counts() == {"3": {"rows": 40}, "7": {"rows": 40}}


def test_synth_pages_null_text_decodes_byte_identical(spark):
    """Rows shipping text only as html bytes (with an invalid-utf8
    tail) must come out of the pipeline byte-identical to the utf-8
    portion — Python's errors='ignore' semantics (FIXTURES.md §1)."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline
    from fineweb_domain_analyzer_spark.sources.pages import (
        synth_pages,
        synth_policy_for_domains,
    )

    pages = synth_pages(spark, 2000, n_domains=50, seed=42)
    null_text = pages.filter(F.col("text").isNull())
    n_null = null_text.count()
    assert n_null > 0  # the decode path is actually exercised
    policy = synth_policy_for_domains(spark, 50)
    out = quality_filter_pipeline(pages, policy)
    # decoded text equals utf-8 decode-ignore of html for those rows
    joined = out.filter(F.col("text").isNotNull()).count()
    assert joined == 2000  # every null text was recovered from html
    row = (
        out.join(null_text.select("url"), "url", "left_semi")
        .select("url", "text")
        .limit(1)
        .collect()[0]
    )
    src = pages.filter(F.col("url") == row["url"]).select("html").collect()[0]
    assert row["text"] == bytes(src["html"]).decode("utf-8", "ignore")


@pytest.mark.parametrize("seed", [3, 17, 1234])
def test_partition_invariant_across_seeds(spark, seed):
    """SURVEY §5.4 property: kept ⊎ dropped == input for arbitrary
    corpora/policies, and drop reasons always sum to the total."""
    pages_df = synth_pages(spark, 1500, n_domains=37, seed=seed)
    policy_df = synth_policy_for_domains(
        spark, 37, deny_every=3 + seed % 4, cover_every=1 + seed % 3
    )
    out = quality_filter_pipeline(pages_df, policy_df)
    hist = {r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(out).collect()}
    assert sum(hist.values()) == 1500
    stats = filter_stats(out).collect()[0]
    assert stats["filtered_kept"] + stats["excluded_count"] == 1500
    assert stats["filtered_kept"] == hist.get("kept", 0)


class _FakeRow(dict):
    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class _FakeIcebergSession:
    """Captures the SQL the Iceberg checkpointer branch issues and
    serves the table-property store back — lets the catalog-backed
    branch (never reachable in this jar-less sandbox) be exercised:
    json round-trip, quote escaping, detect probe."""

    def __init__(self, have_catalog=True):
        self.props: dict[str, str] = {}
        self.have_catalog = have_catalog
        self.statements: list[str] = []

    def sql(self, stmt: str):
        import re

        self.statements.append(stmt)
        if ".snapshots" in stmt:
            if not self.have_catalog:
                raise RuntimeError("not an Iceberg table")
            return self
        if stmt.startswith("SHOW TBLPROPERTIES"):
            out = self
            out._rows = [
                _FakeRow({"key": k, "value": v}) for k, v in self.props.items()
            ]
            return out
        m = re.match(
            r"ALTER TABLE .* SET TBLPROPERTIES \('([^']+)' = '(.*)'\)$",
            stmt,
            re.DOTALL,
        )
        if m:
            self.props[m.group(1)] = m.group(2).replace("''", "'")
            return self
        raise AssertionError(f"unexpected sql: {stmt}")

    def collect(self):
        return getattr(self, "_rows", [])


def test_iceberg_checkpointer_property_branch(tmp_path):
    """Catalog present: the manifest must live in table properties,
    survive a 'new driver' (fresh checkpointer), and never touch the
    file manifest."""
    from fineweb_domain_analyzer_spark.plans.checkpoint import IcebergCheckpointer

    fake = _FakeIcebergSession()
    cp = IcebergCheckpointer(fake, "cat.db.t", str(tmp_path / "manifest.json"))
    assert cp._have_iceberg is True
    assert cp.processed_splits() == set()
    cp.mark_processed(["split-a"])
    cp.mark_processed(["split-b"])
    assert cp.processed_splits() == {"split-a", "split-b"}
    assert cp.pending(["split-a", "split-b", "split-c"]) == ["split-c"]
    # resume from a brand-new driver sharing only the catalog
    cp2 = IcebergCheckpointer(fake, "cat.db.t", str(tmp_path / "other.json"))
    assert cp2.processed_splits() == {"split-a", "split-b"}
    assert not (tmp_path / "manifest.json").exists()


def test_iceberg_checkpointer_fallback_branch(tmp_path):
    """No catalog: detect() is False and the file manifest carries the
    protocol unchanged."""
    from fineweb_domain_analyzer_spark.plans.checkpoint import IcebergCheckpointer

    fake = _FakeIcebergSession(have_catalog=False)
    cp = IcebergCheckpointer(fake, "cat.db.t", str(tmp_path / "manifest.json"))
    assert cp._have_iceberg is False
    cp.mark_processed(["s1"])
    assert cp.processed_splits() == {"s1"}
    assert (tmp_path / "manifest.json").exists()


def test_iceberg_branch_full_resume_against_real_catalog(spark, tmp_path):
    """The catalog branch end-to-end with REAL SQL execution: a plain
    session-catalog table serves the exact TBLPROPERTIES surface the
    Iceberg branch uses (SHOW TBLPROPERTIES / ALTER TABLE ... SET
    TBLPROPERTIES are identical statements on both), so with the
    detect probe forced (no Iceberg jar in this sandbox, and no
    network to vendor one) the whole run_resumable flow exercises
    _have_iceberg=True: property-store manifest, a crash inside the
    pass and its resume, quote escaping through the real parser — never
    the file fallback."""
    from fineweb_domain_analyzer_spark.plans.checkpoint import IcebergCheckpointer

    table = "ckpt_prop_store"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (k INT) USING parquet "
        f"LOCATION '{tmp_path / 'tbl'}'"
    )
    try:
        manifest = tmp_path / "never_created.json"
        out = str(tmp_path / "out")
        assert IcebergCheckpointer(
            spark, table, str(manifest), assume_iceberg=True
        )._have_iceberg is True
        # split name with a quote exercises escaping through the real
        # SQL parser, not a regex fake; each checkpointer is a 'new
        # driver' sharing only the catalog
        _crash_inside_the_pass(
            spark,
            out,
            lambda: IcebergCheckpointer(spark, table, str(manifest), assume_iceberg=True),
            ["a1", "b'2"],
        )
        # the property store really is the catalog, not a file
        assert not manifest.exists()
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
        }
        assert json.loads(props[IcebergCheckpointer.PROP]) == ["a1", "b'2"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_jvm_domain_path_labels_match_exact_udf(spark, pages, policy):
    """exact_domain=False (staged SQL domain) must produce the same
    keep/drop_reason labels as the urlparse-parity Arrow UDF on
    well-formed URLs, so the UDF-free plan may stand in for it there."""
    from fineweb_domain_analyzer_spark.plans.pipeline import (
        PipelineConfig,
        quality_filter_pipeline,
    )

    exact = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in quality_filter_pipeline(pages, policy).select(
            "url", "keep", "drop_reason"
        ).collect()
    }
    jvm = {
        r["url"]: (r["keep"], r["drop_reason"])
        for r in quality_filter_pipeline(
            pages, policy, PipelineConfig(exact_domain=False)
        ).select("url", "keep", "drop_reason").collect()
    }
    assert exact == jvm


def test_plan_construction_py4j_budget(pages, policy, monkeypatch):
    """Building the flagship plan costs a small, fixed number of Py4J
    commands: its staged projections are SQL text, one ``F.expr`` per
    column. Built from Python Column trees (one command per expression
    node) the same plan took 3,088 commands; the budget is a fifth of
    that. Memory-delete commands (``m\\nd\\n``) come from Python's
    garbage collector, not from the build, and are not counted."""
    from py4j.clientserver import ClientServerConnection

    quality_filter_pipeline(pages, policy, PipelineConfig())  # warm caches
    send = ClientServerConnection.send_command
    sent = []

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    quality_filter_pipeline(pages, policy, PipelineConfig())
    monkeypatch.undo()
    assert 0 < len(sent) <= 3088 // 5


def test_sql_literals_round_trip(spark):
    """Every Python value enters the generated SQL text through
    sql_lit: quotes and backslashes survive the parser unchanged, and
    numbers keep the type F.lit gives them."""
    from fineweb_domain_analyzer_spark.functions.sqltext import (
        sql_in,
        sql_lit,
    )

    words = ["it's", "back\\slash", "\\'", "end\\", "'", "ünï 中", "", "%_\\n"]
    row = spark.range(1).select(
        *[F.expr(sql_lit(w)).alias(f"w{i}") for i, w in enumerate(words)],
        F.expr(sql_lit(2**40)).alias("big"),
        F.expr(sql_lit(0.15)).alias("dbl"),
        F.expr(sql_lit(-3)).alias("neg"),
    )
    got = row.collect()[0]
    assert [got[f"w{i}"] for i in range(len(words))] == words
    assert (got["big"], got["dbl"], got["neg"]) == (2**40, 0.15, -3)
    types = {f.name: f.dataType.simpleString() for f in row.schema.fields}
    assert (types["big"], types["dbl"], types["neg"]) == ("bigint", "double", "int")
    # a stopword list holding such terms matches them as tokens
    toks = spark.createDataFrame([(w,) for w in words + ["other"]], "t string")
    hits = toks.filter(F.expr(sql_in("t", words))).collect()
    assert sorted(r["t"] for r in hits) == sorted(words)
