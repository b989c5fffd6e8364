"""Stage-2 domain aggregation vs the reference's domains_detailed golden
(SURVEY §5.3) + salted-variant equivalence."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.operators.domain_stats import (
    distinct_domains,
    domain_stats,
    domain_stats_salted,
)
from fineweb_domain_analyzer_spark.operators.filtering import with_domain
from fineweb_domain_analyzer_spark.sources.jsonl import read_jsonl_with_raw


@pytest.fixture(scope="module")
def pages(spark, fixtures_dir):
    df = read_jsonl_with_raw(spark, str(fixtures_dir / "test_data.jsonl"))
    # reference stage 2 skips rows without url (line 172)
    return with_domain(df.filter(F.col("url").isNotNull() & (F.col("url") != ""))).cache()


@pytest.fixture(scope="module")
def golden(fixtures_dir):
    with open(fixtures_dir / "domains_detailed_20250724_132950.json") as f:
        return json.load(f)["domains"]


def test_counts_and_tld_match_golden(pages, golden):
    rows = {r["domain"]: r for r in domain_stats(pages, order_col="id").collect()}
    assert set(rows) == set(golden)
    for dom, g in golden.items():
        assert rows[dom]["count"] == g["count"], dom
        assert rows[dom]["tld"] == g["tld"], dom


def test_top5_urls_match_golden_as_sets(pages, golden):
    """The reference keeps the FIRST 5 urls in input order; our engine
    keeps a deterministic 5 (ordered by id, which encodes input order
    in the fixtures: '<stem>_<N>'). For domains with ≤5 rows the sets
    must match exactly; for >5-row domains ours must be a subset check
    on length only (order key differs: lexicographic id vs numeric)."""
    rows = {r["domain"]: r for r in domain_stats(pages, order_col="id").collect()}
    for dom, g in golden.items():
        ours = rows[dom]["urls"]
        assert len(ours) == len(g["urls"]), dom
        if g["count"] <= 5:
            assert sorted(ours) == sorted(g["urls"]), dom


def test_salted_equals_plain(pages):
    plain = {
        (r["domain"], r["count"], tuple(r["urls"])): 1
        for r in domain_stats(pages, order_col="id").collect()
    }
    salted = {
        (r["domain"], r["count"], tuple(r["urls"])): 1
        for r in domain_stats_salted(pages, n_salts=4, order_col="id").collect()
    }
    assert plain == salted


def test_distinct_domains_matches_simple_golden(pages, fixtures_dir):
    with open(fixtures_dir / "domains_simple_20250724_132950.json") as f:
        golden = json.load(f)["domains"]
    ours = sorted(r["domain"] for r in distinct_domains(pages).collect())
    assert ours == sorted(golden)


def test_hot_domain_bounded_top5(spark):
    """One domain holding >50% of rows (Zipf head): the bounded window
    path must return the exact smallest-5 and agree with the salted
    variant. Guards the no-unbounded-collect default (VERDICT r1 §3)."""
    n = 2000
    rows = spark.range(n).select(
        F.when(F.col("id") < 1200, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 97).cast("string"), F.lit(".example.com")))
        .alias("domain"),
        F.format_string("https://x/%05d", F.col("id")).alias("url"),
    )
    plain = {r["domain"]: r for r in domain_stats(rows).collect()}
    hot = plain["hot.example.com"]
    assert hot["count"] == 1200
    assert hot["urls"] == [f"https://x/{i:05d}" for i in range(5)]
    salted = {r["domain"]: r for r in domain_stats_salted(rows, n_salts=8).collect()}
    assert {d: (r["count"], tuple(r["urls"])) for d, r in plain.items()} == {
        d: (r["count"], tuple(r["urls"])) for d, r in salted.items()
    }


def test_empty_string_timestamp_falls_back_to_run_ts(spark):
    """Reference semantics: `record.get('timestamp') or now()` — an
    EMPTY-string timestamp must fall back, not propagate '' into
    first/last_seen (ADVICE r1)."""
    rows = spark.createDataFrame(
        [
            ("a.com", "u1", ""),
            ("a.com", "u2", None),
            ("b.com", "u3", "2025-01-02T00:00:00"),
        ],
        "domain string, url string, ts string",
    )
    out = {
        r["domain"]: r
        for r in domain_stats(rows, ts_col="ts", run_ts="RUNTS").collect()
    }
    assert out["a.com"]["first_seen"] == "RUNTS"
    assert out["a.com"]["last_seen"] == "RUNTS"
    assert out["b.com"]["first_seen"] == "2025-01-02T00:00:00"
    salted = {
        r["domain"]: r
        for r in domain_stats_salted(rows, ts_col="ts", run_ts="RUNTS").collect()
    }
    assert salted["a.com"]["first_seen"] == "RUNTS"


class TestDomainSignatureTerms:
    """domain_signature_terms: per-domain tf-idf heavy hitters (q95)."""

    def _run(self, spark, rows, k=10):
        from fineweb_domain_analyzer_spark.operators.domain_stats import (
            domain_signature_terms,
        )

        df = spark.createDataFrame(
            rows, "source string, _tk array<string>"
        )
        return {
            (r["domain"], r["rnk"]): (
                r["token"], r["tf"], r["df"], r["score_e4"]
            )
            for r in domain_signature_terms(
                df, domain_col="source", k=k
            ).collect()
        }

    def test_shared_stopword_ranks_below_site_jargon(self, spark):
        # "the" appears in both domains (df=2); each site's jargon has
        # df=1. For site A: jargon tf=2 -> 2*10000//1 = 20000 beats
        # "the" tf=3 -> 3*10000//2 = 15000.
        out = self._run(
            spark,
            [
                ("a.com", ["the", "spark", "the", "spark", "the"]),
                ("b.com", ["the", "quantum"]),
            ],
        )
        assert out[("a.com", 1)] == ("spark", 2, 1, 20000)
        assert out[("a.com", 2)] == ("the", 3, 2, 15000)
        assert out[("b.com", 1)] == ("quantum", 1, 1, 10000)
        assert out[("b.com", 2)] == ("the", 1, 2, 5000)

    def test_ties_break_on_tf_then_token(self, spark):
        # two df=1 tokens with equal score: higher tf first; equal tf
        # -> lexicographic token order.
        out = self._run(
            spark,
            [("c.com", ["zz", "aa"]), ("d.com", ["other"])],
        )
        assert out[("c.com", 1)] == ("aa", 1, 1, 10000)
        assert out[("c.com", 2)] == ("zz", 1, 1, 10000)

    def test_k_bounds_output(self, spark):
        rows = [("e.com", [f"t{i}" for i in range(30)]), ("f.com", ["x"])]
        out = self._run(spark, rows, k=5)
        assert sum(1 for (d, _r) in out if d == "e.com") == 5

    def test_empty_tokens_dropped(self, spark):
        out = self._run(spark, [("g.com", ["", "word", ""])])
        assert out[("g.com", 1)] == ("word", 1, 1, 10000)
        assert len(out) == 1

    def test_q95_matches_duckdb_oracle(self, spark, sf_dir):
        import duckdb

        from fineweb_domain_analyzer_spark import queries as q

        got = sorted(
            tuple(r) for r in q.q95_domain_signature_terms(
                spark, str(sf_dir)
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        want = sorted(tuple(t) for t in con.execute(q.Q95_SQL).fetchall())
        assert got == want


def test_ties_and_null_ids_match_python_oracle(spark):
    """Rows tied on ``id`` break on ``url``; null ids rank first; exact
    duplicates count twice. domain_stats and domain_stats_salted both
    equal a pure-Python oracle of the reference's per-domain record."""
    rows = [
        ("a.com", "2", "https://a.com/b", "2024-01-02"),
        ("a.com", "2", "https://a.com/a", ""),
        ("a.com", None, "https://a.com/z", "2024-01-05"),
        ("a.com", None, "https://a.com/y", None),
        ("a.com", "1", "https://a.com/c", "2024-01-01"),
        ("a.com", "1", "https://a.com/c", "2024-01-03"),
        ("a.com", "3", "https://a.com/0", "2024-01-04"),
        ("b", None, "https://b/x", None),
        ("c.org", "9", "https://c.org/x", "2023-12-31"),
        ("", "1", "https://e/", "2024-01-01"),
        (None, "1", "https://n/", "2024-01-01"),
    ]
    run_ts = "2024-06-01"

    def oracle():
        out = {}
        for dom in {r[0] for r in rows if r[0]}:
            mine = [r for r in rows if r[0] == dom]
            ranked = sorted(mine, key=lambda r: (r[1] is not None, r[1] or "", r[2]))
            seen = [r[3] or run_ts for r in mine]
            out[dom] = {
                "count": len(mine),
                "urls": [r[2] for r in ranked[:5]],
                "tld": dom.rsplit(".", 1)[-1] if "." in dom else "",
                "first_seen": min(seen),
                "last_seen": max(seen),
            }
        return out

    df = spark.createDataFrame(rows, "domain string, id string, url string, ts string")
    kw = dict(order_col="id", ts_col="ts", run_ts=run_ts)
    want = oracle()
    assert want["a.com"]["urls"] == [
        "https://a.com/y", "https://a.com/z", "https://a.com/c",
        "https://a.com/c", "https://a.com/a",
    ]
    for frame in (domain_stats(df, **kw), domain_stats_salted(df, n_salts=4, **kw)):
        got = {r["domain"]: {k: v for k, v in r.asDict().items() if k != "domain"}
               for r in frame.collect()}
        assert got == want
