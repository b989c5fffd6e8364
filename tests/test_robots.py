"""robots.txt parser semantics — line cases from
/root/reference/fineweb_analyzer.py:320-349."""

from __future__ import annotations

from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.robots import (
    parse_robots_py,
    policy_from_robots_content,
)


def test_disallow_root_denies():
    r = parse_robots_py("User-agent: *\nDisallow: /")
    assert r["crawl_allowed"] is False


def test_path_disallow_recorded_not_denying():
    r = parse_robots_py("User-agent: *\nDisallow: /private\nDisallow: /tmp/")
    assert r["crawl_allowed"] is True
    assert r["disallowed_paths"] == ["/private", "/tmp/"]


def test_allow_lines_ignored():
    # The reference parser has no Allow handling (doc/code discrepancy;
    # code is oracle) — Allow must not rescue a Disallow: /.
    r = parse_robots_py("User-agent: *\nDisallow: /\nAllow: /public")
    assert r["crawl_allowed"] is False


def test_other_agent_section_not_applied():
    r = parse_robots_py("User-agent: googlebot\nDisallow: /")
    assert r["crawl_allowed"] is True


def test_ua_match_case_insensitive():
    r = parse_robots_py("User-Agent: MyBot\nDisallow: /", user_agent="mybot")
    assert r["crawl_allowed"] is False


def test_comments_and_blanks_skipped():
    r = parse_robots_py("# hello\n\nUser-agent: *\n# nope\nDisallow: /")
    assert r["crawl_allowed"] is False


def test_mixed_case_directives():
    r = parse_robots_py("USER-AGENT: *\nDISALLOW: /\nCRAWL-DELAY: 2.5")
    assert r["crawl_allowed"] is False
    assert r["crawl_delay"] == 2.5


def test_unparseable_crawl_delay_dropped():
    r = parse_robots_py("User-agent: *\nCrawl-delay: soon")
    assert r["crawl_delay"] is None


def test_empty_disallow_is_noop():
    r = parse_robots_py("User-agent: *\nDisallow:")
    assert r["crawl_allowed"] is True
    assert r["disallowed_paths"] == []


def test_section_switch_resets_applicability():
    r = parse_robots_py("User-agent: googlebot\nDisallow: /\nUser-agent: *\nDisallow: /x")
    assert r["crawl_allowed"] is True
    assert r["disallowed_paths"] == ["/x"]


def test_none_content_defaults_allow():
    r = parse_robots_py(None)
    assert r["crawl_allowed"] is True


def test_policy_from_robots_content(spark):
    rows = [
        ("a.com", "User-agent: *\nDisallow: /", None),
        ("b.com", "User-agent: *\nDisallow: /private\nCrawl-delay: 3", None),
        ("c.com", None, None),  # 404 branch → allowed
        ("d.com", None, "conn refused"),  # fetch error → denied
    ]
    df = spark.createDataFrame(
        rows, "domain string, robots_content string, error string"
    )
    got = {
        r["domain"]: r
        for r in policy_from_robots_content(df).collect()
    }
    assert got["a.com"]["crawl_allowed"] is False
    assert got["a.com"]["robots_exists"] is True
    assert got["b.com"]["crawl_allowed"] is True
    assert got["b.com"]["crawl_delay"] == 3.0
    assert got["b.com"]["disallowed_paths"] == ["/private"]
    assert got["c.com"]["crawl_allowed"] is True
    assert got["c.com"]["robots_exists"] is False
    assert got["d.com"]["crawl_allowed"] is False
    assert got["d.com"]["error"] == "conn refused"


def test_parser_roundtrip_against_fixture(spark, fixtures_dir):
    """Re-parse the frozen robots_content from the reference snapshot and
    check our parser reproduces the recorded crawl_allowed for every
    domain where content was captured (robots_exists=True)."""
    import json

    with open(fixtures_dir / "robots_check_20250724_133214.json") as f:
        results = json.load(f)["results"]
    checked = 0
    for domain, rec in results.items():
        if rec.get("robots_exists") and "robots_content" in rec:
            parsed = parse_robots_py(rec["robots_content"])
            assert parsed["crawl_allowed"] == rec["crawl_allowed"], domain
            checked += 1
    assert checked > 0


# --- live pre-fetch job (mock fetcher, no network) ---------------------------

def _make_mock_fetch():
    """Factory returning a nested mock fetcher: nested so cloudpickle
    ships it BY VALUE to executors (test modules aren't importable in
    Spark's python workers)."""

    def fetch(url: str):
        proto, rest = url.split("://", 1)
        domain = rest.split("/", 1)[0]
        if domain.startswith("denyall"):
            return 200, "User-agent: *\nDisallow: /"
        if domain.startswith("partial"):
            return 200, "User-agent: *\nDisallow: /private/\nCrawl-delay: 2"
        if domain.startswith("missing"):
            return 404, ""
        if domain.startswith("flaky"):
            # https errors, http succeeds -> reference tries next protocol
            if proto == "https":
                raise ConnectionError("tls boom")
            return 200, "User-agent: *\nDisallow: /"
        if domain.startswith("weird"):
            return 403, ""  # non-200/404 on both protos -> default allow
        raise ConnectionError("down")  # both protos fail -> denied + error

    return fetch


def test_fetch_robots_policy_truth_table(spark):
    from fineweb_domain_analyzer_spark.functions.robots import fetch_robots_policy

    doms = spark.createDataFrame(
        [("denyall.com",), ("partial.com",), ("missing.com",),
         ("flaky.com",), ("weird.com",), ("dead.com",)],
        "domain string",
    )
    rows = {
        r["domain"]: r
        for r in fetch_robots_policy(
            doms, fetcher=_make_mock_fetch(), n_tasks=2, max_workers_per_task=3
        ).collect()
    }
    assert rows["denyall.com"]["crawl_allowed"] is False
    assert rows["denyall.com"]["robots_exists"] is True
    assert rows["partial.com"]["crawl_allowed"] is True
    assert rows["partial.com"]["crawl_delay"] == 2.0
    assert list(rows["partial.com"]["disallowed_paths"]) == ["/private/"]
    assert rows["missing.com"]["crawl_allowed"] is True
    assert rows["missing.com"]["robots_exists"] is False
    # https failed but http served a deny-all robots
    assert rows["flaky.com"]["crawl_allowed"] is False
    assert rows["flaky.com"]["error"] is None
    # non-200/404 statuses on both protocols: reference default-allows
    assert rows["weird.com"]["crawl_allowed"] is True
    assert rows["weird.com"]["error"] is None
    # connection failure on both protocols: denied with error recorded
    assert rows["dead.com"]["crawl_allowed"] is False
    assert rows["dead.com"]["error"] is not None


def test_cli_fetch_live_end_to_end(spark, tmp_path):
    """--fetch-live through check_robots with the fetcher injected at
    the seam the CLI exposes for tests (no network)."""
    import json

    from fineweb_domain_analyzer_spark import cli as cli_mod

    args = cli_mod.build_parser().parse_args(
        ["--check-robots", "--fetch-live", "--domains", "unused.json",
         "--output", str(tmp_path),
         "--run-ts", "20250101_000000", "--run-iso", "2025-01-01T00:00:00"]
    )
    results = cli_mod.check_robots(
        spark, args, domains=["denyall.com", "missing.com"],
        fetcher=_make_mock_fetch(),
    )
    assert results["denyall.com"]["crawl_allowed"] is False
    assert results["missing.com"]["crawl_allowed"] is True
    out = json.loads((tmp_path / "robots_check_20250101_000000.json").read_text())
    assert out["results"]["denyall.com"]["robots_exists"] is True


def test_urllib_fallback_fetcher_matches_requests_retry_semantics(monkeypatch):
    """With requests absent, the urllib fallback must RAISE after
    exhausting retries on 429/5xx (denied downstream, like the requests
    path's Retry) and return non-retryable statuses immediately."""
    import sys
    import time as time_mod
    import urllib.error
    import urllib.request

    import fineweb_domain_analyzer_spark.functions.robots as robots_mod

    monkeypatch.setitem(sys.modules, "requests", None)  # force ImportError
    monkeypatch.setattr(time_mod, "sleep", lambda s: None)
    calls = {"n": 0}

    def fake_urlopen(url, timeout=None):
        calls["n"] += 1
        code = 503 if "flaky503" in url else 403
        raise urllib.error.HTTPError(url, code, "boom", {}, None)

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    fetch = robots_mod._default_fetcher(timeout=1)
    # non-retryable: one attempt, returned as a status
    assert fetch("https://forbidden.example/robots.txt") == (403, "")
    assert calls["n"] == 1
    # retryable: 4 attempts then ConnectionError
    calls["n"] = 0
    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        fetch("https://flaky503.example/robots.txt")
    assert calls["n"] == 4


class TestSitemaps:
    """RFC 9309 Sitemap extraction (functions/robots.py:
    sitemaps_from_robots) — the non-group directive the reference
    parser ignores."""

    def test_variants_and_order(self, spark):
        from fineweb_domain_analyzer_spark.functions.robots import (
            sitemaps_from_robots,
        )

        df = spark.createDataFrame(
            [
                # inside a group, standard form
                ("a.com", "User-agent: *\nDisallow: /\nSitemap: https://a.com/s.xml"),
                # case + spacing variants, two sitemaps, outside any group
                ("b.com", "SITEMAP:https://b.com/1.xml\n  sitemap:   https://b.com/2.xml"),
                # no directive
                ("c.com", "User-agent: *\nDisallow: /x"),
                # null body
                ("d.com", None),
                # directive with no value → dropped
                ("e.com", "Sitemap:   "),
                # tab-indented directive: the extraction regex's \s
                ("f.com", "User-agent: *\n\tSitemap: https://f.com/t.xml"),
            ],
            "domain string, robots_content string",
        )
        rows = sitemaps_from_robots(df).collect()
        got = sorted((r["domain"], r["sitemap_url"], r["sm_idx"]) for r in rows)
        assert got == [
            ("a.com", "https://a.com/s.xml", 0),
            ("b.com", "https://b.com/1.xml", 0),
            ("b.com", "https://b.com/2.xml", 1),
            ("f.com", "https://f.com/t.xml", 0),
        ]

    def test_zero_exchanges(self, spark):
        from fineweb_domain_analyzer_spark.queries import q109_sitemaps

        plan = (
            q109_sitemaps(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the only exchange allowed is the tiny sources-distinct
        assert plan.count("Exchange") <= 2
