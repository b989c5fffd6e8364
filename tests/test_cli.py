"""Reference-compatible CLI end-to-end: every verb the reference user
runs today, against the reference's own fixtures, producing the same
artifacts (filter path must reproduce the golden 34/16 byte-identically)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from fineweb_domain_analyzer_spark import cli
from fineweb_domain_analyzer_spark.sources.warc import write_warc_file


def _args(**kw):
    import argparse

    defaults = dict(
        input=None,
        output="output",
        verbose=False,
        domains=None,
        robots=None,
        max_records=None,
        timeout=10,
        max_workers=10,
        user_agent="*",
        robots_content=None,
        run_ts="20250724_133214",
        run_iso="2025-07-24T13:32:14",
        master=None,
    )
    defaults.update(kw)
    return argparse.Namespace(**defaults)


def test_filter_content_reproduces_golden(spark, fixtures_dir, tmp_path):
    args = _args(
        input=str(fixtures_dir / "test_data.jsonl"),
        robots=str(fixtures_dir / "robots_check_20250724_133214.json"),
        output=str(tmp_path),
    )
    filtered_file, excluded_file, stats = cli.filter_content(spark, args)
    assert stats == {
        "total_processed": 50,
        "filtered_kept": 34,
        "excluded_count": 16,
        "keep_ratio": 68.0,
    }
    golden_kept = sorted(
        l.rstrip("\n")
        for l in open(fixtures_dir / "filtered_test_data_20250724_133214.jsonl")
        if l.strip()
    )
    ours_kept = sorted(l.rstrip("\n") for l in open(filtered_file) if l.strip())
    assert ours_kept == golden_kept  # byte-identical kept lines
    golden_excl = sorted(
        l.rstrip("\n")
        for l in open(fixtures_dir / "excluded_test_data_20250724_133214.jsonl")
        if l.strip()
    )
    ours_excl = sorted(l.rstrip("\n") for l in open(excluded_file) if l.strip())
    assert ours_excl == golden_excl
    # stats artifact exists and matches the reference format
    stats_doc = json.load(open(Path(args.output) / "filter_stats_20250724_133214.json"))
    assert stats_doc["statistics"] == stats


def test_extract_domains_matches_golden_list(spark, fixtures_dir, tmp_path):
    args = _args(input=str(fixtures_dir / "test_data.jsonl"), output=str(tmp_path))
    detailed = cli.extract_domains(spark, args)
    golden = json.load(open(fixtures_dir / "domains_simple_20250724_132950.json"))
    assert sorted(detailed.keys()) == sorted(golden["domains"])
    simple_doc = json.load(open(tmp_path / "domains_simple_20250724_133214.json"))
    assert simple_doc["domains"] == sorted(golden["domains"])
    gd = json.load(open(fixtures_dir / "domains_detailed_20250724_132950.json"))["domains"]
    for d, rec in gd.items():
        assert detailed[d]["count"] == rec["count"], d
        assert detailed[d]["tld"] == rec["tld"], d


def test_check_robots_offline_snapshot(spark, fixtures_dir, tmp_path):
    """Feed the frozen robots bodies back through the parser; domains
    with content parse to their recorded crawl_allowed, domains without
    content default to allowed (404 semantics)."""
    ref = json.load(open(fixtures_dir / "robots_check_20250724_133214.json"))["results"]
    contents = {
        d: r["robots_content"]
        for d, r in ref.items()
        if r.get("robots_exists") and "robots_content" in r
    }
    content_file = tmp_path / "robots_bodies.json"
    content_file.write_text(json.dumps(contents), encoding="utf-8")
    domains_file = tmp_path / "domains.json"
    domains_file.write_text(json.dumps({"domains": sorted(ref.keys())}))
    args = _args(
        domains=str(domains_file),
        robots_content=str(content_file),
        output=str(tmp_path),
    )
    results = cli.check_robots(spark, args)
    assert set(results) == set(ref)
    for d in contents:
        assert results[d]["crawl_allowed"] == ref[d]["crawl_allowed"], d
    # artifact format parity
    doc = json.load(open(tmp_path / "robots_check_20250724_133214.json"))
    assert set(doc) == {"metadata", "results"}
    assert doc["metadata"]["total_domains"] == len(ref)


def test_warc_to_json_and_all_steps(spark, tmp_path):
    warc = tmp_path / "mini.warc"
    write_warc_file(
        [
            {
                "rec_type": "response",
                "url": "https://www.alpha.example.com/a",
                "date": "2024-06-12T00:00:00Z",
                "body": b"<html>alpha</html>",
            },
            {"rec_type": "request", "url": "https://alpha.example.com/a", "body": b"GET /"},
            {
                "rec_type": "response",
                "url": "https://beta.example.com:8080/b",
                "date": "2024-06-12T00:01:00Z",
                "body": b"<html>beta</html>",
            },
        ],
        str(warc),
    )
    args = _args(input=str(warc), output=str(tmp_path / "out"))
    jsonl = cli.warc_to_json(spark, args)
    lines = [json.loads(l) for l in open(jsonl) if l.strip()]
    assert len(lines) == 2  # response records only
    urls = {l["url"] for l in lines}
    assert urls == {"https://www.alpha.example.com/a", "https://beta.example.com:8080/b"}
    # chain the remaining steps like --all-steps does
    detailed = cli.extract_domains(spark, args, str(jsonl))
    assert set(detailed) == {"alpha.example.com", "beta.example.com:8080"}
    results = cli.check_robots(spark, args, domains=sorted(detailed))
    assert all(r["crawl_allowed"] for r in results.values())  # default-allow
    _, _, stats = cli.filter_content(
        spark, args, robots_results=results, jsonl_path=str(jsonl)
    )
    assert stats["total_processed"] == 2 and stats["filtered_kept"] == 2


def test_warc_timestamps_flow_into_domain_stats(spark, tmp_path):
    """Reference parity (fineweb_analyzer.py:181-187): WARC-derived
    records carry WARC-Date as `timestamp`, and first_seen/last_seen
    must record it — not the run timestamp fallback."""
    warc = tmp_path / "ts.warc"
    write_warc_file(
        [
            {
                "rec_type": "response",
                "url": "https://t1.example.com/a",
                "date": "2024-06-12T01:02:03Z",
                "body": b"one",
            },
            {
                "rec_type": "response",
                "url": "https://t1.example.com/b",
                "date": "2024-06-13T04:05:06Z",
                "body": b"two",
            },
        ],
        str(warc),
    )
    args = _args(input=str(warc), output=str(tmp_path / "out"))
    jsonl = cli.warc_to_json(spark, args)
    # reference filename parity: Path('ts.warc').stem == 'ts'
    assert Path(jsonl).name == "ts.jsonl"
    detailed = cli.extract_domains(spark, args, str(jsonl))
    stats = detailed["t1.example.com"]
    assert stats["first_seen"] == "2024-06-12T01:02:03Z"
    assert stats["last_seen"] == "2024-06-13T04:05:06Z"


def test_filter_content_partitioned_output_same_lines(spark, fixtures_dir, tmp_path):
    """--partitioned-output must produce the same byte-identical line
    sets as the single-file reference-shape mode."""
    args = _args(
        input=str(fixtures_dir / "test_data.jsonl"),
        robots=str(fixtures_dir / "robots_check_20250724_133214.json"),
        output=str(tmp_path),
        partitioned_output=True,
    )
    filtered, excluded, stats = cli.filter_content(spark, args)
    assert stats["filtered_kept"] == 34 and stats["excluded_count"] == 16
    import glob

    def lines(d):
        out = []
        for p in sorted(glob.glob(f"{d}/*.txt")):
            out += [l.rstrip("\n") for l in open(p, encoding="utf-8") if l.strip()]
        return out

    kept = lines(filtered)
    gold = [
        l.rstrip("\n")
        for l in open(fixtures_dir / "filtered_test_data_20250724_133214.jsonl", encoding="utf-8")
        if l.strip()
    ]
    assert sorted(kept) == sorted(gold)


def test_cli_main_in_process_preserves_caller_session(spark, fixtures_dir, tmp_path):
    """cli.main must not stop a caller-owned SparkSession (same
    ownership contract as job.main)."""
    rc = cli.main(
        [
            "--input",
            str(fixtures_dir / "test_data.jsonl"),
            "--robots",
            str(fixtures_dir / "robots_check_20250724_133214.json"),
            "--filter-content",
            "--output",
            str(tmp_path),
            "--run-ts",
            "20250724_000000",
        ]
    )
    assert rc == 0
    # the shared session must still be alive and usable...
    assert spark.range(3).count() == 3
    # ...and UNRECONFIGURED: get_spark_owned must not apply the
    # engine's default confs to a caller-owned session
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_cli_stream_ingest_incremental(spark, tmp_path):
    """--stream-ingest drains new files once, is a no-op on re-run, and
    picks up only the delta after another dump lands."""
    from fineweb_domain_analyzer_spark.sources.pages import synth_pages

    in_dir = str(tmp_path / "landing")
    out_dir = tmp_path / "out"
    synth_pages(spark, 200, n_domains=20, seed=7, partitions=1).write.mode(
        "append"
    ).parquet(in_dir)

    argv = ["--input", in_dir, "--output", str(out_dir), "--stream-ingest"]
    assert cli.main(argv) == 0
    first = spark.read.parquet(str(out_dir / "pages"))
    assert first.count() == 200
    # the full labeled schema flows through the CLI verb
    assert {"keep", "drop_reason", "scrubbed_text"} <= set(first.columns)

    # re-run with nothing new: exactly-once at file granularity
    assert cli.main(argv) == 0
    assert spark.read.parquet(str(out_dir / "pages")).count() == 200

    synth_pages(
        spark, 100, n_domains=20, seed=8, partitions=1, start=200
    ).write.mode("append").parquet(in_dir)
    assert cli.main(argv) == 0
    assert spark.read.parquet(str(out_dir / "pages")).count() == 300


def test_cli_stream_ingest_new_gates(spark, tmp_path):
    """--drop-page-types / --enforce-doc-shape flow through the CLI verb
    into PipelineConfig (page_type column present, gate reasons live)."""
    from fineweb_domain_analyzer_spark.sources.pages import synth_pages

    in_dir = str(tmp_path / "landing")
    out_dir = tmp_path / "out"
    synth_pages(spark, 150, n_domains=15, seed=11, partitions=1).write.mode(
        "append"
    ).parquet(in_dir)

    argv = [
        "--input", in_dir, "--output", str(out_dir), "--stream-ingest",
        "--drop-page-types", "error_page, login_wall",
        "--enforce-doc-shape",
    ]
    assert cli.main(argv) == 0
    out = spark.read.parquet(str(out_dir / "pages"))
    assert out.count() == 150
    # gate columns materialized by the configured pipeline
    assert {"page_type", "bullet_start_frac"} <= set(out.columns)
    # synthetic prose matches no real-world phrase rule: all content,
    # everything else labeled by the reference-parity gates
    assert out.filter(out.page_type != "content").count() == 0


def test_wet_to_json(spark, tmp_path):
    wet = tmp_path / "mini.warc.wet"
    write_warc_file(
        [
            {"rec_type": "warcinfo", "url": "", "body": b"software: t"},
            {
                "rec_type": "conversion",
                "url": "https://alpha.example.com/a",
                "date": "2024-06-12T00:00:00Z",
                "warc_content_type": "text/plain",
                "body": "plain alpha text".encode(),
            },
            {
                "rec_type": "conversion",
                "url": "https://beta.example.com/b",
                "date": "2024-06-12T00:01:00Z",
                "warc_content_type": "text/plain",
                "body": "plain beta text".encode(),
            },
        ],
        str(wet),
    )
    args = _args(input=str(wet), output=str(tmp_path / "out"), wet_to_json=True)
    jsonl = cli.warc_to_json(spark, args, wet=True)
    lines = [json.loads(l) for l in open(jsonl) if l.strip()]
    assert len(lines) == 2  # warcinfo dropped
    by_url = {l["url"]: l for l in lines}
    assert by_url["https://alpha.example.com/a"]["content"] == "plain alpha text"
    assert by_url["https://alpha.example.com/a"]["content_type"] == "text/plain"
    assert "status_code" not in by_url["https://alpha.example.com/a"] or by_url[
        "https://alpha.example.com/a"
    ]["status_code"] is None


def test_cli_data_card(spark, tmp_path):
    """--data-card aggregates a labeled parquet dir into data_card.json
    with internally consistent sections."""
    import json as _json

    from fineweb_domain_analyzer_spark.plans.pipeline import (
        quality_filter_pipeline,
    )
    from fineweb_domain_analyzer_spark.sources.pages import (
        synth_pages,
        synth_policy_for_domains,
    )

    labeled_dir = str(tmp_path / "labeled")
    out_dir = tmp_path / "card"
    pages = synth_pages(spark, 300, n_domains=30, seed=13, partitions=2)
    policy = synth_policy_for_domains(spark, 30)
    quality_filter_pipeline(pages, policy).write.parquet(labeled_dir)

    argv = ["--input", labeled_dir, "--output", str(out_dir), "--data-card"]
    assert cli.main(argv) == 0
    card = _json.loads((out_dir / "data_card.json").read_text())
    assert card["overall"]["all"]["docs"] == 300
    dec = card["decision"]
    assert dec["kept"]["docs"] + dec.get("dropped", {"docs": 0})["docs"] == 300
    assert sum(v["docs"] for v in card["drop_reason"].values()) == 300
    assert (
        sum(v["docs"] for v in card["language_kept"].values())
        == dec["kept"]["docs"]
    )
    # word totals are consistent across sections too
    assert (
        sum(v["words"] for v in card["drop_reason"].values())
        == card["overall"]["all"]["words"]
    )


def test_cli_drop_page_types_typo_fails_loudly(spark, tmp_path):
    """A typo'd page class must error out, not silently no-op the gate."""
    import pytest as _pytest

    from fineweb_domain_analyzer_spark.sources.pages import synth_pages

    in_dir = str(tmp_path / "landing")
    synth_pages(spark, 10, n_domains=2, seed=3, partitions=1).write.parquet(
        in_dir
    )
    argv = [
        "--input", in_dir, "--output", str(tmp_path / "o"),
        "--stream-ingest", "--drop-page-types", "soft404,login-wall",
    ]
    with _pytest.raises(SystemExit, match="unknown page type"):
        cli.main(argv)


def _robots_bodies(fixtures_dir, path) -> Path:
    """The frozen snapshot as a --robots-content map: its bodies, and
    ``Disallow: /`` for the domains it denies."""
    ref = json.load(open(fixtures_dir / "robots_check_20250724_133214.json"))
    bodies = {
        d: r["robots_content"]
        if r["crawl_allowed"]
        else "User-agent: *\nDisallow: /"
        for d, r in ref["results"].items()
        if "robots_content" in r or not r["crawl_allowed"]
    }
    path.write_text(json.dumps(bodies), encoding="utf-8")
    return path


def _domain_udf_nodes(df) -> int:
    """ArrowEvalPython nodes evaluating extract_domain_udf in ``df``'s
    physical plan (formatted explain: one section per plan node)."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return sum(
        "extract_domain_udf" in section
        for section in re.split(r"\n(?=\(\d+\) )", plan)
        if re.match(r"\(\d+\) ArrowEvalPython", section)
    )


def _capture_domain_stats(monkeypatch) -> list:
    """Patch the CLI's domain_stats to record the UDF node count of
    each frame it builds (while the verb's inputs are still persisted)."""
    nodes = []

    def capture(*a, **kw):
        df = cli_domain_stats(*a, **kw)
        nodes.append(_domain_udf_nodes(df))
        return df

    cli_domain_stats = cli.domain_stats
    monkeypatch.setattr(cli, "domain_stats", capture)
    return nodes


def test_extract_domains_evaluates_domain_udf_once(spark, fixtures_dir, tmp_path, monkeypatch):
    """domain_stats' non-empty-domain filter must not be pushed below
    the UDF's projection: one ArrowEvalPython evaluates the UDF."""
    nodes = _capture_domain_stats(monkeypatch)
    args = _args(input=str(fixtures_dir / "test_data.jsonl"), output=str(tmp_path))
    cli.extract_domains(spark, args)
    assert nodes == [1]


def test_all_steps_matches_separate_verbs(spark, fixtures_dir, tmp_path, monkeypatch):
    """--all-steps (one parse, one domain pass, driver-side robots
    parse) writes the same artifacts as the three verbs run one by one,
    and leaves no persisted data behind."""
    bodies = _robots_bodies(fixtures_dir, tmp_path / "bodies.json")
    data = str(fixtures_dir / "test_data.jsonl")
    common = ["--robots-content", str(bodies), "--run-ts", "20250724_133214",
              "--run-iso", "2025-07-24T13:32:14"]
    one, sep = tmp_path / "one", tmp_path / "sep"
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    nodes = _capture_domain_stats(monkeypatch)
    assert cli.main(["--input", data, "--all-steps", "--output", str(one), *common]) == 0
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert nodes == [1]

    assert cli.main(["--input", data, "--extract-domains", "--output", str(sep), *common]) == 0
    domains = sep / "domains_simple_20250724_133214.json"
    assert cli.main(["--domains", str(domains), "--check-robots", "--output", str(sep), *common]) == 0
    robots = sep / "robots_check_20250724_133214.json"
    assert cli.main(["--input", data, "--robots", str(robots), "--filter-content",
                     "--output", str(sep), *common]) == 0

    names = sorted(p.name for p in one.iterdir())
    assert names == sorted(p.name for p in sep.iterdir())
    assert len(names) == 6
    for name in names:
        a, b = ((d / name).read_text(encoding="utf-8") for d in (one, sep))
        if name.startswith("filter_stats_"):
            # the stats name the artifacts by path
            a = a.replace(str(one), str(sep))
        assert a == b, name
    stats = json.loads((one / "filter_stats_20250724_133214.json").read_text())
    assert stats["statistics"] == {
        "total_processed": 50,
        "filtered_kept": 34,
        "excluded_count": 16,
        "keep_ratio": 68.0,
    }


def test_offline_check_robots_matches_policy_udf(spark, tmp_path):
    """The driver-side offline parse gives policy_from_robots_content's
    fields on the parser's truth table."""
    from fineweb_domain_analyzer_spark.functions.robots import (
        policy_from_robots_content,
    )

    bodies = {
        "null.com": None,
        "deny.com": "User-agent: *\nDisallow: /",
        "paths.com": "User-agent: *\nDisallow: /private\nCrawl-delay: 3",
        "baddelay.com": "User-agent: *\nCrawl-delay: soon",
        "otherua.com": "User-agent: googlebot\nDisallow: /",
        "empty.com": "",
    }
    domains = [*bodies, "absent.com"]
    (tmp_path / "bodies.json").write_text(json.dumps(bodies))
    (tmp_path / "domains.json").write_text(json.dumps({"domains": domains}))
    args = _args(
        domains=str(tmp_path / "domains.json"),
        robots_content=str(tmp_path / "bodies.json"),
        output=str(tmp_path),
    )
    results = cli.check_robots(spark, args)
    df = spark.createDataFrame(
        [(d, bodies.get(d), None) for d in domains],
        "domain string, robots_content string, error string",
    )
    fields = ["robots_exists", "crawl_allowed", "crawl_delay", "disallowed_paths", "error"]
    expected = {
        r["domain"]: {f: r[f] for f in fields}
        for r in policy_from_robots_content(df).collect()
    }
    assert {d: {f: r[f] for f in fields} for d, r in results.items()} == expected
    assert results["deny.com"]["crawl_allowed"] is False
    assert results["baddelay.com"]["crawl_delay"] is None
    assert results["otherua.com"]["crawl_allowed"] is True
    assert "robots_content" not in results["null.com"]
    assert results["empty.com"]["robots_content"] == ""


def _executed_plans(spark, description: str) -> list[str]:
    """Physical plans of the SQL executions run under ``description``."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).description() == description
    ]


def test_verbs_run_no_fixed_cost_jobs(spark, fixtures_dir, tmp_path, monkeypatch):
    """The filter's policy dim is a LocalRelation, whether it comes from
    --robots or from check_robots' results (an RDD-backed dim costs a
    collect job to broadcast), and extract_domains sorts its rows on the
    driver (no range-partition sample job, no second shuffle)."""
    dims = []

    def capture(pages, policy, *a, **kw):
        dims.append(policy._jdf.queryExecution().analyzed().nodeName())
        return cli_label_by_domain(pages, policy, *a, **kw)

    cli_label_by_domain = cli.label_by_domain
    monkeypatch.setattr(cli, "label_by_domain", capture)
    robots = fixtures_dir / "robots_check_20250724_133214.json"
    args = _args(
        input=str(fixtures_dir / "test_data.jsonl"),
        robots=str(robots),
        output=str(tmp_path),
    )
    cli.filter_content(spark, args)
    results = json.loads(robots.read_text(encoding="utf-8"))["results"]
    cli.filter_content(spark, args, robots_results=results)
    assert dims == ["LocalRelation", "LocalRelation"]

    description = f"extract_domains/{tmp_path.name}"
    spark.sparkContext.setJobDescription(description)
    try:
        cli.extract_domains(spark, args)
    finally:
        spark.sparkContext.setJobDescription(None)
    plans = _executed_plans(spark, description)
    assert plans
    assert not any("rangepartitioning" in p.lower() for p in plans)


def test_extract_domains_orders_non_ascii_domains_like_spark(spark, tmp_path):
    """The driver-side sort gives the domain order orderBy("domain")
    gives: UTF-8 byte order, so a fullwidth ``ｚ`` (U+FF5A) sorts before
    an astral ``𝔘`` (U+1D518) although its UTF-16 code unit is larger."""
    hosts = ["z.com", "𝔘.org", "ä.de", "ｚ.com", "é.com", "a.com"]
    data = tmp_path / "idn.jsonl"
    data.write_text(
        "".join(
            json.dumps({"id": f"idn_{i}", "url": f"https://{h}/p", "text": "x"},
                       ensure_ascii=False) + "\n"
            for i, h in enumerate(hosts)
        ),
        encoding="utf-8",
    )
    cli.extract_domains(spark, _args(input=str(data), output=str(tmp_path)))
    spark_order = [
        r["domain"]
        for r in spark.createDataFrame([(h,) for h in hosts], "domain string")
        .orderBy("domain")
        .collect()
    ]
    assert spark_order == ["a.com", "z.com", "ä.de", "é.com", "ｚ.com", "𝔘.org"]
    ts = "20250724_133214"
    simple = json.loads((tmp_path / f"domains_simple_{ts}.json").read_text(encoding="utf-8"))
    detailed = json.loads((tmp_path / f"domains_detailed_{ts}.json").read_text(encoding="utf-8"))
    assert simple["domains"] == spark_order
    assert list(detailed["domains"]) == spark_order
