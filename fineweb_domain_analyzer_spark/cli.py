"""Reference-compatible CLI — the four verbs of fineweb_analyzer.py,
Spark-backed.

A user of the reference can run the same commands against this engine:

    python -m fineweb_domain_analyzer_spark.cli --input data.warc.gz --warc-to-json
    python -m fineweb_domain_analyzer_spark.cli --input data.warc.wet.gz --wet-to-json
    python -m fineweb_domain_analyzer_spark.cli --input data.jsonl --extract-domains
    python -m fineweb_domain_analyzer_spark.cli --domains domains.json --check-robots
    python -m fineweb_domain_analyzer_spark.cli --input data.jsonl --robots robots_check.json --filter-content
    python -m fineweb_domain_analyzer_spark.cli --input data.jsonl --all-steps

Artifact formats mirror the reference (domains_simple_*.json /
domains_detailed_*.json / robots_check_*.json / filtered_*.jsonl /
excluded_*.jsonl / filter_stats_*.json, reference lines 203-244,
389-402, 417-497), with documented deviations:

* --check-robots performs NO network I/O by default: robots bodies come
  from --robots-content (a JSON map domain → robots.txt text, e.g. a
  frozen snapshot) or every domain defaults to allowed; both the bodies
  and the domain list are already in driver memory, so they are parsed
  there (parse_robots_py), without a Spark job. --fetch-live
  opts into the distributed live pre-fetch job
  (functions/robots.py:fetch_robots_policy — bounded per-task
  concurrency, reference retry semantics); tests exercise it only with
  an injected mock fetcher, never the network.
* filtered/excluded JSONL lines are byte-identical to the input lines
  (raw passthrough), exactly like the reference.
* timestamped filenames use an injectable --run-ts for determinism.

--extract-domains and --all-steps parse the JSONL dump once and run the
domain UDF once per document: the parsed, domain-labeled pages
(``_read_pages``) are persisted and feed both the domain statistics and
the keep/drop filter. The persisted frame is also a fence: without it
Catalyst pushes domain_stats' non-empty-domain filter below the UDF's
projection and evaluates the UDF twice per row.

The verbs also avoid Spark jobs that carry no work: the domain rows
(one per domain) are sorted on the driver after an Arrow collect, not by
a global ``orderBy`` (a range-partition sample job and a second
shuffle), and --filter-content's ``(domain, crawl_allowed)`` policy
dimension, from check_robots' results or the --robots snapshot, is built
from an Arrow table: a ``LocalRelation``, which Spark broadcasts without
the collect job an RDD-backed frame needs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.robots import (
    load_policy_fixture,
    parse_robots_py,
)
from fineweb_domain_analyzer_spark.operators.domain_stats import domain_stats
from fineweb_domain_analyzer_spark.operators.filtering import (
    label_by_domain,
    with_domain,
)
from fineweb_domain_analyzer_spark.sources.jsonl import read_jsonl_with_raw
from fineweb_domain_analyzer_spark.sources.warc import read_warc, read_wet


def _ts(args) -> str:
    return args.run_ts or datetime.now().strftime("%Y%m%d_%H%M%S")


def _iso(args) -> str:
    return args.run_iso or datetime.now().isoformat()


def _concat_parts(parts, target, count_lines: bool = False) -> int:
    """Concatenate Spark part files into one artifact file driver-side.

    With count_lines, iterates lines and counts the non-blank ones
    (filter_content's stats contract); otherwise block-copies each part
    (shutil.copyfileobj — Spark writers never emit blank lines, so the
    fast path loses nothing). Returns the non-blank line count, or -1
    when not counting."""
    import shutil

    n = 0
    with open(target, "wb") as out_f:
        for p in parts:
            with open(p, "rb") as in_f:
                if count_lines:
                    for line in in_f:
                        if line.strip():
                            out_f.write(line)
                            n += 1
                else:
                    shutil.copyfileobj(in_f, out_f)
    return n if count_lines else -1


def warc_to_json(spark, args, wet: bool = False) -> Path:
    out_dir = Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    reader = read_wet if wet else read_warc
    df = reader(spark, args.input, args.max_records)
    # reference filename: f"{warc_path.stem}.jsonl" (fineweb_analyzer.py:70)
    # — 'data.warc.gz' → 'data.warc.jsonl', 'data.warc' → 'data.jsonl'
    stem = Path(args.input).stem
    target = out_dir / f"{stem}.jsonl"
    # parse + JSON-encode fully in parallel (one file per task via
    # read_warc's repartition), then concatenate part files driver-side
    # into the reference's single-jsonl shape — a coalesce(1) here
    # would collapse the whole parse into ONE task, serializing every
    # shard (same pattern filter_content uses)
    tmp = str(target) + "_spark"
    df.write.mode("overwrite").json(tmp)
    _concat_parts(sorted(glob.glob(os.path.join(tmp, "part-*"))), target)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    print(f"converted -> {target}")
    return target


# the only page columns the extract/filter verbs read
_PAGE_COLS = ("raw", "id", "url", "timestamp")


def _read_pages(spark, jsonl_path: str):
    """The dump's parsed lines, only the verbs' columns, plus ``domain``."""
    return with_domain(read_jsonl_with_raw(spark, jsonl_path).select(*_PAGE_COLS))


@contextmanager
def _persisted(df):
    """``df`` persisted for the block, unpersisted on exit."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def extract_domains(
    spark, args, jsonl_path: str | None = None, pages=None
) -> dict:
    """Stage 2: per-domain stats → domains_simple/detailed JSON.
    ``pages`` is a ``_read_pages`` frame; without it the dump at
    ``jsonl_path`` (default --input) is read here, persisted so that the
    domain UDF runs once per row (see the module docstring)."""
    if pages is None:
        with _persisted(_read_pages(spark, jsonl_path or args.input)) as pages:
            return extract_domains(spark, args, pages=pages)
    out_dir = Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    pages = pages.filter(F.col("url").isNotNull() & (F.col("url") != ""))
    # per-record timestamps (WARC-derived input) feed first/last_seen
    # exactly like the reference (:184-187); rows without the field get
    # the injected run timestamp (the reference's datetime.now() path)
    stats_df = domain_stats(
        pages, order_col="id", ts_col="timestamp", run_ts=_iso(args)
    )
    # O(domains): small. Sorted here, not by orderBy: a global sort
    # costs a range-partition sample job and a second shuffle. Python's
    # code-point order is Spark's UTF-8 byte order.
    rows = sorted(stats_df.toArrow().to_pylist(), key=lambda r: r["domain"])
    ts = _ts(args)
    simple = {
        "metadata": {
            "generated_at": _iso(args),
            "total_domains": len(rows),
            "format": "simple_list",
        },
        "domains": [r["domain"] for r in rows],
    }
    detailed = {
        "metadata": {
            "generated_at": _iso(args),
            "total_domains": len(rows),
            "format": "detailed_stats",
        },
        "domains": {
            r["domain"]: {
                "count": r["count"],
                "urls": r["urls"],
                "tld": r["tld"],
                "first_seen": r["first_seen"],
                "last_seen": r["last_seen"],
            }
            for r in rows
        },
    }
    with open(out_dir / f"domains_simple_{ts}.json", "w", encoding="utf-8") as f:
        json.dump(simple, f, ensure_ascii=False, indent=2)
    with open(out_dir / f"domains_detailed_{ts}.json", "w", encoding="utf-8") as f:
        json.dump(detailed, f, ensure_ascii=False, indent=2)
    print(f"domains -> {out_dir}/domains_simple_{ts}.json ({len(rows)} domains)")
    return detailed["domains"]


def check_robots(
    spark, args, domains: list[str] | None = None, fetcher=None
) -> dict:
    out_dir = Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    if domains is None:
        with open(args.domains, encoding="utf-8") as f:
            domains = json.load(f).get("domains", [])
    if getattr(args, "fetch_live", False):
        # live pre-fetch job (reference RobotsChecker fan-out,
        # distributed; bounded concurrency per task)
        from fineweb_domain_analyzer_spark.functions.robots import (
            fetch_robots_policy,
        )

        dom_df = spark.createDataFrame([(d,) for d in domains], "domain string")
        policy = fetch_robots_policy(
            dom_df,
            user_agent=args.user_agent,
            timeout=args.timeout,
            max_workers_per_task=args.max_workers,
            fetcher=fetcher,
        )
        rows = [r.asDict() for r in policy.collect()]  # O(domains): small
    else:
        contents: dict[str, str] = {}
        if args.robots_content:
            with open(args.robots_content, encoding="utf-8") as f:
                contents = json.load(f)
        # policy_from_robots_content's mapping for a fetch without error,
        # on the driver: parse_robots_py(None) is the allow-all 404 branch
        rows = []
        for d in domains:
            body = contents.get(d)
            rows.append(
                {
                    "domain": d,
                    "robots_exists": body is not None,
                    "error": None,
                    "robots_content": body,
                    **parse_robots_py(body, args.user_agent),
                }
            )
    results = {}
    for r in rows:
        results[r["domain"]] = {
            "domain": r["domain"],
            "robots_exists": r["robots_exists"],
            "crawl_allowed": r["crawl_allowed"],
            "crawl_delay": r["crawl_delay"],
            "disallowed_paths": list(r["disallowed_paths"] or []),
            "error": r["error"],
            "last_checked": _iso(args),
            **(
                {"robots_content": r["robots_content"]}
                if r["robots_content"] is not None
                else {}
            ),
        }
    ts = _ts(args)
    out_file = out_dir / f"robots_check_{ts}.json"
    with open(out_file, "w", encoding="utf-8") as f:
        json.dump(
            {
                "metadata": {
                    "generated_at": _iso(args),
                    "total_domains": len(domains),
                    "user_agent": args.user_agent,
                    "timeout": args.timeout,
                },
                "results": results,
            },
            f,
            ensure_ascii=False,
            indent=2,
        )
    allowed = sum(1 for r in results.values() if r["crawl_allowed"])
    print(f"robots -> {out_file} ({allowed}/{len(domains)} crawlable)")
    return results


def _policy_dim(spark, robots_results: dict):
    """The ``(domain, crawl_allowed)`` columns ``join_policy`` reads, from
    robots-check results. Built from an Arrow table, the frame is a
    ``LocalRelation``: broadcasting it runs no Spark job, where a frame
    from a list of tuples is RDD-backed and costs a collect job."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "domain": pa.array(list(robots_results), pa.string()),
                "crawl_allowed": pa.array(
                    [bool(r.get("crawl_allowed", False)) for r in robots_results.values()],
                    pa.bool_(),
                ),
            }
        )
    )


def filter_content(
    spark, args, robots_results: dict | None = None, jsonl_path=None, pages=None
):
    """Stage 4: keep/drop the dump's lines by robots policy. ``pages``
    is a ``_read_pages`` frame over ``jsonl_path``; without it the dump
    is read here. ``robots_results`` defaults to the ``results`` of the
    --robots snapshot."""
    jsonl_path = jsonl_path or args.input
    if pages is None:
        pages = _read_pages(spark, jsonl_path)
    out_dir = Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    if robots_results is None:
        with open(args.robots, encoding="utf-8") as f:
            robots_results = json.load(f)["results"]
    from fineweb_domain_analyzer_spark.sources.jsonl import (
        write_jsonl_passthrough,
    )

    labeled = label_by_domain(pages, _policy_dim(spark, robots_results))
    ts = _ts(args)
    stem = Path(jsonl_path).stem
    filtered_file = out_dir / f"filtered_{stem}_{ts}.jsonl"
    excluded_file = out_dir / f"excluded_{stem}_{ts}.jsonl"
    # ONE fully parallel Spark pass writes the keep-partitioned part
    # files; stats (and, in single-file mode, the reference-shape
    # artifacts) are derived from the written bytes driver-side. This
    # matches the reference's semantics exactly — its stats ARE counts
    # of written lines (fineweb_analyzer.py:480-485) — and avoids a
    # second parse+label pass over the corpus (measured 3× slower).
    part_root = str(out_dir / f"parts_{stem}_{ts}")
    write_jsonl_passthrough(labeled, part_root)

    def _part_files(flag: str) -> list[str]:
        return sorted(glob.glob(os.path.join(part_root, f"keep={flag}", "part-*")))

    counts = {}
    if getattr(args, "partitioned_output", False):
        # scale path: expose the partitioned dirs directly (filtered_/
        # excluded_*.jsonl become symlinks to part-file directories);
        # counts come from a distributed text scan, not driver I/O
        for flag, target in (("true", filtered_file), ("false", excluded_file)):
            part_dir = os.path.join(part_root, f"keep={flag}")
            os.makedirs(part_dir, exist_ok=True)
            if target.is_symlink() or target.exists():
                target.unlink()
            # absolute target: a relative one would resolve against the
            # symlink's own directory and dangle for relative --output
            os.symlink(os.path.abspath(part_dir), target)
            # count NON-BLANK lines, same invariant as single-file mode
            # (blank raw lines are excluded upstream, so this usually
            # equals a plain count — the filter keeps the two modes'
            # stats identical by construction, not by accident)
            counts[flag] = (
                spark.read.text(part_dir)
                .filter(F.trim(F.col("value")) != "")
                .count()
                if _part_files(flag)
                else 0
            )
    else:
        # reference artifact shape: concatenate part files into one
        # .jsonl per side (sequential driver I/O), counting as we go
        import shutil

        for flag, target in (("true", filtered_file), ("false", excluded_file)):
            counts[flag] = _concat_parts(
                _part_files(flag), target, count_lines=True
            )
        shutil.rmtree(part_root, ignore_errors=True)
    kept_n, excl_n = counts.get("true", 0), counts.get("false", 0)
    total = kept_n + excl_n
    stats = {
        "total_processed": total,
        "filtered_kept": kept_n,
        "excluded_count": excl_n,
        # reference line 484: python round on the written-line counts
        "keep_ratio": round(kept_n / total * 100, 2) if total else 0,
    }
    stats_file = out_dir / f"filter_stats_{ts}.json"
    with open(stats_file, "w", encoding="utf-8") as f:
        json.dump(
            {
                "metadata": {
                    "generated_at": _iso(args),
                    "source_file": str(jsonl_path),
                    "filtered_file": str(filtered_file),
                    "excluded_file": str(excluded_file),
                },
                "statistics": stats,
            },
            f,
            ensure_ascii=False,
            indent=2,
        )
    print(
        f"filter -> kept {stats['filtered_kept']} / excluded {stats['excluded_count']}"
        f" ({stats['keep_ratio']}%) -> {filtered_file}"
    )
    return filtered_file, excluded_file, stats


def train_classifier(spark, args) -> dict:
    """Train the FineWeb-Edu-style quality classifier on --input
    (parquet dir/file with a ``text`` column, or JSONL pages) and save
    the weights artifact to --train-classifier's path. The distilled
    teacher is the Gopher heuristic gate; training is the integer-exact
    distributed GD of operators/training.py (weights bit-identical at
    any parallelism). Serve with --classifier-weights or
    PipelineConfig(quality_weights=load_weights(path))."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.operators.quality import (
        gopher_keep,
        with_quality_features,
    )
    from fineweb_domain_analyzer_spark.operators.training import (
        save_weights,
        train_quality_classifier,
    )

    path = Path(args.input)
    if path.suffix == ".parquet" or (
        path.is_dir() and any(path.glob("*.parquet"))
    ):
        df = spark.read.parquet(str(path))
    else:
        from fineweb_domain_analyzer_spark.sources.jsonl import (
            read_jsonl_with_raw,
        )

        df = read_jsonl_with_raw(spark, str(path))
    if "text" not in df.columns:
        raise SystemExit(f"--train-classifier input {path} has no 'text' column")
    feats = with_quality_features(df)
    gate = gopher_keep(
        F.col("word_count"),
        F.col("mean_word_len"),
        F.col("symbol_ratio"),
        F.col("stopword_density"),
        F.col("max_word_repeat_ratio"),
    )
    feats = feats.withColumn("_distill", F.coalesce(gate, F.lit(False)))
    model = train_quality_classifier(feats, "_distill", track_loss=True)
    save_weights(model, args.train_classifier)
    summary = {
        "weights_path": args.train_classifier,
        "n": model.n,
        "iters": model.iters,
        "loss_first": model.loss_by_iter[0],
        "loss_last": model.loss_by_iter[-1],
    }
    print(json.dumps(summary))
    return summary


def stream_ingest(spark, args) -> dict:
    """Incremental ingest verb: drain new parquet page files from
    --input through the quality-filter pipeline into --output/pages,
    exactly-once at file granularity (streaming/pipeline.py).

    Re-running after more files land processes ONLY the new files —
    the checkpoint's file-source log records what was seen. Policy
    comes from a frozen --robots snapshot when given; otherwise an
    empty dimension (default-allow for every domain, F4/F5 semantics).
    """
    from fineweb_domain_analyzer_spark.schema import DOMAIN_POLICY
    from fineweb_domain_analyzer_spark.streaming.pipeline import run_incremental

    if args.robots:
        policy = load_policy_fixture(spark, args.robots)
    else:
        policy = spark.createDataFrame([], DOMAIN_POLICY)
    out_dir = Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    checkpoint = args.checkpoint or str(out_dir / "_stream_checkpoint")
    cfg = None
    if args.classifier_weights or args.drop_page_types or args.enforce_doc_shape:
        from fineweb_domain_analyzer_spark.operators.pagetype import (
            DEFAULT_PAGE_TYPE_RULES,
        )
        from fineweb_domain_analyzer_spark.plans.pipeline import PipelineConfig

        drop_types = tuple(
            t.strip()
            for t in (args.drop_page_types or "").split(",")
            if t.strip()
        )
        # a typo here would silently disable the gate the user believes
        # is on (isin() just never matches) — fail loudly instead
        valid = {name for name, _pat in DEFAULT_PAGE_TYPE_RULES}
        unknown = [t for t in drop_types if t not in valid]
        if unknown:
            raise SystemExit(
                f"--drop-page-types: unknown page type(s) {unknown}; "
                f"valid: {sorted(valid)}"
            )
        weights = None
        if args.classifier_weights:
            from fineweb_domain_analyzer_spark.operators.training import (
                load_weights,
            )

            weights = load_weights(args.classifier_weights)
        cfg = PipelineConfig(
            quality_weights=weights,
            min_quality_score=args.min_quality_score,
            drop_page_types=drop_types,
            enforce_doc_shape=args.enforce_doc_shape,
        )
    summary = run_incremental(
        spark,
        args.input,
        str(out_dir / "pages"),
        checkpoint,
        policy,
        cfg=cfg,
        dedup=args.stream_dedup,
    )
    print(json.dumps(summary))
    return summary


def data_card_verb(spark, args) -> dict:
    """--data-card: aggregate a labeled parquet output (from
    --stream-ingest or write_pipeline_output) into the dataset
    data-card JSON — overall/decision/drop-reason/kept-language doc and
    word counts, one cube pass (operators/metrics.py:data_card). The
    collect is O(sections × keys) rows — a driver-side summary writer
    like the reference's JSON sinks, never corpus-sized."""
    from fineweb_domain_analyzer_spark.operators.metrics import data_card

    labeled = spark.read.parquet(args.input)
    rows = data_card(labeled).collect()
    card: dict = {}
    for r in rows:
        card.setdefault(r["section"], {})[r["key"]] = {
            "docs": r["docs"],
            "words": r["words"],
        }
    out_dir = Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "data_card.json"
    path.write_text(json.dumps(card, indent=2, sort_keys=True))
    print(json.dumps({"data_card": str(path), **card.get("decision", {})}))
    return card


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="FineWeb Domain Analyzer — Spark engine, reference-compatible CLI"
    )
    p.add_argument("--input", "-i")
    p.add_argument("--output", "-o", default="output")
    p.add_argument("--verbose", "-v", action="store_true")
    p.add_argument("--all-steps", action="store_true")
    p.add_argument("--warc-to-json", action="store_true")
    p.add_argument(
        "--wet-to-json",
        action="store_true",
        help="convert WET (conversion-record) shards to JSONL "
        "(EXTENSION: the reference only reads WARC response records)",
    )
    p.add_argument("--extract-domains", action="store_true")
    p.add_argument("--check-robots", action="store_true")
    p.add_argument("--filter-content", action="store_true")
    p.add_argument("--domains")
    p.add_argument("--robots")
    p.add_argument("--max-records", type=int)
    p.add_argument("--timeout", type=int, default=10)
    p.add_argument("--max-workers", type=int, default=10)  # per-task fetch pool
    p.add_argument(
        "--fetch-live",
        action="store_true",
        help="fetch robots.txt over the network (distributed, bounded "
        "concurrency); default is offline --robots-content / allow-all",
    )
    p.add_argument("--user-agent", default="*")
    p.add_argument(
        "--robots-content",
        help="JSON map domain→robots.txt body (frozen snapshot; replaces live fetch)",
    )
    p.add_argument(
        "--partitioned-output",
        action="store_true",
        help="write filtered/excluded as partitioned part-file dirs "
        "(fully parallel) instead of the reference's single-file shape; "
        "filtered_*.jsonl / excluded_*.jsonl become SYMLINKS to those "
        "directories despite their file-like names",
    )
    p.add_argument(
        "--stream-ingest",
        action="store_true",
        help="incremental ingest: run the quality-filter pipeline over "
        "new parquet page files under --input (AvailableNow trigger; "
        "exactly-once per file via --checkpoint); re-run after every "
        "dump drop",
    )
    p.add_argument(
        "--checkpoint",
        help="streaming checkpoint dir for --stream-ingest "
        "(default: <output>/_stream_checkpoint)",
    )
    p.add_argument(
        "--stream-dedup",
        action="store_true",
        help="with --stream-ingest: watermark-bounded exact URL dedup "
        "across micro-batches",
    )
    p.add_argument(
        "--train-classifier",
        metavar="OUT_JSON",
        help="train the quality classifier on --input (parquet with a "
        "text column, or JSONL pages) and save the weights artifact; "
        "distills the Gopher gate via integer-exact distributed GD",
    )
    p.add_argument(
        "--classifier-weights",
        help="with --stream-ingest: serve a trained classifier gate "
        "(weights JSON from --train-classifier); docs scoring below "
        "--min-quality-score drop as classifier_filtered",
    )
    p.add_argument(
        "--min-quality-score",
        type=float,
        default=0.5,
        help="classifier keep threshold for --classifier-weights (default 0.5)",
    )
    p.add_argument(
        "--drop-page-types",
        help="with --stream-ingest: comma-separated page classes to "
        "drop as page_type_filtered (error_page, login_wall, "
        "parked_domain, cookie_wall, placeholder)",
    )
    p.add_argument(
        "--enforce-doc-shape",
        action="store_true",
        help="with --stream-ingest: drop docs failing the Gopher "
        "doc-shape rules (bullet/ellipsis line fractions, alpha-word "
        "fraction, symbol ratios) as doc_shape_filtered",
    )
    p.add_argument(
        "--data-card",
        action="store_true",
        help="aggregate a labeled parquet dir (--input) into "
        "<output>/data_card.json: overall/decision/drop-reason/"
        "kept-language doc+word counts in one cube pass",
    )
    p.add_argument("--run-ts", help="inject run timestamp (YYYYmmdd_HHMMSS) for determinism")
    p.add_argument("--run-iso", help="inject ISO timestamp for determinism")
    p.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    p = build_parser()
    args = p.parse_args(argv)

    if (args.all_steps or args.warc_to_json or args.wet_to_json or args.extract_domains or args.filter_content or args.stream_ingest or args.train_classifier or args.data_card) and not args.input:
        p.error("these operations require --input")
    if args.check_robots and not (args.domains or args.all_steps):
        p.error("--check-robots requires --domains")
    if args.filter_content and not args.robots:
        p.error("--filter-content requires --robots")

    has_action = (
        args.all_steps
        or args.warc_to_json
        or args.wet_to_json
        or args.extract_domains
        or args.check_robots
        or args.filter_content
        or args.stream_ingest
        or args.train_classifier
        or args.data_card
    )
    if not has_action:
        p.print_help()
        return 1

    from fineweb_domain_analyzer_spark.session import get_spark_owned

    spark, created = get_spark_owned(app_name="fineweb-cli", master=args.master)
    try:
        if args.all_steps:
            if Path(args.input).suffix in (".warc", ".gz"):
                jsonl = str(warc_to_json(spark, args))
            else:
                jsonl = args.input
            with _persisted(_read_pages(spark, jsonl)) as pages:
                dom_stats = extract_domains(spark, args, pages=pages)
                results = check_robots(
                    spark, args, domains=sorted(dom_stats.keys())
                )
                filter_content(
                    spark, args, robots_results=results, jsonl_path=jsonl,
                    pages=pages,
                )
        elif args.warc_to_json:
            warc_to_json(spark, args)
        elif args.wet_to_json:
            warc_to_json(spark, args, wet=True)
        elif args.extract_domains:
            extract_domains(spark, args)
        elif args.check_robots:
            check_robots(spark, args)
        elif args.filter_content:
            filter_content(spark, args)
        elif args.stream_ingest:
            stream_ingest(spark, args)
        elif args.train_classifier:
            train_classifier(spark, args)
        elif args.data_card:
            data_card_verb(spark, args)
    finally:
        if created:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
