"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size, GEN_VERSION) and
is written once into ``perfbench/.cache/<key>/``; ``_DONE`` is written
last, so an interrupted generation is redone rather than half-read.
run.py calls ``python3 -m perfbench.gen --workload W --seed S`` for an
input that is not cached yet.

* ``job_longdoc``: multi-KB pages built JVM-side from Column
  expressions. Word counts are log-normal (median ~3 KB of text, a tail
  past 30 KB); words are Zipf-distributed over ~4k synthetic word types
  with real stopwords mixed in. The PII, CJK, toxicity, boilerplate and
  html-only fractions are those of ``sources.pages.synth_pages``; small
  fractions of bad URLs, stopword-free pages and degenerate pages make
  every ``drop_reason`` of the default ``PipelineConfig`` occur.
* ``labels_shortdoc``: the historical ``synth_pages`` corpus unchanged.
* ``reference_cli``: a short-doc JSONL dump (``id, url, text``) over
  ~5k Zipf domains with varied TLDs, ports and URL quirks, plus a frozen
  ``--robots-content`` map in which some domains disallow everything and
  some carry ``Disallow`` paths that match generated URLs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CACHE = BENCH / ".cache"

# Bump when any generator's output changes: cached inputs are keyed on it.
GEN_VERSION = 1

ROWS = {"job_longdoc": 1200, "labels_shortdoc": 12000, "reference_cli": 24000}
N_DOMAINS = {"job_longdoc": 2000, "labels_shortdoc": 2000, "reference_cli": 5000}

# Long-doc shape: log-normal word counts; ~5.2 bytes per token gives a
# median near 3 KB and P(>30 KB) around 0.5%.
LONGDOC_MEDIAN_WORDS = 560
LONGDOC_SIGMA = 0.9
LONGDOC_MAX_WORDS = 12000
_STRIDE = 7919  # a prime: coprime with any row count it does not divide
VOCAB_SIZE = 4000

# Syllables chosen so that no synthetic word equals a stopword of any
# language the heuristic langid knows.
_SYLLABLES = (
    "ka ro mi nel dus par vo ti sen bru gal fo hek zu lim qua"
).split()
_EN_STOPWORDS = (
    "the of and to a in is it that for was on with as by at from be this are"
).split()
_DE_STOPWORDS = "der die das und ist nicht ein mit für".split()
_TLDS = ("com", "org", "net", "de", "fr", "io", "co.uk", "edu", "info", "jp")


def cache_key(workload: str, seed: int, rows: int | None = None) -> str:
    return f"{workload}-s{seed}-n{rows or ROWS[workload]}-v{GEN_VERSION}"


def input_dir(workload: str, seed: int, rows: int | None = None) -> Path:
    return CACHE / cache_key(workload, seed, rows)


def load_meta(workload: str, seed: int) -> dict | None:
    d = input_dir(workload, seed)
    if not (d / "_DONE").exists():
        return None
    return json.loads((d / "meta.json").read_text())


def vocabulary() -> list[str]:
    """Word type k spells k in base 16 with syllables as digits, so the
    frequent (small k) types are short and the rare ones long."""
    out = []
    for k in range(VOCAB_SIZE):
        parts, v = [], k
        while True:
            parts.append(_SYLLABLES[v % 16])
            v //= 16
            if v == 0:
                break
        out.append("".join(parts))
    return out


def _words_expr(F, row_id, n_words, seed: int, stop_rate, stopwords):
    """Array of ``n_words`` tokens: a stopword with probability
    ``stop_rate``, otherwise a Zipf(1)-ranked vocabulary word."""
    vocab = F.split(F.lit(" ".join(vocabulary())), " ")
    stops = F.split(F.lit(" ".join(stopwords)), " ")
    n_stop = len(stopwords)

    def token(i):
        th = F.xxhash64(row_id, i, F.lit(seed))
        u_stop = F.pmod(th, F.lit(1000003)) / 1000003.0
        u_rank = (F.pmod(F.shiftright(th, 24), F.lit(1000003)) + 0.5) / 1000003.0
        # inverse CDF of a log-uniform rank: P(k) ~ 1/k over the vocabulary
        rank = F.least(
            F.floor(F.exp(u_rank * math.log(VOCAB_SIZE + 1))) - 1,
            F.lit(VOCAB_SIZE - 1),
        ).cast("int")
        stop_ix = (F.pmod(F.shiftright(th, 44), F.lit(n_stop)) + 1).cast("int")
        return F.when(u_stop < stop_rate, F.element_at(stops, stop_ix)).otherwise(
            F.element_at(vocab, rank + 1)
        )

    return F.transform(F.sequence(F.lit(0), n_words.cast("int") - 1), token)


def _uniform(F, row_id, seed: int, salt: int):
    h = F.xxhash64(row_id, F.lit(seed), F.lit(salt))
    return (F.pmod(h, F.lit(1000003)) + 0.5) / 1000003.0


def longdoc_pages(spark, n_rows: int, seed: int, n_domains: int):
    """The long-doc pages table (schema of ``synth_pages``)."""
    from pyspark.sql import functions as F

    df = spark.range(0, n_rows, 1, 4)
    rid = F.col("id")
    h = F.abs(F.xxhash64(rid, F.lit(seed)))
    u1, u_dom = (_uniform(F, rid, seed, s) for s in (1, 3))
    # Stratified normal quantile: each row owns one of n_rows equal-mass
    # strata (a seeded permutation), jittered inside it, so every seed has
    # the same length distribution and nearly the same total text.
    # Tukey-lambda approximation of the inverse normal CDF (error < 1%).
    stratum = F.pmod(rid * _STRIDE + seed * 104729, F.lit(n_rows))
    p = (stratum + u1) / n_rows
    z = 4.91 * (F.pow(p, 0.14) - F.pow(1.0 - p, 0.14))
    n_words = F.least(
        F.greatest(
            F.round(F.exp(math.log(LONGDOC_MEDIAN_WORDS) + LONGDOC_SIGMA * z)),
            F.lit(8.0),
        ),
        F.lit(float(LONGDOC_MAX_WORDS)),
    ).cast("int")
    german = h % 13 == 4
    no_stop = h % 41 == 7  # langid 'unk' -> language_filtered
    stop_rate = F.when(no_stop, F.lit(0.0)).otherwise(F.lit(0.3))
    words_en = _words_expr(F, rid, n_words, seed, stop_rate, _EN_STOPWORDS)
    words_de = _words_expr(F, rid, n_words, seed, stop_rate, _DE_STOPWORDS)
    body = F.array_join(F.when(german, words_de).otherwise(words_en), " ")
    # degenerate pages pass langid but fail a Gopher rule
    body = (
        F.when(h % 37 == 5, F.trim(F.repeat(F.lit("the "), n_words)))
        .when(h % 37 == 6, F.lit("the end of it"))
        .otherwise(body)
    )
    pii = (
        F.when(h % 17 == 0, F.concat(F.lit(" contact user"), rid.cast("string"), F.lit("@example.com")))
        .when(h % 17 == 1, F.concat(F.lit(" ip 10.0."), (h % 200).cast("string"), F.lit(".7")))
        .when(h % 17 == 2, F.lit(" call (860) 649-7922"))
        .otherwise(F.lit(""))
    )
    # CJK pages carry enough CJK text for langid to call them 'zh'
    cjk = F.when(
        h % 23 == 0,
        F.repeat(F.lit(" 這是一段中文測試文字內容"), (n_words / 10).cast("int") + 1),
    ).otherwise(F.lit(""))
    tox = F.when(h % 29 == 0, F.lit(" badword1 spam")).otherwise(F.lit(""))
    rep = F.when(
        h % 19 == 0, F.lit("\nsubscribe to our newsletter\nsubscribe to our newsletter")
    ).otherwise(F.lit(""))
    text = F.concat(body, pii, cjk, tox, rep)
    dom_idx = F.floor(F.lit(n_domains) * F.pow(u_dom, F.lit(2.0))).cast("long")
    domain = F.concat(F.lit("host"), dom_idx.cast("string"), F.lit(".example.com"))
    variant = h % 10
    prefix = F.when(variant < 4, F.lit("https://www.")).otherwise(F.lit("https://"))
    port = F.when(variant == 7, F.lit(":8080")).otherwise(F.lit(""))
    url = F.concat(prefix, domain, port, F.lit("/p/"), rid.cast("string"))
    url = (
        F.when(h % 53 == 9, F.concat(F.lit("not-a-url/p/"), rid.cast("string")))
        .when(h % 53 == 10, F.lit(None).cast("string"))
        .otherwise(url)
    )
    ts = F.to_timestamp(F.from_unixtime(F.lit(1718150400) + (h % 864000)))
    lang = F.when(h % 23 == 0, F.lit("zh")).when(german, F.lit("de")).otherwise(F.lit("en"))
    html = F.when(
        h % 11 == 3, F.concat(F.encode(text, "utf-8"), F.unhex(F.lit("FFFE80")))
    ).otherwise(F.encode(text, "utf-8"))
    text_out = F.when(h % 11 == 3, F.lit(None).cast("string")).otherwise(text)
    return df.select(
        url.alias("url"),
        ts.alias("warc_ts"),
        html.alias("html"),
        text_out.alias("text"),
        lang.alias("lang"),
    )


def cli_domain(k: int) -> str:
    return f"site{k}.{_TLDS[k % len(_TLDS)]}"


def cli_records(spark, n_rows: int, seed: int, n_domains: int):
    """One JSON line per row: ``{"id", "url", "text"}`` (a few rows
    without ``url``), as the reference CLI reads them."""
    from pyspark.sql import functions as F

    df = spark.range(0, n_rows, 1, 4)
    rid = F.col("id")
    h = F.abs(F.xxhash64(rid, F.lit(seed)))
    u_dom = _uniform(F, rid, seed, 3)
    dom_idx = F.floor(F.lit(n_domains) * F.pow(u_dom, F.lit(2.5))).cast("long")
    tld = F.element_at(F.array(*[F.lit(t) for t in _TLDS]), (dom_idx % len(_TLDS) + 1).cast("int"))
    domain = F.concat(F.lit("site"), dom_idx.cast("string"), F.lit("."), tld)
    variant = h % 10
    prefix = (
        F.when(variant < 3, F.lit("https://www."))
        .when(variant < 5, F.lit("http://"))
        .otherwise(F.lit("https://"))
    )
    port = F.when(variant == 7, F.lit(":8080")).when(variant == 8, F.lit(":443")).otherwise(F.lit(""))
    path = (
        F.when(h % 6 == 0, F.concat(F.lit("/private/"), rid.cast("string")))
        .when(h % 6 == 1, F.concat(F.lit("/search?q="), (h % 997).cast("string")))
        .otherwise(F.concat(F.lit("/p/"), rid.cast("string")))
    )
    url = F.concat(prefix, domain, port, path)
    url = (
        F.when(h % 61 == 3, F.concat(F.lit("not-a-url-"), rid.cast("string")))
        .when(h % 61 == 4, F.lit(""))
        .otherwise(url)
    )
    n_words = ((h % 161) + 20).cast("int")
    words = _words_expr(F, rid, n_words, seed, F.lit(0.3), _EN_STOPWORDS)
    text = F.concat(
        F.array_join(words, " "),
        F.when(h % 17 == 0, F.lit(" mail me at someone@example.org")).otherwise(F.lit("")),
        F.when(h % 23 == 0, F.lit(" 這是一段中文測試文字內容")).otherwise(F.lit("")),
    )
    doc_id = F.concat(F.lit("CC-BENCH-"), F.lit(str(seed)), F.lit("-"), rid.cast("string"))
    with_url = F.to_json(F.struct(doc_id.alias("id"), url.alias("url"), text.alias("text")))
    no_url = F.to_json(F.struct(doc_id.alias("id"), text.alias("text")))
    return df.select(F.when(h % 61 == 5, no_url).otherwise(with_url).alias("value"))


def robots_contents(seed: int, n_domains: int) -> dict[str, str]:
    """Frozen robots.txt bodies for a seeded subset of the CLI domains."""
    rng = random.Random(seed)
    out: dict[str, str] = {}
    for k in range(n_domains):
        r = rng.random()
        if r < 0.15:
            body = "User-agent: *\nDisallow: /\n"
        elif r < 0.35:
            body = "User-agent: *\nDisallow: /private/\nDisallow: /p/1\nCrawl-delay: 2\n"
        elif r < 0.40:
            body = "User-agent: badbot\nDisallow: /\n\nUser-agent: *\nAllow: /\n"
        elif r < 0.60:
            body = "# frozen snapshot\nUser-agent: *\nDisallow:\n"
        else:
            continue
        out[cli_domain(k)] = body
    return out


def cli_oracle(dump: bytes, contents: dict[str, str]) -> dict:
    """Expected ``--all-steps`` result, computed line by line in Python:
    which lines the filter keeps, and how many domains it extracts."""
    from fineweb_domain_analyzer_spark.functions.domains import extract_domain_py
    from perfbench.workloads import lines_digest

    denied = {d for d, body in contents.items() if body.startswith("User-agent: *\nDisallow: /\n")}
    kept, excluded, domains, text_bytes = [], [], set(), 0
    for line in dump.split(b"\n"):
        if not line:
            continue
        rec = json.loads(line)
        text_bytes += len(rec["text"].encode())
        url = rec.get("url")
        keep = True
        if url:
            domain = extract_domain_py(url)
            if domain:
                domains.add(domain)
            keep = bool(domain) and domain not in denied
        (kept if keep else excluded).append(line)
    return {
        "lines": len(kept) + len(excluded),
        "text_bytes": text_bytes,
        "input_bytes": len(dump),
        "domains": len(domains),
        "kept": len(kept),
        "filtered_digest": lines_digest(sorted(kept)),
        "excluded_digest": lines_digest(sorted(excluded)),
    }


def frame_digest(df) -> str:
    """Order-independent digest of every row and column of ``df``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    r = df.agg(
        F.count(F.lit(1)), F.bit_xor(h), F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)))
    ).collect()[0]
    return f"{r[0]}:{r[1]}:{r[2]}"


def generate(spark, workload: str, seed: int, rows: int | None = None) -> dict:
    """Write the workload's inputs for ``seed`` into its cache dir and
    return its meta (row count, text bytes, digest of the content)."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.sources.pages import (
        synth_pages,
        synth_policy_for_domains,
    )

    d = input_dir(workload, seed, rows)
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    n, n_dom = rows or ROWS[workload], N_DOMAINS[workload]
    meta: dict = {"workload": workload, "seed": seed, "rows": n, "gen_version": GEN_VERSION}
    if workload == "reference_cli":
        parts = d / "_parts"
        cli_records(spark, n, seed, n_dom).write.text(str(parts))
        target = d / "dump.jsonl"
        with open(target, "wb") as out:
            for p in sorted(parts.glob("part-*")):
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, out)
        shutil.rmtree(parts)
        contents = robots_contents(seed, n_dom)
        (d / "robots_content.json").write_text(json.dumps(contents, sort_keys=True, indent=1))
        dump = target.read_bytes()
        meta.update(cli_oracle(dump, contents))
        meta["digest"] = hashlib.sha256(
            dump + json.dumps(contents, sort_keys=True).encode()
        ).hexdigest()
        if meta["lines"] != n:
            raise RuntimeError(f"dump has {meta['lines']} lines, expected {n}")
    else:
        if workload == "job_longdoc":
            pages = longdoc_pages(spark, n, seed, n_dom)
        else:
            pages = synth_pages(spark, n, n_domains=n_dom, seed=seed)
        pages.write.parquet(str(d / "pages"))
        synth_policy_for_domains(spark, n_dom).coalesce(1).write.parquet(str(d / "policy"))
        written = spark.read.parquet(str(d / "pages"))
        meta["text_bytes"] = written.select(
            F.sum(F.coalesce(F.octet_length("text"), F.octet_length("html")))
        ).collect()[0][0]
        meta["digest"] = frame_digest(written)
    (d / "meta.json").write_text(json.dumps(meta, indent=1, sort_keys=True))
    (d / "_DONE").write_text("")
    return meta


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="write one workload's inputs into the cache")
    p.add_argument("--workload", required=True, choices=sorted(ROWS))
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)
    from perfbench import harness

    harness.require_checkout()
    spark = harness.start_session()
    try:
        print(json.dumps(generate(spark, args.workload, args.seed)))
    finally:
        harness.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
