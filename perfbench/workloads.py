"""The benchmark's three workloads.

Each workload opens its seeded inputs once, then ``execute(i)`` runs one
timed execution of the program and checks that execution's output; the
check runs outside the timed region. An exception or a failed check is
one failed operation.

Output checks:

* Row conservation: every input document is in the output exactly once.
* A digest over every output column must equal the digest of the run's
  first execution, which is also checked row by row for PII: no email,
  phone or IPv4 match may remain in ``scrubbed_text``. Equal digests
  carry that check to every later execution without a second regex pass
  inside the timed plan. For the default seed the digest must also equal
  the one pinned in ``perfbench/pinned.json``.
* A deterministic ~1% sample is checked against a pure-Python oracle:
  ``extract_domain_py`` plus a lookup in the policy gives the robots
  decision; the language and Gopher rules are re-applied to the sampled
  row's own feature columns.
* ``reference_cli``: the filtered plus excluded lines must equal the input
  lines byte for byte, split exactly as the oracle computed at
  generation time.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import json
import re
import shutil
import time
from pathlib import Path

from perfbench import gen
from perfbench.harness import BENCH, WORK

DEFAULT_SEED = 1
SAMPLE_ROWS = 64

# The oracle's own PII patterns, independent of functions/scrub.py.
PII_PATTERNS = {
    "email": re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    "phone": re.compile(r"\(?\b[0-9]{3}\)?[ .-]?[0-9]{3}[ .-][0-9]{4}\b"),
    "ipv4": re.compile(r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
}
PII_SQL = "|".join(p.pattern for p in PII_PATTERNS.values())

SAMPLE_COLS = (
    "url",
    "drop_reason",
    "langid",
    "word_count",
    "mean_word_len",
    "symbol_ratio",
    "stopword_density",
    "max_word_repeat_ratio",
)


def pinned_digest(workload: str, seed: int) -> str | None:
    if seed != DEFAULT_SEED:
        return None
    pins = json.loads((BENCH / "pinned.json").read_text())
    return pins.get(gen.cache_key(workload, seed))


def expected_reason(row: dict, policy: dict[str, bool], cfg) -> str:
    """Pure-Python drop_reason for one labeled row (precedence robots >
    bad_url > language > quality, as the pipeline documents)."""
    from fineweb_domain_analyzer_spark.functions.domains import extract_domain_py

    url = row["url"]
    if url:
        domain = extract_domain_py(url)
        if not domain:
            return "bad_url"
        if policy.get(domain) is False:
            return "robots_disallowed"
    if row["langid"] not in cfg.allowed_langs:
        return "language_filtered"
    feats = [row[c] for c in SAMPLE_COLS[3:]]
    if None not in feats:
        words, mean_len, symbols, stops, repeat = feats
        # gopher_keep's defaults, with PipelineConfig's overrides
        ok = (
            cfg.min_words <= words <= cfg.max_words
            and 2.0 <= mean_len <= 12.0
            and symbols <= cfg.max_symbol_ratio
            and stops >= 0.0
            and repeat <= cfg.max_repeat_ratio
        )
        if not ok:
            return "quality_filtered"
    return "kept"


class _Labeled:
    """Shared setup and checks of the two pipeline workloads."""

    name = ""

    def __init__(self, spark, seed: int, meta: dict):
        from fineweb_domain_analyzer_spark.plans.pipeline import PipelineConfig

        self.spark, self.seed, self.meta = spark, seed, meta
        self.docs = meta["rows"]
        self.text_bytes = meta["text_bytes"]
        d = gen.input_dir(self.name, seed, meta["rows"])
        self.pages_path, self.policy_path = str(d / "pages"), str(d / "policy")
        self.cfg = PipelineConfig()
        self.policy_map = {
            r["domain"]: r["crawl_allowed"]
            for r in spark.read.parquet(self.policy_path).collect()
        }
        self.sample_mod = max(1, self.docs // SAMPLE_ROWS)
        self.reference_digest: str | None = None
        self.pinned = pinned_digest(self.name, seed)

    def check_aggs(self, columns: list[str], full: bool):
        """Aggregates that check one output frame: row count, an
        order-independent digest of every column, the oracle sample and
        (``full``) the count of rows with PII left."""
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(c) for c in sorted(columns)])
        sampled = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(self.sample_mod)) == 0
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(h).alias("xor"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("low_sum"),
            F.collect_list(F.when(sampled, F.struct(*SAMPLE_COLS))).alias("sample"),
        ]
        if full:
            aggs.append(
                F.sum(F.col("scrubbed_text").rlike(PII_SQL).cast("int")).alias("pii_rows")
            )
        return aggs

    def verify(self, res: dict) -> list[str]:
        errors = []
        if res["rows"] != self.docs:
            errors.append(f"row conservation: {res['rows']} rows out of {self.docs} in")
        digest = f"{res['rows']}:{res['xor']}:{res['low_sum']}"
        if "pii_rows" in res:
            if res["pii_rows"]:
                errors.append(f"{res['pii_rows']} rows keep PII in scrubbed_text")
            if self.reference_digest is None and not errors:
                self.reference_digest = digest
        if self.reference_digest is None:
            errors.append("no fully checked execution to compare with")
        elif digest != self.reference_digest:
            errors.append(f"digest {digest} != first execution's {self.reference_digest}")
        if self.pinned is not None and digest != self.pinned:
            errors.append(f"digest {digest} != pinned {self.pinned}")
        sample = [r.asDict() for r in res["sample"]]
        if not sample:
            errors.append("empty oracle sample")
        for row in sample:
            want = expected_reason(row, self.policy_map, self.cfg)
            if row["drop_reason"] != want:
                errors.append(f"{row['url']}: drop_reason {row['drop_reason']}, oracle {want}")
        self.last_digest = digest
        return errors


class LabelsShortdoc(_Labeled):
    """``quality_filter_pipeline`` to a ``noop`` sink; the checks ride on
    an ``Observation`` of the same execution."""

    name = "labels_shortdoc"

    def plan(self):
        from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline

        pages = self.spark.read.parquet(self.pages_path)
        policy = self.spark.read.parquet(self.policy_path)
        return quality_filter_pipeline(pages, policy, self.cfg)

    def execute(self, i: int, full_check: bool = False) -> tuple[float, list[str]]:
        from pyspark.sql import Observation

        obs = Observation(f"check_{i}")
        df = self.plan()
        df = df.observe(obs, *self.check_aggs(df.columns, full_check))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        return wall, self.verify(obs.get)


class JobLongdoc(_Labeled):
    """``job.main --splits all``: the pipeline, the parquet sink, one
    checkpoint commit and the job's three read-back rescans. Each
    execution starts from a fresh manifest and output directory."""

    name = "job_longdoc"

    def execute(self, i: int, full_check: bool = False) -> tuple[float, list[str]]:
        from fineweb_domain_analyzer_spark import job

        base = WORK / "job"
        shutil.rmtree(base, ignore_errors=True)
        base.mkdir(parents=True)
        out = base / "out"
        argv = [
            "--pages", self.pages_path, "--policy", self.policy_path,
            "--output", str(out), "--manifest", str(base / "manifest.json"),
            "--splits", "all",
        ]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = job.main(argv)
        wall = time.perf_counter() - t0
        errors = [] if rc == 0 else [f"job.main returned {rc}"]
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        if report["total"] != self.docs or report["splits_processed"] != ["all"]:
            errors.append(f"job report: {report['total']} docs, splits {report['splits_processed']}")
        written = self.spark.read.parquet(str(out))
        cols = [c for c in written.columns if c != "_split"]
        res = written.agg(*self.check_aggs(cols, full_check)).collect()[0].asDict()
        errors += self.verify(res)
        self.out_bytes = sum(
            p.stat().st_size for p in out.rglob("*.parquet")
        )
        shutil.rmtree(base, ignore_errors=True)
        return wall, errors


class ReferenceCli:
    """``cli.main --all-steps`` over the JSONL dump with a frozen
    ``--robots-content`` map."""

    name = "reference_cli"

    def __init__(self, spark, seed: int, meta: dict):
        self.spark, self.seed, self.meta = spark, seed, meta
        self.docs = meta["rows"]
        self.text_bytes = meta["text_bytes"]
        d = gen.input_dir(self.name, seed, meta["rows"])
        self.dump, self.robots = str(d / "dump.jsonl"), str(d / "robots_content.json")
        self.pinned = pinned_digest(self.name, seed)

    def execute(self, i: int, full_check: bool = False) -> tuple[float, list[str]]:
        from fineweb_domain_analyzer_spark import cli

        out = WORK / "cli"
        shutil.rmtree(out, ignore_errors=True)
        argv = [
            "--input", self.dump, "--all-steps", "--robots-content", self.robots,
            "--output", str(out), "--run-ts", "20240612_000000",
            "--run-iso", "2024-06-12T00:00:00",
        ]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        wall = time.perf_counter() - t0
        errors = [] if rc == 0 else [f"cli.main returned {rc}"]
        errors += self.verify(out)
        shutil.rmtree(out, ignore_errors=True)
        return wall, errors

    def verify(self, out: Path) -> list[str]:
        m = self.meta
        errors = []
        sides = {}
        for side in ("filtered", "excluded"):
            files = glob.glob(str(out / f"{side}_dump_*.jsonl"))
            if len(files) != 1:
                return [f"{side}: expected one output file, found {files}"]
            data = Path(files[0]).read_bytes()
            sides[side] = sorted(ln for ln in data.split(b"\n") if ln)
        self.out_bytes = sum(
            Path(f).stat().st_size for f in glob.glob(str(out / "*_dump_*.jsonl"))
        )
        n_out = len(sides["filtered"]) + len(sides["excluded"])
        if n_out != self.docs:
            errors.append(f"line conservation: {n_out} lines out of {self.docs} in")
        got = {side: lines_digest(lines) for side, lines in sides.items()}
        for side, digest in got.items():
            if digest != m[f"{side}_digest"]:
                errors.append(f"{side} lines differ from the oracle's")
        simple = glob.glob(str(out / "domains_simple_*.json"))
        n_dom = json.loads(Path(simple[0]).read_text())["metadata"]["total_domains"]
        if n_dom != m["domains"]:
            errors.append(f"{n_dom} domains extracted, oracle {m['domains']}")
        digest = f"{got['filtered'][:16]}:{got['excluded'][:16]}:{n_dom}"
        if self.pinned is not None and digest != self.pinned:
            errors.append(f"digest {digest} != pinned {self.pinned}")
        self.last_digest = digest
        return errors


def lines_digest(sorted_lines: list[bytes]) -> str:
    h = hashlib.sha256()
    for ln in sorted_lines:
        h.update(ln)
        h.update(b"\n")
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (JobLongdoc, LabelsShortdoc, ReferenceCli)}
