"""Traced run: per-layer metrics, measured from outside the program.

Three sources, none of which needs a change to the program:

* Spans (name, start, end, parent, run id) that the benchmark records
  around its calls into each layer's public functions, kept in memory
  and written out with the run's details at the end. While a span is
  open, every Spark job started from it carries the span's path as its
  job description.
* Spark's status stores, read after each execution and grouped by that
  job description: the SQL store (``sharedState().statusStore()``,
  per-operator metrics such as codegen time, Python-worker time, Arrow
  bytes, broadcast build) and the core store (jobs, stages, tasks,
  shuffle, spill). Both are live with the UI disabled.
* The JVM's management beans and ``/proc`` (harness.py).

For the two pipeline workloads the run also climbs a ladder: it rebuilds
``quality_filter_pipeline`` rung by rung from the same public functions
in the same order and times each rung to a ``noop`` sink; a rung's
``*_s`` metric is the median time it adds over the rung below it. Layer
costs are not additive (a layer inside the full plan can cost more or
less than it adds on the ladder), so the details also keep the
status-store per-operator times of the full plan.
"""

from __future__ import annotations

import contextlib
import json
import re
import shutil
import statistics
import time

from perfbench import harness

LADDER_REPEATS = 3
FULL_REPEATS = 3

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: bytes, seconds or a
    count. The store keeps only the formatted total (three significant
    digits for sizes and times), e.g. ``'24,000'``, ``'16.0 MiB'`` or
    ``'total (min, med, max (stageId: taskId))\\n27.5 s (6.5 s, ...)'``."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    m = re.fullmatch(r"\s*([0-9.,]+)\s*([A-Za-z]*)\s*", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1))


class Tracer:
    """Spans kept in memory; each open span names the Spark jobs it starts."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.results: dict = {}
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        path = "/".join([self.run_id, *self._stack, name])
        parent = "/".join([self.run_id, *self._stack]) if self._stack else None
        outer = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(path)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield path
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(outer)
            self.spans.append(
                {"name": path, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
            )

    def seconds(self, prefix: str, leaf: str) -> float:
        """Total time of the spans named ``leaf`` under ``prefix``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"].startswith(prefix + "/") and s["name"].endswith("/" + leaf)
        )

    @contextlib.contextmanager
    def wrapping(self, module, attrs: list[str]):
        """Replace ``module.<attr>`` by a wrapper that runs it in a span
        named after it, for the length of the ``with`` block."""
        saved = {a: getattr(module, a) for a in attrs}

        def wrapper(name, fn):
            def call(*args, **kwargs):
                with self.span(name):
                    result = fn(*args, **kwargs)
                self.results[name] = result
                return result

            return call

        for a, fn in saved.items():
            setattr(module, a, wrapper(a, fn))
        try:
            yield
        finally:
            for a, fn in saved.items():
                setattr(module, a, fn)


class StatusStores:
    """Reads both status stores, grouped by job-description prefix."""

    def __init__(self, spark):
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def jobs(self, prefix: str) -> list:
        out, jobs = [], self.app.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            d = j.description()
            if d.isDefined() and d.get().startswith(prefix):
                out.append(j)
        return out

    def job_seconds(self, prefix: str) -> float:
        total = 0.0
        for j in self.jobs(prefix):
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                total += (done.get().getTime() - sub.get().getTime()) / 1000.0
        return total

    def stages(self, prefix: str) -> dict:
        """Jobs, stages, tasks, shuffle and spill of the prefix's jobs, and
        task skew: summed per-stage slowest-task run time over summed
        per-stage median run time, for stages of two or more tasks."""
        jobs = self.jobs(prefix)
        seen, agg = set(), dict(jobs=len(jobs), stages=0, tasks=0, shuffle_bytes_written=0, spill_bytes=0)
        slowest = typical = 0.0
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.app.lastStageAttempt(sid)
                except Exception:  # skipped stage: never ran, no attempt recorded
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                agg["stages"] += 1
                agg["tasks"] += st.numTasks()
                agg["shuffle_bytes_written"] += st.shuffleWriteBytes()
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tasks = self.app.taskList(sid, st.attemptId(), 100000)
                runs = sorted(
                    tasks.apply(t).taskMetrics().get().executorRunTime()
                    for t in range(tasks.size())
                    if tasks.apply(t).taskMetrics().isDefined()
                )
                if len(runs) >= 2:
                    slowest += runs[-1]
                    typical += statistics.median(runs)
        agg["task_skew"] = slowest / typical if typical else 1.0
        return agg

    def operators(self, prefix: str) -> list[dict]:
        """Every plan node of the prefix's SQL executions with its metrics."""
        out, execs = [], self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if not (e.description() or "").startswith(prefix):
                continue
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.append({
                    "execution": e.description(),
                    "name": node.name(),
                    "desc": node.desc()[:200],
                    "metrics": metrics,
                })
        return out


def _sum(ops: list[dict], metric: str, name: str = "", desc: str = "") -> float:
    return sum(
        o["metrics"].get(metric, 0.0)
        for o in ops
        if o["name"].startswith(name) and desc in o["desc"]
    )


def spark_layer_metrics(stores: StatusStores, prefix: str) -> tuple[dict, list[dict]]:
    ops = stores.operators(prefix)
    st = stores.stages(prefix)
    m = {f"spark.{k}": v for k, v in st.items()}
    m.update({
        "spark.codegen_s": _sum(ops, "duration", "WholeStageCodegen"),
        "spark.python_worker_s": _sum(ops, "time to run Python workers"),
        "spark.arrow_bytes_sent": _sum(ops, "data sent to Python workers"),
        "spark.arrow_bytes_returned": _sum(ops, "data returned from Python workers"),
        "sources.rows_in": _sum(ops, "number of output rows", "Scan"),
        "sources.bytes_read": _sum(ops, "size of files read", "Scan"),
        "textfns.html_decode_rows": _sum(ops, "number of output rows", "ArrowEvalPython", "decode_utf8_ignore_udf"),
        "domains.udf_rows": _sum(ops, "number of output rows", "ArrowEvalPython", "extract_domain_udf"),
        "filtering.broadcast_build_s": _sum(ops, "time to build", "BroadcastExchange"),
        "filtering.broadcast_bytes": _sum(ops, "data size", "BroadcastExchange"),
    })
    return m, ops


def ladder(wl) -> list[tuple[str, object]]:
    """``quality_filter_pipeline`` for the default PipelineConfig, rebuilt
    one layer at a time from the same public functions in the same order.
    The top rung computes exactly the pipeline's output (checked by
    test_perfbench.py)."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.functions.scrub import scrub_all
    from fineweb_domain_analyzer_spark.functions.textfns import (
        decode_utf8_ignore_udf,
        with_langid,
        ws_tokens,
    )
    from fineweb_domain_analyzer_spark.operators.filtering import REASON_KEPT, label_pages
    from fineweb_domain_analyzer_spark.operators.quality import gopher_keep, with_quality_features
    from fineweb_domain_analyzer_spark.plans.pipeline import REASON_LANGUAGE, REASON_QUALITY

    cfg = wl.cfg
    pages = wl.spark.read.parquet(wl.pages_path)
    policy = wl.spark.read.parquet(wl.policy_path)
    rungs = [("scan", pages)]
    df = pages.withColumn(
        "text",
        F.coalesce(
            F.col("text"), decode_utf8_ignore_udf(F.when(F.col("text").isNull(), F.col("html")))
        ),
    )
    rungs.append(("html_decode", df))
    df = (
        label_pages(df, policy, exact_domain=cfg.exact_domain)
        .withColumnRenamed("keep", "_robots_keep")
        .withColumnRenamed("drop_reason", "_robots_reason")
    )
    rungs.append(("label", df))
    df = df.withColumn("_toks_lw", ws_tokens(F.lower(F.col("text"))))
    rungs.append(("tokenize", df))
    df = with_langid(df, lower_tokens_col="_toks_lw")
    rungs.append(("langid", df))
    df = with_quality_features(df, lower_tokens_col="_toks_lw").drop("_toks_lw")
    rungs.append(("quality_features", df))
    q_keep = gopher_keep(
        *(F.col(c) for c in ("word_count", "mean_word_len", "symbol_ratio",
                             "stopword_density", "max_word_repeat_ratio")),
        min_words=cfg.min_words,
        max_words=cfg.max_words,
        max_symbol_ratio=cfg.max_symbol_ratio,
        max_repeat_ratio=cfg.max_repeat_ratio,
    )
    reason = (
        F.when(F.col("_robots_reason") != REASON_KEPT, F.col("_robots_reason"))
        .when(~F.col("langid").isin(*cfg.allowed_langs), F.lit(REASON_LANGUAGE))
        .when(~q_keep, F.lit(REASON_QUALITY))
        .otherwise(F.lit(REASON_KEPT))
    )
    df = (
        df.withColumn("drop_reason", reason)
        .withColumn("keep", F.col("drop_reason") == REASON_KEPT)
        .drop("_robots_keep", "_robots_reason")
    )
    rungs.append(("rules", df))
    df = df.withColumn("scrubbed_text", scrub_all(F.col("text")))
    rungs.append(("scrub", df))
    return rungs


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _parquet_sink(df) -> float:
    from fineweb_domain_analyzer_spark.plans.pipeline import write_pipeline_output

    out = harness.WORK / "ladder_sink"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    write_pipeline_output(df, str(out))
    wall = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    return wall


def climb(wl, tracer: Tracer) -> dict[str, float]:
    """Median time of each rung (plus, for job_longdoc, the parquet sink
    of the top rung); one untimed execution per rung first compiles it."""
    rungs = [(name, df, _noop) for name, df in ladder(wl)]
    if wl.name == "job_longdoc":
        rungs.append(("sink", rungs[-1][1], _parquet_sink))
    times: dict[str, list[float]] = {name: [] for name, _, _ in rungs}
    for rep in range(LADDER_REPEATS + 1):
        for name, df, sink in rungs:
            with tracer.span(f"ladder{rep}.{name}"):
                wall = sink(df)
            if rep:
                times[name].append(wall)
    return {name: statistics.median(ts) for name, ts in times.items()}


def traced_run(spark, wl, session_start_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of one workload; returns (metrics, details).
    Metrics of a layer the workload does not run read 0."""
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark import cli, job

    stores = StatusStores(spark)
    attempted = failed = 0

    def execute(i: int) -> float:
        nonlocal attempted, failed
        attempted += 1
        wall, errors = wl.execute(i)
        failed += bool(errors)
        return wall

    untraced = statistics.median(execute(100 + i) for i in range(3))
    units = metric_units()
    m: dict[str, float] = dict.fromkeys(units, 0.0)
    tracer = Tracer(spark, f"{wl.name}-s{wl.seed}")
    verbs = ["extract_domains", "check_robots", "filter_content"]
    if wl.name == "reference_cli":
        target, attrs = cli, ["main", *verbs]
    elif wl.name == "job_longdoc":
        target, attrs = job, ["main", "run_resumable"]
    else:
        target, attrs = None, []
    full_walls, spans = [], {a: [] for a in attrs}
    for rep in range(FULL_REPEATS):
        with tracer.wrapping(target, attrs), tracer.span(f"full{rep}") as path:
            full_walls.append(execute(200 + rep))
        for a in attrs:
            spans[a].append(tracer.seconds(path, a))
    # the program's own jobs, without the jobs of the output check
    last = f"{path}/main" if attrs else path
    full_wall = statistics.median(full_walls)
    layer, ops = spark_layer_metrics(stores, last)
    m.update(layer)
    m["trace.overhead_ratio"] = full_wall / untraced

    rung_s: dict[str, float] = {}
    if wl.name == "reference_cli":
        for v in verbs:
            span_s = statistics.median(spans[v])
            m[f"cli.{v}_s"] = span_s
            m[f"cli.{v}_driver_s"] = span_s - stores.job_seconds(f"{last}/{v}")
        m["domain_stats.agg_s"] = stores.job_seconds(f"{last}/extract_domains")
        m["domain_stats.shuffle_bytes"] = stores.stages(f"{last}/extract_domains")["shuffle_bytes_written"]
        m["domain_stats.domains_out"] = len(tracer.results["extract_domains"])
        m["robots.policy_s"] = stores.job_seconds(f"{last}/check_robots")
        m["jsonl.bytes_written"] = wl.out_bytes
        py = [o for o in ops if "extract_domain_udf" in o["desc"]]
        m["domains.python_s"] = _sum(py, "time to run Python workers")
        m["domains.distinct_ratio"] = wl.meta["domains"] / wl.docs
    else:
        rung_s = climb(wl, tracer)
        order = [name for name, _ in ladder(wl)]
        added = {b: rung_s[b] - rung_s[a] for a, b in zip(order, order[1:])}
        m["sources.scan_s"] = rung_s["scan"]
        m["textfns.html_decode_s"] = added["html_decode"]
        m["filtering.label_s"] = added["label"]
        m["textfns.tokenize_s"] = added["tokenize"]
        m["textfns.langid_s"] = added["langid"]
        m["quality.features_s"] = added["quality_features"]
        m["quality.rule_s"] = added["rules"]
        m["scrub.scrub_s"] = added["scrub"]
        # Python-worker time the domain UDF adds to the decode UDF's node
        py = {
            rung: _sum(stores.operators(f"{tracer.run_id}/ladder{LADDER_REPEATS}.{rung}"),
                       "time to run Python workers")
            for rung in ("html_decode", "label")
        }
        m["domains.python_s"] = py["label"] - py["html_decode"]
        top = ladder(wl)[-1][1]
        counts = top.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("domain").alias("domains"),
            F.sum((F.col("scrubbed_text") != F.col("text")).cast("int")).alias("scrubbed"),
        ).collect()[0]
        payloads = (
            wl.spark.read.parquet(wl.pages_path)
            .filter(F.col("text").isNull() & F.col("html").isNotNull())
            .count()
        )
        m["domains.distinct_ratio"] = counts["domains"] / counts["rows"]
        m["scrub.hit_ratio"] = counts["scrubbed"] / counts["rows"]
        rows = m["textfns.html_decode_rows"]
        m["textfns.html_decode_useful_ratio"] = payloads / rows if rows else 0.0
        if wl.name == "job_longdoc":
            sink_ops = stores.operators(f"{tracer.run_id}/ladder{LADDER_REPEATS}.sink")
            m["pipeline.sink_s"] = rung_s["sink"] - rung_s["scrub"]
            m["pipeline.bytes_written"] = _sum(sink_ops, "written output")
            m["pipeline.files_written"] = _sum(sink_ops, "number of written files")
            run_s = statistics.median(spans["run_resumable"])
            m["checkpoint.run_s"] = run_s - rung_s["sink"]
            m["checkpoint.splits_committed"] = len(tracer.results["run_resumable"])
            m["job.readback_s"] = statistics.median(spans["main"]) - run_s
            m["job.readback_jobs"] = len(stores.jobs(last)) - len(stores.jobs(f"{last}/run_resumable"))

    rss = harness.peak_rss_mb()
    jvm = harness.jvm_times(spark)
    m.update({
        "session.start_s": session_start_s,
        "jvm.jit_compile_s": jvm["jit_compile_s"],
        "jvm.gc_s": jvm["gc_s"],
        "jvm.peak_rss_mb": rss["jvm"],
        "python.peak_rss_mb": rss["python"],
    })
    details = {
        "attempted": attempted,
        "failed": failed,
        "untraced_median_s": untraced,
        "traced_walls_s": full_walls,
        "ladder_s": rung_s,
        "full_plan_operators": [o for o in ops if any(k in o["metrics"] for k in (
            "duration", "time to run Python workers", "time to build", "scan time",
            "time to collect", "task commit time", "job commit time"))],
        "spans": tracer.spans,
    }
    if set(m) != set(units):
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(set(m) - set(units))}")
    return {k: (v, units[k]) for k, v in sorted(m.items())}, details


def metric_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric BENCHMARK.json declares."""
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    return {e["name"]: e["unit"] for e in spec["per_layer"]}
