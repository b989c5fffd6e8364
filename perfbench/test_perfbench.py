"""Tests of the benchmark itself: its generators, its output checks and
the honesty of the plans it times.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import shutil

import pytest

from perfbench import gen, harness, trace, workloads

SMALL = {"job_longdoc": 400, "labels_shortdoc": 2000, "reference_cli": 3000}


@pytest.fixture(scope="module")
def spark():
    harness.require_checkout()
    s = harness.start_session(2)
    yield s
    harness.stop_session(s)


@pytest.fixture(scope="module")
def small_inputs(spark):
    metas = {w: gen.generate(spark, w, 7, SMALL[w]) for w in SMALL}
    yield metas
    for w in SMALL:
        shutil.rmtree(gen.input_dir(w, 7, SMALL[w]), ignore_errors=True)


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_input_digest(spark, small_inputs, workload):
    again = gen.generate(spark, workload, 7, SMALL[workload])
    assert again["digest"] == small_inputs[workload]["digest"]
    other = gen.generate(spark, workload, 8, SMALL[workload])
    shutil.rmtree(gen.input_dir(workload, 8, SMALL[workload]))
    assert other["digest"] != again["digest"]


def test_longdoc_length_quantiles(spark):
    from pyspark.sql import functions as F

    pages = gen.longdoc_pages(spark, 4000, 3, gen.N_DOMAINS["job_longdoc"])
    n = F.coalesce(F.octet_length("text"), F.octet_length("html"))
    q = pages.select(F.percentile_approx(n, [0.5, 0.99], 10000), F.max(n)).collect()[0]
    median, p99 = q[0]
    assert 2400 <= median <= 3600, q  # ~3 KB
    assert p99 >= 15000 and q[1] > 30000, q  # a tail past 30 KB


def test_shortdoc_is_the_historical_corpus(spark):
    from pyspark.sql import functions as F

    from fineweb_domain_analyzer_spark.sources.pages import synth_pages

    d = gen.input_dir("labels_shortdoc", 7, SMALL["labels_shortdoc"])
    written = spark.read.parquet(str(d / "pages"))
    direct = synth_pages(spark, SMALL["labels_shortdoc"], n_domains=gen.N_DOMAINS["labels_shortdoc"], seed=7)
    assert gen.frame_digest(written) == gen.frame_digest(direct.select(*written.columns))
    words = F.size(F.split(F.col("text"), " "))
    lo, hi = written.filter(F.col("text").isNotNull()).select(F.min(words), F.max(words)).collect()[0]
    assert lo >= 20 and hi <= 200


def test_longdoc_label_mix(spark):
    from fineweb_domain_analyzer_spark.plans.pipeline import quality_filter_pipeline
    from fineweb_domain_analyzer_spark.sources.pages import synth_policy_for_domains

    n_dom = gen.N_DOMAINS["job_longdoc"]
    pages = gen.longdoc_pages(spark, 3000, 5, n_dom)
    labeled = quality_filter_pipeline(pages, synth_policy_for_domains(spark, n_dom))
    mix = {r[0]: r[1] / 3000 for r in labeled.groupBy("drop_reason").count().collect()}
    for reason in ("robots_disallowed", "bad_url", "language_filtered", "quality_filtered"):
        assert mix.get(reason, 0) >= 0.01, mix
    assert 0.5 <= mix["kept"] <= 0.9, mix


def test_cli_oracle_mix(small_inputs):
    m = small_inputs["reference_cli"]
    assert 0.5 <= m["kept"] / m["lines"] <= 0.9, m
    assert m["domains"] > 1000


def test_top_rung_equals_pipeline(spark, small_inputs):
    """The ladder's top rung computes exactly quality_filter_pipeline."""
    wl = workloads.LabelsShortdoc(spark, 7, small_inputs["labels_shortdoc"])
    top = trace.ladder(wl)[-1][1]
    full = wl.plan()
    assert sorted(top.columns) == sorted(full.columns)
    assert gen.frame_digest(top) == gen.frame_digest(full)


def _executed_plan(spark, description: str) -> str:
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).description() == description
    ]
    assert plans, description
    return plans[-1]


def test_timed_plans_compute_what_they_claim(spark, small_inputs):
    """The noop-sink plans the benchmark times keep the scrub chain, the
    scrubbed_text column and the quality features: nothing is pruned."""
    wl = workloads.LabelsShortdoc(spark, 7, small_inputs["labels_shortdoc"])
    cases = [("labels", wl.plan())] + [(f"rung.{n}", df) for n, df in trace.ladder(wl)[-3:]]
    for name, df in cases:
        spark.sparkContext.setJobDescription(f"honesty/{name}")
        df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)
        plan = _executed_plan(spark, f"honesty/{name}")
        assert "OverwriteByExpression" in plan or "AppendData" in plan or "noop" in plan.lower(), plan[:400]
        for feature in ("word_count", "mean_word_len", "symbol_ratio", "stopword_density",
                        "max_word_repeat_ratio", "langid", "decode_utf8_ignore_udf",
                        "extract_domain_udf", "BroadcastHashJoin"):
            assert feature in plan, (name, feature)
        if name in ("labels", "rung.scrub"):
            for token in ("<EMAIL>", "<PHONE>", "<IP>", "<TOX>", "scrubbed_text"):
                assert token in plan, (name, token)
        assert "HashAggregate" not in plan.split("== Physical Plan ==")[-1], name


def test_checks_fail_on_wrong_output(spark, small_inputs):
    wl = workloads.LabelsShortdoc(spark, 7, small_inputs["labels_shortdoc"])
    wall, errors = wl.execute(0, full_check=True)
    assert errors == [] and wall > 0
    good = wl.plan()
    row = good.filter("drop_reason = 'robots_disallowed'").select(*workloads.SAMPLE_COLS).first()
    res = good.agg(*wl.check_aggs(good.columns, full=True)).collect()[0].asDict()
    assert wl.verify(dict(res)) == []
    assert wl.verify(dict(res, rows=res["rows"] - 1))
    assert wl.verify(dict(res, pii_rows=1))
    wrong = row.asDict()
    wrong["drop_reason"] = "kept"
    from pyspark.sql import Row

    assert wl.verify(dict(res, sample=[Row(**wrong)]))


def test_parse_metric():
    assert trace.parse_metric("24,000") == 24000
    assert trace.parse_metric("16.0 MiB") == 16 * 2**20
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n27.5 s (6.5 s, 7.0 s)") == 27.5
    assert trace.parse_metric("254 ms") == pytest.approx(0.254)
