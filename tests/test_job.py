"""spark-submit job entry tests (fineweb_domain_analyzer_spark.job)."""

from __future__ import annotations

import json

import pytest

from fineweb_domain_analyzer_spark import job, session


def _write_jobs(spark, description: str) -> list[int]:
    """Ids of the jobs run under ``description`` whose stages wrote
    output records, read from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs, out = store.jobsList(None), []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not (j.description().isDefined() and j.description().get() == description):
            continue
        written = 0
        for k in range(j.stageIds().size()):
            try:
                written += store.lastStageAttempt(j.stageIds().apply(k)).outputRecords()
            except Exception:  # skipped stage: never ran, no attempt recorded
                pass
        if written:
            out.append(j.jobId())
    return out


def test_job_synth_splits_are_disjoint(spark, tmp_path, capsys):
    """--splits under --synth-rows must bucket the corpus, not write one
    full copy per split (regression: synth mode ignored the split key),
    and the 16 splits are one pass: one write job, one manifest commit."""
    # job.main builds its own session via get_spark(); reuse the test
    # session's master to avoid a second JVM
    out = tmp_path / "out"
    manifest = tmp_path / "m.json"
    description = f"job-16-splits/{tmp_path.name}"
    spark.sparkContext.setJobDescription(description)
    try:
        rc = job.main(
            [
                "--synth-rows",
                "20000",
                "--splits",
                "0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15",
                "--output",
                str(out),
                "--manifest",
                str(manifest),
                "--master",
                "local[4]",
            ]
        )
    finally:
        spark.sparkContext.setJobDescription(None)
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # all 16 url-hash buckets together must partition the corpus exactly
    assert report["total"] == 20000
    assert report["kept"] + report["excluded"] == 20000
    assert len(report["splits_processed"]) == 16
    assert set(json.load(open(manifest))["splits"]) == {str(i) for i in range(16)}
    assert len(_write_jobs(spark, description)) == 1
    by_split = spark.read.parquet(str(out)).groupBy("_split").count().collect()
    counts = json.load(open(manifest))["counts"]
    assert {str(r["_split"]): r["count"] for r in by_split} == {
        s: c["rows"] for s, c in counts.items()
    }


@pytest.mark.parametrize("splits", ["all,3", "16", "0,0", "", "3,x"])
def test_job_refuses_split_misuse(tmp_path, monkeypatch, splits):
    """--splits is exactly 'all' or distinct buckets 0-15; anything else
    is refused before a session starts (it used to write duplicate rows
    under 'all,3', commit an empty split '16', or process '0' twice)."""
    monkeypatch.setattr(session, "get_spark_owned", _no_session)
    argv = ["--splits", splits, "--output", str(tmp_path / "o"),
            "--manifest", str(tmp_path / "m.json"), "--synth-rows", "320"]
    with pytest.raises(SystemExit) as exc:
        job.main(argv)
    assert exc.value.code == 2
    assert not (tmp_path / "o").exists()


@pytest.mark.parametrize(
    ("committed", "splits"),
    [(["all"], "0,1"), (["3"], "all")],
    ids=["all-then-buckets", "buckets-then-all"],
)
def test_job_refuses_manifest_of_the_other_scheme(tmp_path, monkeypatch, committed, splits):
    """A manifest holding splits of the other scheme would count the
    same docs twice in the report; the job refuses it."""
    monkeypatch.setattr(session, "get_spark_owned", _no_session)
    manifest = tmp_path / "m.json"
    manifest.write_text(json.dumps({"splits": committed}))
    argv = ["--splits", splits, "--output", str(tmp_path / "o"),
            "--manifest", str(manifest), "--synth-rows", "320"]
    with pytest.raises(SystemExit) as exc:
        job.main(argv)
    assert exc.value.code == 2


def _no_session(*args, **kwargs):
    raise AssertionError("a refused --splits must not start a session")


def test_job_resume_skips_committed_splits(spark, tmp_path, capsys):
    out = tmp_path / "out"
    manifest = tmp_path / "m.json"
    common = [
        "--synth-rows", "5000",
        "--splits", "0,1",
        "--output", str(out),
        "--manifest", str(manifest),
        "--master", "local[4]",
    ]
    assert job.main(common) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(first["splits_processed"]) == 2
    # second invocation: everything committed, nothing reprocessed; the
    # report sums the counts recorded in the manifest, so it is unchanged
    assert job.main(common) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["splits_processed"] == []
    assert second["total"] == first["total"]


def test_spark_submit_py_files_packaging(tmp_path):
    """North-rule packaging clause, end to end: zip the package, launch
    it through REAL ``spark-submit --py-files`` in a subprocess whose
    environment cannot import the repo (PYTHONPATH cleared, cwd outside
    the repo) — so every import, driver AND Python-UDF worker side, must
    resolve from the zip. Asserts the job completes and prints its run
    report (counts observed while writing, summed from the manifest)."""
    import os
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    import pyspark

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "fineweb_domain_analyzer_spark"
    zip_path = tmp_path / "fineweb_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(pkg.rglob("*")):
            if "__pycache__" in f.parts or not f.is_file():
                continue
            zf.write(f, f.relative_to(repo))

    launcher = tmp_path / "launch_job.py"
    launcher.write_text(
        "import sys\n"
        "from fineweb_domain_analyzer_spark.job import main\n"
        "sys.exit(main(sys.argv[1:]))\n",
        encoding="utf-8",
    )

    spark_submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out_dir = tmp_path / "out"
    res = subprocess.run(
        [
            str(spark_submit),
            "--master",
            "local[4]",
            "--py-files",
            str(zip_path),
            str(launcher),
            "--synth-rows",
            "4000",
            "--splits",
            "0,1",
            "--output",
            str(out_dir),
            "--manifest",
            str(tmp_path / "manifest.json"),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert sorted(report["splits_processed"]) == ["0", "1"]
    assert report["total"] == report["kept"] + report["excluded"] > 0
    assert report["lineage_partitions"] > 0


def _read_back(spark, out):
    """The report's figures recomputed from the committed output."""
    from fineweb_domain_analyzer_spark.operators.metrics import (
        drop_reason_histogram,
        filter_stats,
    )

    written = spark.read.parquet(str(out))
    stats = filter_stats(written.withColumn("keep", written["drop_reason"] == "kept"))
    s = stats.collect()[0]
    return {
        "total": s["total_processed"],
        "kept": s["filtered_kept"],
        "excluded": s["excluded_count"],
        "keep_ratio": s["keep_ratio"],
        "drop_reason_histogram": {
            r["drop_reason"]: r["cnt"] for r in drop_reason_histogram(written).collect()
        },
    }


def test_job_report_comes_from_the_write(spark, tmp_path, capsys, monkeypatch):
    """The report is collected while run_resumable writes: once it has
    committed, job.main starts no Spark job, and the report equals a
    read-back of the output — on a fresh 16-split run, on a resumed run
    that processes nothing, and (through one read-back) for a manifest
    that records no counts."""
    sc = spark.sparkContext
    out, manifest = tmp_path / "out", tmp_path / "m.json"
    argv = [
        "--synth-rows", "4000",
        "--splits", ",".join(str(i) for i in range(16)),
        "--output", str(out),
        "--manifest", str(manifest),
        "--master", "local[4]",
    ]
    after_commit = []
    run_resumable = job.run_resumable

    def last_job_id():
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1)

    def tracked(*args, **kwargs):
        done = run_resumable(*args, **kwargs)
        after_commit.append(last_job_id())
        return done

    monkeypatch.setattr(job, "run_resumable", tracked)
    keys = ["total", "kept", "excluded", "keep_ratio", "drop_reason_histogram"]

    def run():
        assert job.main(argv) == 0
        report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        return report, last_job_id() - after_commit[-1]

    fresh, jobs_after = run()
    assert len(fresh["splits_processed"]) == 16
    assert jobs_after == 0
    want = _read_back(spark, out)
    assert {k: fresh[k] for k in keys} == want
    assert want["total"] == 4000
    assert fresh["lineage_partitions"] == 16

    resumed, jobs_after = run()
    assert resumed["splits_processed"] == []
    assert jobs_after == 0
    assert {k: resumed[k] for k in keys} == want

    # a manifest written before per-split counts were recorded
    splits = json.loads(manifest.read_text())["splits"]
    manifest.write_text(json.dumps({"splits": splits}))
    legacy, _ = run()
    assert legacy["splits_processed"] == []
    assert {k: legacy[k] for k in keys} == want
    assert legacy["lineage_partitions"] == 0


class TestDataCardNullGroups:
    def test_null_lang_not_double_counted(self, spark):
        """cube rollup rows are selected by grouping_id, so a real NULL
        langid group must not double into the decision/overall sums."""
        from fineweb_domain_analyzer_spark.operators.metrics import data_card

        rows = [
            ("kept", "en", 10),
            ("kept", None, 7),       # real NULL language group
            ("quality_filtered", None, 3),
            ("robots_disallowed", "de", 5),
        ]
        df = spark.createDataFrame(
            rows, "drop_reason string, langid string, word_count int"
        )
        card = {
            (r["section"], r["key"]): (r["docs"], r["words"])
            for r in data_card(df).collect()
        }
        assert card[("overall", "all")] == (4, 25)
        assert card[("decision", "kept")] == (2, 17)
        assert card[("decision", "dropped")] == (2, 8)
        assert card[("drop_reason", "kept")] == (2, 17)
        assert card[("drop_reason", "quality_filtered")] == (1, 3)
        # the kept NULL-lang group appears once, as its own key
        assert card[("language_kept", "en")] == (1, 10)
        assert card[("language_kept", None)] == (1, 7)
