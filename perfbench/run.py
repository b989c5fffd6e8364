#!/usr/bin/env python3
"""Benchmark of the quality-filter engine: one workload per invocation.

    python3 perfbench/run.py --workload job_longdoc --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The process generates the workload's
inputs for ``--seed`` if they are not cached yet (gen.py, in a child
process; this time is left out of ``setup_s``), starts one Spark
application at ``local[<cores>]``, warms up, and then runs timed
executions of the
workload back to back (closed loop, one client) for ``--seconds``. Every
execution's output is checked (see workloads.py). The last line of
stdout is one JSON object:

* ``--trace 0``: the gated end-to-end metrics: ``docs_per_s`` and
  ``text_mb_per_s`` (from the median wall time of the timed executions),
  ``peak_rss_mb``, ``out_bytes_per_in_byte`` and ``setup_s``.
* ``--trace 1``: the per-layer metrics of trace.py, from a separate
  traced run.

Diagnostics that explain an outlier but are not gated (JIT and GC time,
CPU time stolen by the hypervisor during the timed loop, each
execution's wall time, the output digest) go to
``perfbench/.work/<workload>-s<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen, harness  # noqa: E402

# Executions before timing starts: the first compiles the plan's
# generated code (and runs the full PII check); the next two are still
# slow while the JIT compiles. Walls then still vary by about +-10% from
# one execution to the next, so a run reports the median of several.
WARMUP = 3
MIN_TIMED = 4


def ensure_inputs(workload: str, seed: int) -> tuple[dict, float]:
    """Meta of the workload's cached inputs, generating them first in a
    child process if needed; returns the seconds spent generating. The
    child keeps generation's JIT and heap effects out of the measured
    process, so a run that generates and a run that reads the cache
    start the same way."""
    meta = gen.load_meta(workload, seed)
    if meta is not None:
        return meta, 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, "-m", "perfbench.gen", "--workload", workload, "--seed", str(seed)],
        cwd=harness.ROOT,
        stdout=sys.stderr,
        check=True,
        timeout=170,
    )
    meta = gen.load_meta(workload, seed)
    if meta is None:
        raise RuntimeError(f"generation left no inputs for {workload} seed {seed}")
    return meta, time.perf_counter() - t0


def timed_loop(wl, seconds: float, first_index: int) -> dict:
    walls, failed, attempted = [], 0, 0
    t0 = time.perf_counter()
    while attempted < MIN_TIMED or time.perf_counter() - t0 < seconds:
        attempted += 1
        try:
            wall, errors = wl.execute(first_index + attempted)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        if errors:
            failed += 1
            sys.stderr.write(f"perfbench: execution {attempted} failed its check:\n  "
                             + "\n  ".join(errors[:10]) + "\n")
            continue
        walls.append(wall)
    return {"walls": walls, "attempted": attempted, "failed": failed}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    harness.require_checkout()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")

    meta, gen_s = ensure_inputs(args.workload, args.seed)
    t_session = time.perf_counter()
    spark = harness.start_session()
    session_start_s = time.perf_counter() - t_session
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, meta)
        warmup_walls = []
        for i in range(WARMUP):
            wall, errors = wl.execute(i, full_check=(i == 0))
            warmup_walls.append(wall)
            if errors:
                sys.stderr.write("perfbench: warm-up check failed:\n  " + "\n  ".join(errors[:10]) + "\n")
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        jvm_setup = harness.jvm_times(spark)
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": harness.cores(),
            "gen_s": gen_s, "session_start_s": session_start_s, "setup_s": setup_s,
            "warmup_walls_s": warmup_walls, "jvm_at_setup": jvm_setup,
        }
        if args.trace:
            from perfbench.trace import traced_run

            metrics, extra = traced_run(spark, wl, session_start_s)
            detail.update(extra)
            loop = {"attempted": extra["attempted"], "failed": extra["failed"]}
        else:
            steal0 = harness.cpu_steal_s()
            loop = timed_loop(wl, args.seconds, WARMUP)
            detail["cpu_steal_s"] = harness.cpu_steal_s() - steal0
            walls = loop["walls"] or [float("inf")]
            wall = statistics.median(walls)
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (wl.docs / wall, "1/s"),
                "text_mb_per_s": (wl.text_bytes / 1e6 / wall, "MB/s"),
                "peak_rss_mb": (harness.peak_rss_mb()["total"], "MB"),
                "out_bytes_per_in_byte": (getattr(wl, "out_bytes", 0) / wl.text_bytes, "ratio"),
            }
            detail.update(
                walls_s=loop["walls"],
                jvm_at_end=harness.jvm_times(spark),
                digest=getattr(wl, "last_digest", None),
            )
    finally:
        harness.stop_session(spark)
    detail.update(metrics={k: v for k, (v, _u) in metrics.items()}, **loop)
    harness.WORK.mkdir(parents=True, exist_ok=True)
    record = harness.WORK / f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    record.write_text(json.dumps(detail, indent=1, default=str))
    sys.stderr.write(f"perfbench: details in {record}\n")
    print(json.dumps({
        "correct": loop["failed"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
