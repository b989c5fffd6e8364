"""Process-level plumbing shared by the benchmark's entry points: the
Spark session it measures, and the readings it takes from outside the
program (``/proc`` RSS, the JVM's management beans)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
PACKAGE = "fineweb_domain_analyzer_spark"


def require_checkout() -> None:
    """Exit non-zero unless the program under test sits beside the
    benchmark: a benchmark directory copied alone must not report."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        sys.stderr.write(f"perfbench: {ROOT / PACKAGE} not found; run from a checkout\n")
        sys.exit(2)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(n_cores: int | None = None):
    """The engine's own session factory at ``local[n_cores]``, with the
    UI off and every scratch directory inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers inherit the environment of the JVM, which inherits ours
    os.environ["TMPDIR"] = str(tmp)
    # for every JVM, spark-submit's launcher included: temp files in the
    # checkout, and no hsperfdata file (always written under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    from fineweb_domain_analyzer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n_cores or cores()}]",
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap: RSS then does not depend on when G1 grows it
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the application and wait for the JVM, and with it the Python
    workers it started, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


# --- readings from /proc -------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def process_tree() -> list[int]:
    """This process and all its live descendants (the JVM, the PySpark
    daemon and its forked Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as f:
            return f.read().strip() == "java"
    except (FileNotFoundError, ProcessLookupError):
        return False


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot: its growth during a run explains slow outliers."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> dict[str, float]:
    """High-water RSS (VmHWM) of the process tree, split into the JVM
    and the Python processes (this driver plus the Spark workers)."""
    jvm = py = 0
    for pid in process_tree():
        kb = _status_kb(pid, "VmHWM")
        if is_java(pid):
            jvm += kb
        else:
            py += kb
    return {"total": (jvm + py) / 1024.0, "jvm": jvm / 1024.0, "python": py / 1024.0}


# --- readings from the JVM's management beans ------------------------------


def jvm_times(spark) -> dict[str, float]:
    """Cumulative JIT-compile and GC time of the driver JVM, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "gc_s": gc_ms / 1000.0,
    }
