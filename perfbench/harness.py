"""Session set-up, host sampling and provenance for one benchmark run."""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, "perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """30% of this host's memory, between 2 GiB and the factory's 16 GiB:
    local mode runs every task inside the driver JVM, and the host is
    shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return max(2048, min(16384, int(total_kb * 0.3 / 1024)))


def session_conf() -> dict[str, str]:
    """The conf the benchmark asks for on top of ``get_spark``'s defaults."""
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: HotSpot would otherwise write its counters to
        # /tmp/hsperfdata_<user>, outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(app: str, cores: int):
    """A SparkSession on ``local[cores]`` with the requested conf, checked:
    ``get_spark``'s ``getOrCreate`` silently keeps a conflicting existing
    session, so every requested setting is read back and compared."""
    from audio_feature_extraction_spark.session import get_spark

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the small JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    mem = f"{driver_memory_mb()}m"
    extra = session_conf()
    spark = get_spark(app_name=app, cores=cores, driver_memory=mem, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    want = {"spark.master": f"local[{cores}]", "spark.driver.memory": mem,
            "spark.app.name": app, **extra}
    conf = spark.sparkContext.getConf()
    # Spark appends its own module flags to the JVM options
    bad = {k: (v, conf.get(k)) for k, v in want.items()
           if not (conf.get(k) == v
                   or (k.endswith("JavaOptions") and v in (conf.get(k) or "")))}
    if bad:
        raise RuntimeError(f"live session conf differs from the request: {bad}")
    return spark


def warm_session(spark, cores: int) -> None:
    """Run the session's first job: task launch, codegen and the shuffle
    path. Python workers are not started here: they start with the first
    Arrow operator, inside ``registry_head``'s un-timed warm-up sweep, and
    ``pit_flagship`` has none."""
    spark.range(0, 1_000_000, 1, 2 * cores).selectExpr("id % 1000 AS k").groupBy(
        "k"
    ).count().selectExpr("sum(count)").collect()


def stop_session(spark) -> None:
    """Stop the SparkContext and the JVM it runs in, waiting until that
    process has exited; the next ``start_session`` launches a new JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def start_watchdog(seconds: float) -> threading.Timer:
    """Kill this process and everything it started after ``seconds``: a
    JVM that dies while PySpark waits for its gateway would otherwise hang
    the run for good."""

    def fire() -> None:
        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr)
        for pid in _proc_tree(os.getpid())[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(seconds, fire)
    t.daemon = True
    t.start()
    return t


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        total = 0
        for pid in _proc_tree(root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page_kb
            except OSError:
                continue
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``xs``."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


# ---------------------------------------------------------------- provenance

def _git(*args: str) -> str | None:
    try:
        r = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def source_sha() -> str:
    """sha256 over the program's Python sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, dirs, files in os.walk(
        os.path.join(ROOT, "audio_feature_extraction_spark")
    ):
        dirs.sort()
        paths += [os.path.join(base, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def plan_hash(df, data_root: str) -> str:
    """Normalized physical-plan hash, as ``tools/plan_report.py`` takes it
    (expression ids stripped), with the run's data directory replaced so
    the hash does not depend on where the checkout lives."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    canon = re.sub(r"#\d+[L]?", "#", plan.replace(data_root, "<data>"))
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


def provenance(spark, cores: int) -> dict:
    import pyarrow
    import pyspark

    # only this checkout's own repository counts, not one it sits inside
    own = _git("rev-parse", "--show-toplevel") == ROOT
    head = _git("rev-parse", "HEAD") if own else None
    dirty = _git("status", "--porcelain", "--untracked-files=no") if own else None
    return {
        "git_head": head,
        "git_dirty": None if dirty is None else bool(dirty),
        "source_sha": source_sha(),
        "nproc": cores,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
