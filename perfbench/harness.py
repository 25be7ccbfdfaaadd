"""Process hygiene, the Spark session, output fingerprints and memory sampling.

Everything the benchmark writes lives under one work directory inside the
checkout (``.perfbench_work/run-<pid>``): the generated tables, the images
table, checkpoint dirs, Spark's local dirs and every ``tempfile`` spill the
library makes (TMPDIR points there before anything imports ``tempfile``).
The directory is removed at exit.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = max(1, min(4, os.cpu_count() or 1))


def prepare_process(tag: str) -> str:
    """Create the run's work dir, point every temp path into it, make
    ``ndto_spark`` importable here and in the Python workers; return the dir."""
    if not os.path.isdir(os.path.join(ROOT, "ndto_spark")):
        raise SystemExit(f"ndto_spark package not found under {ROOT}")
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # workers must run the same interpreter as the driver
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    atexit.register(shutil.rmtree, work, True)
    return work


def redirect_fixture_caches(work: str) -> None:
    """The gate fixtures cache their synthetic tables under /tmp; keep those
    caches inside the work dir so the run reads and writes only its checkout
    (and every run builds them afresh, as part of set-up)."""
    from ndto_spark import fixtures

    base = os.path.join(work, "fixtures")
    os.makedirs(base, exist_ok=True)
    orig_images, orig_feat = fixtures.images_cache_path, fixtures.featimg_cache_path

    def images_cache_path(n_rows, n_partitions, seed):
        return os.path.join(base, os.path.basename(orig_images(n_rows, n_partitions, seed)))

    def featimg_cache_path(n_rows, n_partitions=4):
        return os.path.join(base, os.path.basename(orig_feat(n_rows, n_partitions)))

    fixtures.images_cache_path = images_cache_path
    fixtures.featimg_cache_path = featimg_cache_path


def make_session(work: str, ui: bool = False):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:ReservedCodeCacheSize=512m"
    builder = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("ndto_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.default.parallelism", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if ui:
        builder = (
            builder.config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100000")
            .config("spark.ui.retainedTasks", "1000")
        )
    else:
        builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fingerprint_frame(df):
    """Single-row aggregate over a 64-bit hash of EVERY output column: the
    terminal action of each call. Unlike a bare count() it cannot prune any
    output column, and it is order-insensitive, so partitioning does not
    change it. Returns the frame; ``fingerprint`` runs it."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName() == "map":
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor("_h"), F.lit(0).cast("long")).alias("x"),
        F.coalesce(F.sum(F.shiftrightunsigned("_h", 24)), F.lit(0).cast("long")).alias("s"),
    )


def fingerprint_of(row) -> tuple[int, str]:
    n, x, s = int(row["n"]), int(row["x"]), int(row["s"])
    return n, f"{n}:{x & 0xFFFFFFFFFFFFFFFF:016x}:{s}"


def fingerprint(df, terminal=None) -> tuple[int, str]:
    """(output rows, fingerprint string) of ``df``. ``terminal``: a
    context-manager factory the tracer wraps around the terminal action."""
    fp_df = fingerprint_frame(df)
    with terminal(fp_df) if terminal else contextlib.nullcontext():
        row = fp_df.collect()[0]
    return fingerprint_of(row)


def _pss_kb(pid: int) -> int:
    """Proportional resident set size: resident pages, with pages shared by
    several processes (forked Python workers) split between them, so the
    sum over the tree counts each page once. 0 unless ``pid`` leads its
    thread group: a short-lived worker's pid can be reused by a JVM thread
    between listing and reading, and would count the JVM twice."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Tgid:"):
                    if int(line.split()[1]) != pid:
                        return 0
                    break
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_mb() -> float:
    """Resident memory (PSS) of this process and every descendant (the JVM
    and the Python workers it forks), in MiB. A JVM child that still runs
    the java binary is a spawn that has not exec'd yet: it shares the JVM's
    memory, so it is skipped rather than counted as a second JVM."""
    total, stack, seen = 0, [(os.getpid(), "")], set()
    while stack:
        pid, parent_exe = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        exe = _exe(pid)
        if exe and exe == parent_exe and os.path.basename(exe).startswith("java"):
            continue
        total += _pss_kb(pid)
        stack.extend((c, exe) for c in _children(pid))
    return total / 1024.0


class PeakRss:
    """Samples the process tree's resident memory every ``interval`` s."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())


def now() -> float:
    return time.perf_counter()


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs (/proc/stat). Runs with a large delta ran on a contended host."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0
