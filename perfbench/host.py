"""Host sizing, Spark session start and the record stamp.

The session is sized from the host alone: ``local[nproc]`` and a JVM
heap of 60% of MemTotal with ``-Xms`` equal to ``-Xmx`` (so the heap is
not grown mid-run). Everything Spark, the JVM and Python write goes under
the benchmark's work directory inside the checkout.
"""

import os
import shutil
import time

HEAP_SHARE = 0.6
# fixed young generation: G1 would otherwise grow eden across reps and
# each rep would pay first-touch page faults on fresh heap pages
YOUNG_MB = 1024


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb():
    return int(mem_total_kb() * HEAP_SHARE / 1024)


class WorkDir:
    """Scratch space for one run, removed on exit."""

    def __init__(self, root, name):
        self.path = os.path.join(root, ".perfbench_work", name)

    def __enter__(self):
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "data"):
            os.makedirs(os.path.join(self.path, sub))
        # inherited by the JVM and its Python workers
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "local")
        return self

    def sub(self, *parts):
        return os.path.join(self.path, "data", *parts)

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


def start_session(workdir, cores=None, ui=False):
    """Start (or restart, inside the running JVM) the Spark session
    through the library's ``get_spark``; returns (spark, seconds)."""
    from pdftabextract_spark.session import get_spark

    cores = cores or nproc()
    heap = heap_mb()
    tmp = os.path.join(workdir.path, "tmp")
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions":
            f"-Xms{heap}m -Xmn{YOUNG_MB}m -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": workdir.sub("warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    return spark, time.perf_counter() - t0


def shutdown(timeout_s=60.0):
    """Stop the active session, then the JVM and its Python workers, and
    wait until every one of those processes has exited."""
    from pyspark import SparkContext

    from .procstat import alive, descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    pids = list(descendants())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not alive(pids):
            return
        time.sleep(0.1)
    raise RuntimeError("Spark processes still running after shutdown")


def steal_s():
    """CPU time the hypervisor has taken from this machine's CPUs since
    boot, summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def git_sha(root):
    """HEAD of the checkout if it is a git work tree, else "unknown"."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def bandwidth_gbps():
    """The repository's single-thread memory-copy probe, when present."""
    try:
        from bench import _bandwidth_probe_gbps
    except ImportError:
        return None
    return _bandwidth_probe_gbps()


def stamp(root, workload, seed, trace):
    return {"workload": workload, "seed": seed, "trace": trace,
            "nproc": nproc(), "mem_total_kb": mem_total_kb(),
            "heap_mb": heap_mb(), "git_sha": git_sha(root),
            "host_bw_gbps": bandwidth_gbps()}
