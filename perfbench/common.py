"""Shared plumbing for the benchmark workloads: pinned Spark session,
seeded corpus cache, process-tree memory sampling, sample statistics.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import random
import shutil
import signal
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CORPUS_PARTS = 8  # parquet files per corpus: the scan's split count


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Environment every run gets, before the JVM starts: Python workers
    can import the package from the checkout, temp files stay inside
    it, and the driver heap is bounded."""
    os.makedirs(STATE, exist_ok=True)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())


def start_session(trace: bool):
    """local[nproc] with explicit shuffle partitions; console progress
    off so stdout stays parseable. A traced run keeps enough job/stage
    history in the status store to resolve every span's counters."""
    from datacapsule_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(STATE, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores()}]",
        shuffle_partitions=2 * cores(), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.defaultParallelism != cores():
        raise RuntimeError("a SparkContext with another master already exists")
    return spark


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts: one
    whose parent ends first (the Python workers of a stopped JVM, the JVM
    of the warehouse-building child) is re-parented here instead of to
    init, so reap_children can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(grace: float = 30.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended and been reaped. Those still running after ``grace`` seconds get
    SIGTERM, and SIGKILL 5 s later. Call it last: it also reaps children
    whose Popen has not waited for them yet."""
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() >= deadline:
            for pid in _child_pids(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5
        time.sleep(0.05)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------ inputs

def corpus(seed: int, n_files: int) -> str:
    """Seeded balanced corpus (``corpus.generate_row``), cached by
    (CORPUS_VERSION, generator, seed, size).

    Rows come from the program's own pure row generator; writing them
    with pyarrow rather than a Spark job keeps the JVM and Python-worker
    state identical whether the cache hits or misses, so set-up time
    does not depend on the cache."""
    from datacapsule_spark import corpus as gen

    row_fn = gen.generate_row
    out = os.path.join(
        STATE, "corpus", f"{row_fn.__name__}_s{seed}_n{n_files}_v{gen.CORPUS_VERSION}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    vocab = gen.symbol_vocab()
    cols = ("repo", "path", "commit", "lang", "content")
    for part in range(CORPUS_PARTS):
        rows = [row_fn(i, vocab, seed) for i in range(part, n_files, CORPUS_PARTS)]
        table = pa.table({c: pa.array([r[k] for r in rows], pa.string())
                          for k, c in enumerate(cols)})
        pq.write_table(table, os.path.join(out, f"part-{part:05d}.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def code_version() -> str:
    """Hash of the program's and the benchmark's Python sources. Outputs
    kept across runs (the serve warehouse and its oracle tables) are
    keyed by it, so each version of the code builds and checks its own."""
    h = hashlib.sha256()
    for top in ("datacapsule_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def fresh_dir(*parts: str) -> str:
    path = os.path.join(STATE, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def rng_for(seed: int, *salt) -> random.Random:
    return random.Random(f"{seed}:" + ":".join(map(str, salt)))


# ------------------------------------------------------------ memory

class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python daemon and workers), sampled every 100 ms; and
    the kernel's exact peak (VmHWM) of the biggest single process."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self.hwm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def sample(self) -> None:
        total, hwm = _tree_rss_kb(os.getpid())
        self.peak_kb = max(self.peak_kb, total)
        self.hwm_kb = max(self.hwm_kb, hwm)


def _child_pids(parent: int) -> list[int]:
    return _proc_table()[0].get(parent, [])


def _tree_rss_kb(root: int) -> tuple[int, int]:
    """(summed RSS of root's process tree, largest VmHWM in it), in kB."""
    children, rss = _proc_table()
    total, hwm, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        hwm = max(hwm, _hwm_kb(pid))
        todo.extend(children.get(pid, []))
    return total, hwm


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """({pid: child pids}, {pid: RSS in kB}) of every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    return children, rss


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a sample."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def describe(xs) -> dict:
    return {"n": len(xs), "p25": quantile(xs, 0.25), "p50": quantile(xs, 0.5),
            "p75": quantile(xs, 0.75), "p90": quantile(xs, 0.9)}
