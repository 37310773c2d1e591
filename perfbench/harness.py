"""Run environment, Spark session lifecycle and timed calls.

Everything here measures the program from outside: it starts the program's
own session factory (``session.get_spark``), calls the program's public
functions, and reads Spark's event log and the process table.
"""

from __future__ import annotations

import os
import platform
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from eventlog import Call

#: Driver JVM heap. ``session.get_spark`` defaults to 24g, above this
#: class of box's RAM; the benchmark pins a heap that fits beside other work.
DRIVER_MEM = "3g"
#: Fixed young generation (with -Xms = heap): G1's adaptive sizing otherwise
#: decides how much of the heap gets touched, which swung the JVM's peak RSS
#: by ±30% between identical runs.
YOUNG_MEM = "1g"


@dataclass
class RunEnv:
    """Pinned run environment; every directory lives under ``work``."""

    work: str
    cpus: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))

    def __post_init__(self) -> None:
        for sub in ("local", "tmp", "warehouse", "ckpt", "eventlog", "derby"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def pin(self) -> None:
        """Point every temporary location of Spark, its Python workers and the
        program's streaming checkpoints into ``work`` (set before the JVM
        starts: the JVM and Python workers inherit the environment)."""
        import tempfile

        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_GRAFT_STREAM_CKPT_BASE"] = self.path("ckpt")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
        # says; no JVM of the run (launcher or driver) needs it.
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        tempfile.tempdir = self.path("tmp")

    def conf(self, event_log: bool) -> dict[str, str]:
        java_opts = (
            f"-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM} "
            f"-Djava.io.tmpdir={self.path('tmp')} "
            f"-Dderby.system.home={self.path('derby')} "
            f"-Dderby.stream.error.file={self.path('derby', 'derby.log')}"
        )
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            conf.update({
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf


def start_session(env: RunEnv, *, event_log: bool = False):
    from sales_data_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", cpus=env.cpus, extra_conf=env.conf(event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and wait (up to 30 s) until its Python workers
    have exited; the JVM stays up for the next session."""
    workers = set(_descendants(jvm_pid(spark)))
    spark.stop()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if _running(p)}
        time.sleep(0.05)


def shutdown_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit (it exits when
    its stdin, held by this process, closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def event_log_file(env: RunEnv) -> str:
    names = [n for n in os.listdir(env.path("eventlog")) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log, found {names}")
    return env.path("eventlog", names[0])


def describe(env: RunEnv, spark, seed: int, inputs: dict) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": env.cpus,
        "ram_mb": mem_kb // 1024,
        "driver_mem": DRIVER_MEM,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "inputs": inputs,
        "spark_local_dirs": "<work>/local",
    }


# ---------------------------------------------------------------------------
# Peak RSS of the driver JVM (and of it plus its Python workers)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited. A worker orphaned when
    its daemon stops stays a zombie until init reaps it, which here can
    take many seconds; it has ended all the same."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss(root: int) -> tuple[int, int]:
    """Summed RSS in bytes of ``root`` and all its descendants, and the
    number of processes."""
    total = 0
    pids = [root, *_descendants(root)]
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total, len(pids)


def peak_rss(pid: int) -> int:
    """The kernel's high-water mark of a process's RSS (``VmHWM``), in
    bytes: exact, with no sampling."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


class RssSampler:
    """``peak_root``: the peak RSS of a process up to the end of the block,
    from the kernel's high-water mark. ``peak``: the peak summed RSS of it
    and its descendants, sampled on a background thread; walking the
    process table takes ~3 ms of this process's own time, so it runs twice
    a second, not more."""

    INTERVAL_S = 0.5

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self.peak = 0
        self.peak_root = 0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total, procs = _tree_rss(self.root_pid)
            if total > self.peak:
                self.peak, self.peak_procs = total, procs
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_root = peak_rss(self.root_pid)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------------------
# Timed calls
# ---------------------------------------------------------------------------


@dataclass
class Outcome:
    call: Call
    result: object = None
    error: str | None = None


class Recorder:
    """Times calls into the program, one Spark job group per call; call ids
    are ``prefix:n``, so give each Recorder of a run its own prefix.

    ``build`` is the call into the program; ``action`` (optional) is the
    benchmark's own action on what it returned. The job group is set before
    the call and cleared in ``finally``, so a raising call leaves no stale
    group on later work.
    """

    def __init__(self, spark, prefix: str) -> None:
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.calls: list[Call] = []
        self._tables_s = 0.0

    def time_function(self, module, attr: str) -> Callable[[], None]:
        """Replace ``module.attr`` with a wrapper that adds its wall time to
        the running call's ``tables_s``; returns the undo function."""
        orig = getattr(module, attr)

        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self._tables_s += time.perf_counter() - t

        setattr(module, attr, timed)
        return lambda: setattr(module, attr, orig)

    def run(
        self,
        name: str,
        layer: str,
        pass_no: int,
        build: Callable[[], object],
        action: Callable[[object], object] | None = None,
    ) -> Outcome:
        cid = f"{self.prefix}:{len(self.calls)}"
        self._tables_s = 0.0
        self.sc.setJobGroup(cid, name)
        t0 = time.time()
        t1 = t2 = None
        try:
            out = build()
            t1 = time.time()
            if action is not None:
                out = action(out)
            t2 = time.time()
            err = None
        except Exception as e:  # a failed call counts toward failed_ratio
            now = time.time()
            t1 = t1 or now
            t2 = now
            out, err = None, f"{type(e).__name__}: {e}"
        finally:
            # PySpark has no clearJobGroup wrapper; clear on the JVM side.
            self.sc._jsc.clearJobGroup()
        call = Call(
            cid, name, layer, pass_no, t0, t1, t2,
            self_acting=action is None, tables_s=self._tables_s,
        )
        self.calls.append(call)
        return Outcome(call, out, err)
