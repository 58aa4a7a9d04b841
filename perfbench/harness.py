"""Shared run context: work directory, Spark session lifecycle, stamps
and latency statistics."""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import pickle
import platform
import shutil
import signal
import subprocess
import sys
import time

from probes import PeakRss, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbm_nca_ph_etl_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor gave to other guests shows host contention."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(min_samples: int) -> float:
    """The highest quantile with at least ten samples beyond it in a
    run of ``min_samples``; 1.0 (the maximum) when a run is too short
    to have one."""
    return 1.0 - 10.0 / min_samples if min_samples >= 20 else 1.0


def work_units(seconds: float, nominal_s: float) -> int:
    """Whole units of work (passes, rounds) for a ``seconds`` window, at
    ``nominal_s`` per unit on the reference machine. The amount of work
    depends only on ``seconds``, never on how fast this run goes."""
    return max(1, round(seconds / nominal_s))


def in_child(tmp_dir: str, fn, *args):
    """``fn(*args)`` run in a fresh Python process, which has ended when
    this returns: input generation and oracle runs leave no memory in
    the process whose memory is measured. The call and its result pass
    through pickle files in ``tmp_dir``; the child's output goes to
    stderr."""
    call = os.path.join(tmp_dir, f"call-{fn.__name__}.pkl")
    with open(call, "wb") as fh:
        pickle.dump((fn, args), fh)
    subprocess.run([sys.executable, os.path.abspath(__file__), call], stdout=sys.stderr, check=True)
    with open(call + ".out", "rb") as fh:
        return pickle.load(fh)


#: Environment variable that marks every process a run starts: children
#: inherit it, also those that leave the run's process group.
RUN_TAG = "PERFBENCH_RUN"
PR_SET_CHILD_SUBREAPER = 36


def tag_processes() -> None:
    """Tags the processes this one starts from now on, and makes this
    process the subreaper of its descendants: one whose parent exits
    (Python workers, the shell that launches the JVM) is handed to this
    process, which reaps it, rather than to init."""
    os.environ[RUN_TAG] = f"{os.getpid()}.{time.time_ns()}"
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _tagged() -> list[int]:
    needle = f"{RUN_TAG}={os.environ[RUN_TAG]}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    found.append(int(entry))
        except OSError:
            pass
    return found


def _reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_tagged(grace_s: float = 10.0) -> int:
    """Waits up to ``grace_s`` for the processes this run started to end
    on their own, then stops those still alive (TERM, then KILL) and
    waits until each has ended. Returns how many had to be stopped; a
    run that cleaned up after itself returns 0."""
    left = None
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            pids = _tagged()
            left = len(pids) if left is None else left
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            if not _tagged() or time.monotonic() > deadline:
                break
            time.sleep(0.05)
    return left or 0


def latency_metrics(latencies: list[float], cpu: list[float], tail_q: float) -> dict[str, float]:
    """Wall-clock metrics of the ops' ``latencies`` and CPU-time metrics
    of the CPU seconds the process tree spent in each op."""
    return {
        "ops_per_s": len(latencies) / sum(latencies),
        "op_p50_s": percentile(latencies, 0.5),
        "op_tail_s": percentile(latencies, tail_q),
        "cpu_s_per_op": sum(cpu) / len(cpu),
        "op_cpu_p50_s": percentile(cpu, 0.5),
    }


def source_digest() -> str:
    """Hash of the package sources: identifies the code under test in
    a checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head, encoding="utf-8") as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:]), encoding="utf-8") as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


class Bench:
    """One benchmark run: its work directory under ``perfbench/.work``,
    its tracer, its Spark session and the memory sampler, which runs
    from the session's start until the workload stops it before its
    result checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.rss = PeakRss()
        self.work = os.path.join(ROOT, "perfbench", ".work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self._gateway = None
        # Spark (the launcher JVM and the Spark JVM), its Python workers
        # and DuckDB all stay inside the work directory; workers import
        # the package from the checkout.
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from pyspark import SparkContext

        from dbm_nca_ph_etl_spark.session import get_spark

        self.rss.start()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.local.dir": self.path("spark-local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        return self.spark

    def stamp(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": nproc(),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_version": self.spark.version,
            "python_version": platform.python_version(),
            "commit": git_commit(),
            "source_sha": source_digest(),
            "seed": self.seed,
        }

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit, then remove the work directory."""
        self.rss.stop()
        if self.spark is not None:
            self.spark.stop()
        if self._gateway is not None:
            proc = getattr(self._gateway, "proc", None)
            self._gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)


def elapsed(t0: float) -> float:
    return time.perf_counter() - t0


if __name__ == "__main__":
    # The child process of in_child: run the pickled call, pickle its result.
    with open(sys.argv[1], "rb") as fh:
        fn, args = pickle.load(fh)
    with open(sys.argv[1] + ".out", "wb") as fh:
        pickle.dump(fn(*args), fh)
