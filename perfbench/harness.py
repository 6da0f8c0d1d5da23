"""Process-level plumbing shared by the benchmark workloads.

Everything here exists to make one run steady and self-contained:

* the run pins ``local[k]`` (k <= nproc) and a driver heap that fits the
  machine, instead of the library defaults (32 cores, 48g) that would
  oversubscribe a small box;
* every file the run creates (stores, Spark scratch, JVM temp files,
  spans) lives under ``.perfbench/`` in the working directory, and the
  per-run store is deleted when the run ends;
* a run refuses to start while another Spark JVM is alive, because a
  leftover JVM roughly halves the speed of this one;
* the JVM and every process under it are stopped and reaped at exit.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
SPARK_MAIN_CLASS = "org.apache.spark.deploy.SparkSubmit"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


# ------------------------------------------------------------ processes
def _proc_cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def live_spark_jvms() -> list[int]:
    """Pids of running Spark driver JVMs (any user, any directory)."""
    me = os.getpid()
    return [p for p in _pids() if p != me and SPARK_MAIN_CLASS in _proc_cmdline(p)]


def _parent_of(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may contain spaces: ppid follows the last ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in _pids():
        pp = _parent_of(p)
        if pp is not None:
            children.setdefault(pp, []).append(p)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_probe_s() -> float:
    """Engine-free fixed CPU loop: a clock for the host, not the program.

    Seconds for 1.5M loop iterations, the median of seven slices, so a
    single scheduling hiccup does not read as a slow host."""
    slices = []
    for _ in range(7):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_500_000 // 7):
            acc += (i * i) % 7
        slices.append(time.perf_counter() - t0)
    return statistics.median(slices) * 7


# ---------------------------------------------------------------- spark
class SparkRun:
    """Owns one pinned Spark driver JVM and the run's scratch directory."""

    def __init__(self, name: str, cores: int, driver_mem: str):
        others = live_spark_jvms()
        if others:
            raise SystemExit(
                f"refusing to start: another Spark JVM is alive (pids {others}); "
                "it would slow this run"
            )
        self.dir = os.path.join(OUT_DIR, f"{name}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = os.path.join(self.dir, "tmp")
        local = os.path.join(self.dir, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(cores),
                "SPARK_GRAFT_DRIVER_MEM": driver_mem,
                "SPARK_LOCAL_DIRS": local,
                "TMPDIR": tmp,
                "TZ": "UTC",
                # python workers import the package from the checkout
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        time.tzset()
        import tempfile

        tempfile.tempdir = tmp
        self.cores = cores
        self.driver_mem = driver_mem
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self):
        from crawler_tjce_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            cores=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        # the launcher execs into java, but look under it in case it forked
        cands = [proc.pid] + descendants(proc.pid)
        self.jvm_pid = next(
            (p for p in cands if SPARK_MAIN_CLASS in _proc_cmdline(p)), proc.pid
        )
        return self.spark

    def stop(self) -> None:
        """Stop Spark, retire the JVM and reap everything it started."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        under = descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # keep tearing down; report why stop failed
                log(f"spark.stop failed: {e!r}")
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:
                log(f"gateway shutdown failed: {e!r}")
        if proc is not None:
            try:
                proc.terminate()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 20
        for pid in under:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)
        for pid in under:
            while _alive(pid) and time.time() < deadline + 10:
                time.sleep(0.05)
        SparkContext._gateway = None
        SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)


# ---------------------------------------------------------------- stats
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    xs = sorted(xs)
    return float(xs[max(0, math.ceil(q * len(xs)) - 1)]) if xs else 0.0


# -------------------------------------------------------------- tracing
class Tracer:
    """In-memory span recorder wrapped around public library functions.

    A span is (id, name, start, end, parent, op). Parents follow the
    calling thread's stack; ``op`` is the benchmark operation in flight
    when the span began (work a crawl wave leaves running in background
    threads keeps the op that started it). Plan builders are lazy, so
    their spans measure plan-build time only; executor time comes from
    Spark job groups.
    """

    enabled = True

    def __init__(self):
        self.spans: list[tuple] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append((sid, name, t0, time.perf_counter(), parent, self.op))

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [e - s for _, n, s, e, _, _ in self.spans if n == name]

    def per_op_total(self, names: tuple[str, ...], ops) -> list[float]:
        tot = {op: 0.0 for op in ops}
        for _, n, s, e, _, op in self.spans:
            if n in names and op in tot:
                tot[op] += e - s
        return list(tot.values())

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, s, e, parent, op in sorted(self.spans):
                f.write(json.dumps({"id": sid, "name": name, "start": s, "end": e,
                                    "parent": parent, "op": op}) + "\n")


class NullTracer(Tracer):
    """Untraced runs: spans cost one generator frame and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def wrap(self, owner, attr: str, name: str) -> None:
        pass


def job_totals(spark) -> dict[str, dict[str, float]]:
    from crawler_tjce_spark.perf import stage_attribution

    got = stage_attribution(spark)
    if got is None:
        raise RuntimeError("Spark status store unreadable: per-layer numbers unavailable")
    return got


def job_delta(before: dict, after: dict) -> dict[str, dict[str, float]]:
    """Per-group job totals accrued between two ``job_totals`` snapshots."""
    out = {}
    for g, agg in after.items():
        b = before.get(g, {})
        out[g] = {k: v - b.get(k, 0) for k, v in agg.items()}
    return out


def group_sum(delta: dict, groups, key: str) -> float:
    return float(sum(delta.get(g, {}).get(key, 0) for g in groups))


def all_sum(delta: dict, key: str) -> float:
    return float(sum(agg.get(key, 0) for agg in delta.values()))
