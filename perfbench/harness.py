"""Shared plumbing for the workloads: pinned session, spans, job counts,
statistics and process-memory readings.

Nothing here imports pyspark at module import time; ``pin_environment``
must run before the first pyspark import so the pinned settings reach
the JVM launch.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from contextlib import contextmanager

#: JVM heap of the pinned session: a quarter of the host's memory,
#: capped at 2 GiB (the largest generated table set is a few MB).
MAX_HEAP_MB = 2048


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work_dir: str) -> dict[str, str]:
    """Pin the session settings the program reads and keep every file
    the run writes (Spark blocks, temp dirs, JVM temp files) under
    ``work_dir``. Returns the pinned settings for the run's output."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(MAX_HEAP_MB, host_memory_mb() // 4)
    local_dirs = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local_dirs,
        "SPARK_GRAFT_UI": "false",
        "TMPDIR": tmp,
        # JVM temp files go under the work dir too and no JVM (Spark's or
        # spark-submit's launcher) writes an hsperfdata file; Spark's JVM
        # takes its whole heap at start, so runs do not resize it.
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{mem_mb}m' pyspark-shell"
        ),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    os.environ.update(pinned)
    return pinned


class Session:
    """Owns the SparkSession of one run. ``start`` stops any running
    context and builds a fresh one through the program's ``get_spark``
    (the JVM stays up, so only the first start pays its launch)."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.spark = None

    def start(self):
        from soccerpredictor_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark and wait until the JVM process has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort: kill and reap
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Tracer:
    """In-memory spans: (id, name, start, end, parent, op). ``op`` is the
    id shared by every span of one request, batch or query. When
    ``enabled`` is false ``span`` records nothing, so one traced run can
    alternate traced and untraced operations to measure the overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "start": time.perf_counter(),
               "end": None, "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def total(self, name: str, ops: set[str] | None = None) -> tuple[float, int]:
        """(summed duration, call count) of the spans called ``name``,
        optionally only those belonging to the operations in ``ops``."""
        durs = [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (ops is None or s["op"] in ops)]
        return sum(durs), len(durs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def patched(obj, attr: str, replacement):
    """Temporarily replace ``obj.attr`` (used to put spans around calls
    into the program's public functions without editing it)."""
    original = getattr(obj, attr)
    setattr(obj, attr, replacement)
    try:
        yield original
    finally:
        setattr(obj, attr, original)


class JobCounter:
    """Counts Spark jobs per operation through job groups."""

    def __init__(self, session: Session):
        self.session = session
        self.n = 0

    @contextmanager
    def group(self, enabled: bool):
        if not enabled:
            yield None
            return
        sc = self.session.spark.sparkContext
        self.n += 1
        gid = f"perfbench-{self.n}"
        sc.setJobGroup(gid, gid)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            box["jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples above it, as
    (percentile, value); (None, None) when the run has too few samples
    for any (fewer than 20)."""
    n = len(values)
    for q in (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0):
        if n * (1 - q / 100.0) >= 10:
            return q, percentile(values, q)
    return None, None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def data_files(path: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files
        if f.startswith("part-")
    )


def payload_bytes(rows) -> int:
    """Bytes of user data in string rows: the UTF-8 length of every
    non-null field."""
    return sum(len(v.encode()) for r in rows for v in r if v is not None)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
