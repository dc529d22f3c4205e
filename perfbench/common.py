"""Shared pieces of the benchmark: host facts, the Spark session, a span
tracer, a resident-memory sampler, the Spark event-log reducer and
order-insensitive dataset fingerprints.

Nothing here starts a process or a thread at import time.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return {"nproc": nproc, "mem_gb": round(kb / 2**20, 1)}


def driver_memory(mem_gb: float) -> str:
    """One JVM heap plus nproc Python workers must fit in host RAM: a
    quarter of RAM, capped at 2g, which the benchmark's inputs never
    exhaust. A fixed cap also keeps the JVM's peak RSS from following
    GC timing as far as an 8g default heap lets it."""
    return f"{max(1, min(2, int(mem_gb // 4)))}g"


def configure_env(h: dict) -> None:
    """Environment every Spark JVM of a run inherits (the serve subprocess
    too): worker imports resolve from the checkout (the program, and the
    benchmark's own worker functions), scratch stays in it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(h["nproc"])
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory(h["mem_gb"])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "perfbench"),
                    os.environ.get("PYTHONPATH")) if p
    )


def get_spark(cores: int, event_dir: str | None = None):
    """The program's session on ``local[cores]``. With ``event_dir`` the
    event log is on, uncompressed (the default zstd codec has no Python
    reader here), and written there."""
    from doc_agent_spark.session import get_spark as session

    extra = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
             "spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + event_dir})
    return session(app="perfbench", master=f"local[{cores}]",
                   shuffle_partitions=2 * cores, extra=extra)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent index, run/request id.
    ``span`` nests through a stack, so a span opened inside another
    records it as parent and inherits its id; top-level spans without an
    explicit id carry the run id. A disabled tracer records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.run_id = f"run-{os.getpid()}"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, rid=None, group: bool = False):
        """Yields the span record (callers may add fields to it).
        ``group=True`` also tags the Spark jobs run inside the span with
        the span name as job group, so the event log reduces per span."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        if rid is None:
            rid = self.run_id if parent is None else self.spans[parent]["rid"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "rid": rid}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group and self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.spark is not None:
                self.spark.sparkContext.setJobGroup("", "")

    def wrap(self, name: str, fn, group: bool = False):
        def traced(*a, **k):
            with self.span(name, group=group):
                return fn(*a, **k)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict:
    """Per span name: total self time (s) — duration minus the part of its
    interval that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def span_totals(spans: list[dict]) -> dict:
    """Per span name: summed duration (s)."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


# ---------------------------------------------------------------------------
# resident memory, sampled from outside the measured processes
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root``, from one /proc scan."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    """Block until none of ``pids`` is running (zombies count as gone)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    alive = f.read().rsplit(")", 1)[1].split()[0] != "Z"
            except OSError:
                continue
            if alive:
                break
        if not alive:
            return
        time.sleep(0.1)
    raise TimeoutError(f"processes still running after {timeout} s")


def stop_jvm() -> None:
    """End this process's Spark gateway JVM and wait for it and the Python
    workers it started: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(os.getpid())
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    wait_gone(pids)


class RssSampler:
    """Peak summed RSS of every descendant of ``root_pid`` (not the root
    itself): the JVM, the Python worker daemon and its forked workers."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_ZERO = {"tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
         "jvm_gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
         "spill_bytes": 0}


def reduce_event_log(log_dir: str) -> dict:
    """Task metrics summed per job group ("" = jobs outside any group) and
    under "*" for everything, over every application log in ``log_dir``."""
    out: dict[str, dict] = {}
    for root, _dirs, files in os.walk(log_dir):
        for fn in files:
            if fn.startswith(".") or fn.endswith(".crc"):
                continue
            stage_group: dict[int, str] = {}
            with open(os.path.join(root, fn)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics")
                        if not m:
                            continue
                        g = stage_group.get(ev.get("Stage ID"), "")
                        rd = m.get("Shuffle Read Metrics", {})
                        wr = m.get("Shuffle Write Metrics", {})
                        for key in (g, "*"):
                            acc = out.setdefault(key, dict(_ZERO))
                            acc["tasks"] += 1
                            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                            acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                            acc["shuffle_read_bytes"] += (
                                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0))
                            acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                            acc["spill_bytes"] += (
                                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    return out


def group_stats(reduced: dict, group: str) -> dict:
    return reduced.get(group, dict(_ZERO))


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------

def rows_fingerprint(rows) -> tuple[int, int]:
    """(row count, order-insensitive hash): the sum of per-row hashes."""
    n, acc = 0, 0
    for r in rows:
        n += 1
        h = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % 2**64
    return n, acc


def dataset_fingerprint(path: str) -> tuple[int, int]:
    """Fingerprint of a parquet dataset dir (hive partitions included)."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(table.column_names)
    return rows_fingerprint(zip(*(table.column(c).to_pylist() for c in cols)))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.startswith("."):
                total += os.path.getsize(os.path.join(root, fn))
    return total
