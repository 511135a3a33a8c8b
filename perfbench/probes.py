"""Measurement plumbing: host readings from /proc, a process-tree RSS sampler,
span recording, a py4j round-trip counter and Spark's local REST API."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --- host ------------------------------------------------------------------------


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def stray_spark_processes() -> list[str]:
    """Spark JVMs / PySpark workers already running before this benchmark starts:
    a leftover one competes for the CPU and skews every timing."""
    me = str(os.getpid())
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if pid == me:
            continue
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
        args = _cmdline(pid).split()
        jvm = exe == "java" and "org.apache.spark.deploy.SparkSubmit" in args
        worker = exe.startswith("python") and any(a in ("pyspark.daemon", "pyspark.worker") for a in args)
        if jvm or worker:
            found.append(f"{pid} {' '.join(args)[:160]}")
    return found


def _children() -> dict[str, list[str]]:
    kids: dict[str, list[str]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        kids.setdefault(ppid, []).append(pid)
    return kids


def _pss_bytes(pid: str) -> int:
    """Proportional set size: RSS with each shared page split among its sharers,
    so a forked child (a Python worker, or the JVM mid-spawn) is not counted twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> dict[int, int]:
    """PSS bytes of ``root`` and each of its descendants (driver, JVM, Python workers)."""
    kids = _children()
    out, todo = {}, [str(root)]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            out[int(pid)] = _pss_bytes(pid)
        except OSError:
            pass
    return out


class RssSampler:
    """Background sampler of the process tree's summed PSS: ``peak`` in bytes and
    ``at_peak``, the split by executable (MB and count) at that moment."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss(me)
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                split: dict = {}
                for pid, b in rss.items():
                    try:
                        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
                    except OSError:
                        exe = "gone"
                    kind = "driver" if pid == me else "jvm" if exe == "java" else exe
                    split[kind] = round(split.get(kind, 0) + b / 2**20, 1)
                    split[f"n_{kind}"] = split.get(f"n_{kind}", 0) + 1
                split["t"] = round(time.perf_counter() - self.t0, 2)
                self.at_peak = split
            self._stop.wait(self.interval)

    def __enter__(self):
        self.t0 = time.perf_counter()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc):
        self.stop()


def kill_tree(root: int) -> None:
    """SIGKILL every descendant of ``root`` (not root itself) and reap them."""
    import signal

    kids = _children()
    todo, pids = [str(root)], []
    while todo:
        for c in kids.get(todo.pop(), ()):
            pids.append(int(c))
            todo.append(c)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in pids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# --- spans ------------------------------------------------------------------------


class Tracer:
    """In-memory spans {trace_id, name, start, end, parent}, written out at the end."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"trace_id": self.trace_id, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, i: int) -> float:
        """Duration of span i minus the union of its children's intervals."""
        s = self.spans[i]
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == i)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(i)) for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


# --- py4j -----------------------------------------------------------------------


class Py4jCounter:
    """Counts driver -> JVM round trips by wrapping the gateway client's send_command."""

    def __init__(self, sc):
        self.client = sc._gateway._gateway_client
        self.count = 0
        self._orig = self.client.send_command

    def __enter__(self):
        orig = self._orig

        def counted(*a, **kw):
            self.count += 1
            return orig(*a, **kw)

        self.client.send_command = counted
        return self

    def __exit__(self, *exc):
        self.client.send_command = self._orig


# --- Spark REST API ----------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A SQL UI metric string -> number (bytes, seconds or a count); for
    'total (min, med, max ...)' metrics the total."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def sql_nodes(self, description: str) -> list[dict]:
        """Nodes of every SQL execution carrying ``description``."""
        nodes = []
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            if ex.get("description") == description:
                nodes.extend(ex.get("nodes", []))
        return nodes

    def job_stats(self, in_group) -> dict:
        """Jobs, shuffle write bytes and spill bytes of the job groups ``in_group`` accepts."""
        jobs = [j for j in self.get("/jobs") if in_group(j.get("jobGroup"))]
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        shuffle = spill = 0
        for st in self.get("/stages"):
            if st["stageId"] in stage_ids:
                shuffle += st.get("shuffleWriteBytes", 0)
                spill += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return {"jobs": len(jobs), "shuffle_bytes": shuffle, "spill_bytes": spill}

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("/storage/rdd"))


PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "PythonUDF")


def python_boundary(nodes: list[dict]) -> dict:
    """Rows, bytes and task-summed worker time across every Python-evaluating SQL
    node.  A persisted subtree read by two branches is listed under each reader
    with the same accumulators, so identical nodes count once."""
    out = {"rows": 0.0, "bytes_in": 0.0, "bytes_out": 0.0, "seconds": 0.0, "init_seconds": 0.0}
    seen = set()
    for n in nodes:
        key = json.dumps([n.get("nodeName"), n.get("metrics")], sort_keys=True)
        if not n.get("nodeName", "").startswith(PYTHON_NODES) or key in seen:
            continue
        seen.add(key)
        for m in n.get("metrics", []):
            name = m["name"]
            if name == "number of output rows":
                out["rows"] += metric_value(m["value"])
            elif name == "data sent to Python workers":
                out["bytes_in"] += metric_value(m["value"])
            elif name == "data returned from Python workers":
                out["bytes_out"] += metric_value(m["value"])
            elif name == "time to run Python workers":
                out["seconds"] += metric_value(m["value"])
            elif name in ("time to start Python workers", "time to initialize Python workers"):
                out["init_seconds"] += metric_value(m["value"])
    return out
