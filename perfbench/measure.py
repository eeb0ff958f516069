"""Measurement helpers: process-tree RSS sampling, layer spans timed from
the benchmark around calls into the program's public functions, and the
reduction of Spark's event log to per-layer numbers.

Event-log reduction relies on job tags the harness sets per operation
invocation (``pb-inv-<n>``) and per layer call (``pb-layer-<name>``);
classic Spark copies them into every job's ``spark.job.tags`` property.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

# --- process-tree RSS ------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: the PG server and its launchers are not part of the program under test
_EXCLUDE = ("postgres", "pg_ctl", "initdb", "setpriv")


def _children(exclude: tuple[str, ...] = _EXCLUDE) -> dict[int, list[int]]:
    """Live (not zombie) processes by parent, leaving out names in ``exclude``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; state and ppid are the two fields after its ')'
        rest = stat[stat.rfind(")") + 2:].split()
        name = stat[stat.find("(") + 1: stat.rfind(")")]
        if rest[0] != "Z" and not name.startswith(exclude):
            kids[int(rest[1])].append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, the PG server's included."""
    kids = _children(exclude=())
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _resident_pages(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1])
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    kids = _children()
    total, stack = 0, [(root, -1)]
    while stack:
        pid, parent_pages = stack.pop()
        pages = _resident_pages(pid)
        # a child caught between fork/vfork and exec still maps its parent's
        # pages and would count them twice
        if pages != parent_pages:
            total += pages * _PAGE
        stack.extend((kid, pages) for kid in kids.get(pid, ()))
    return total


class RssSampler:
    """Background thread recording the peak RSS of this process tree."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# --- layer spans -----------------------------------------------------------

#: (layer name, module path, attribute, position of the table-name
#: argument). Patched at the module the caller resolves the name through:
#: engine.py imports extract_closure and sanitize_df by name, and reaches
#: jsonio/jdbc through their modules.
LAYER_FUNCS = [
    ("closure.extract_closure", "mover_spark.engine", "extract_closure", None),
    ("sanitize.sanitize_df", "mover_spark.engine", "sanitize_df", None),
    ("jsonio.write_envelope", "mover_spark.sources.jsonio", "write_envelope", 1),
    ("jsonio.read_envelopes", "mover_spark.sources.jsonio", "read_envelopes", None),
    ("jsonio.coerce_to_schema", "mover_spark.sources.jsonio", "coerce_to_schema", None),
    ("jdbc.bulk_upsert", "mover_spark.sources.jdbc", "bulk_upsert", 2),
]


class LayerSpans:
    """Wraps the public functions in LAYER_FUNCS with timers and a job tag
    for the duration of each call. ``spans`` collects
    (layer, invocation, start, end, table) tuples."""

    def __init__(self, sc, current_invocation):
        self.sc = sc
        self.current = current_invocation
        self.spans: list[tuple[str, int, float, float, str | None]] = []
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        for layer, mod_name, attr, table_arg in LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is None:
                continue  # moved by a later change: its layer reads 0
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(layer, fn, table_arg))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def _wrap(self, layer: str, fn, table_arg: int | None):
        tag = f"pb-layer-{layer}"

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            table = args[table_arg] if table_arg is not None else None
            self.sc.addJobTag(tag)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                self.sc.removeJobTag(tag)
                self.spans.append((layer, self.current(), t0, t1, table))

        return timed


# --- event log -------------------------------------------------------------

#: SQL task accumulators (milliseconds or bytes) -> metric
ACCUMS = {
    "scan time": "scan_ms",
    "time in aggregation build": "agg_build_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
}
#: Parts of a task's run time, each measured over its own stretch of the
#: task thread: reading file batches, waiting for shuffle blocks, writing
#: shuffle output. other_ms is run time minus their sum. agg_build_ms wraps
#: the scan its aggregation consumes, py_run_ms the input it feeds the
#: Python worker, and gc_ms pauses every thread, so those overlap the parts
#: and are reported beside them, not among them.
NAMED_TASK_MS = ["scan_ms", "shuffle_write_ms", "fetch_wait_ms"]
#: Run time is floored to whole milliseconds per task, so a task's parts may
#: exceed it by up to this much without any overlap.
ROUNDING_MS = 1.0
SPARK_METRICS = [
    "jobs", "stages", "tasks", "driver_ms", "task_run_ms", "scan_ms",
    "agg_build_ms", "shuffle_write_ms", "shuffle_bytes_written", "fetch_wait_ms",
    "py_start_ms", "py_init_ms", "py_run_ms", "py_bytes_sent", "gc_ms",
    "spill_bytes", "other_ms",
]


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log for {app_id}, found {paths}")
    with open(paths[0]) as f:
        return [json.loads(line) for line in f]


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class JobTable:
    """Jobs of one application with their tags, spans and task metrics."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        #: tasks whose named parts add up to more than their run time
        self.overrun_tasks = 0
        stage_job: dict[int, int] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                tags = set(filter(None, (props.get("spark.job.tags") or "").split(",")))
                # tags carry a session/thread prefix; keep the harness' part
                tags = {t[t.index("pb-"):] for t in tags if "pb-" in t}
                job = {"tags": tags, "start": e["Submission Time"], "end": None,
                       "stages": len(e["Stage IDs"]), "m": defaultdict(float)}
                self.jobs[e["Job ID"]] = job
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(e["Stage ID"])
                if job_id is None:
                    continue
                self._add_task(self.jobs[job_id]["m"], e)

    def _add_task(self, m: dict, e: dict) -> None:
        tm = e.get("Task Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        t = defaultdict(float, {
            "tasks": 1,
            "task_run_ms": tm.get("Executor Run Time", 0),
            "gc_ms": tm.get("JVM GC Time", 0),
            "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            "shuffle_write_ms": sw.get("Shuffle Write Time", 0) / 1e6,  # ns
            "shuffle_bytes_written": sw.get("Shuffle Bytes Written", 0),
            "fetch_wait_ms": (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0),
        })
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            metric = ACCUMS.get(acc.get("Name"))
            if metric and isinstance(acc.get("Update"), (int, float, str)):
                t[metric] += float(acc["Update"])
        if sum(t[k] for k in NAMED_TASK_MS) > t["task_run_ms"] + ROUNDING_MS:
            self.overrun_tasks += 1
        for k, v in t.items():
            m[k] += v

    def tagged(self, tag: str) -> list[dict]:
        return [j for j in self.jobs.values() if tag in j["tags"]]

    def summarize(self, invocations: list[dict]) -> dict[str, float]:
        """Sum the SPARK_METRICS over the jobs of ``invocations`` (dicts
        with ``idx``, ``t0``, ``t1`` in epoch seconds)."""
        out = {k: 0.0 for k in SPARK_METRICS}
        for inv in invocations:
            jobs = self.tagged(f"pb-inv-{inv['idx']}")
            out["jobs"] += len(jobs)
            wall_ms = (inv["t1"] - inv["t0"]) * 1000.0
            lo, hi = inv["t0"] * 1000.0, inv["t1"] * 1000.0
            spans = [(max(lo, j["start"]), min(hi, j["end"] or hi)) for j in jobs]
            out["driver_ms"] += wall_ms - _union_ms([s for s in spans if s[1] > s[0]])
            for j in jobs:
                out["stages"] += j["stages"]
                for k, v in j["m"].items():
                    out[k] += v
        out["other_ms"] = out["task_run_ms"] - sum(out[k] for k in NAMED_TASK_MS)
        return out

    def untagged_during(self, invocations: list[dict]) -> int:
        """Jobs submitted inside an invocation's window without its tag."""
        bad = 0
        for j in self.jobs.values():
            for inv in invocations:
                if inv["t0"] * 1000.0 <= j["start"] <= inv["t1"] * 1000.0:
                    if f"pb-inv-{inv['idx']}" not in j["tags"]:
                        bad += 1
                    break
        return bad
