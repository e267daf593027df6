"""Tracing for the benchmark's traced run, and the RSS sampler.

- :class:`Tracer` records spans (name, start, end, parent, trace id)
  around the benchmark's own calls into the engine's modules; spans
  stay in memory and are written out once, at the end of the run.
- :func:`fold_event_log` reads the Spark event log the traced session
  wrote and folds SQL-execution, job, stage and task-end metrics into
  one counter block per benchmark operation. Jobs are matched to an
  operation by their ``setJobGroup`` tag, or, for jobs that run on
  another thread (streaming micro-batches), by submission time.
- :class:`RssSampler` samples the summed RSS of every process this
  one started (the Spark JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
import uuid
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "trace_id": self.trace_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its direct children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_len(
                [(c["start"], c["end"]) for c in kids[s["id"]] if c["end"] is not None]
            )
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, fh)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------------------
# event-log folding
# ---------------------------------------------------------------------------

#: python-evaluating physical operators (their output rows are the
#: rows that came back through a pandas/Arrow UDF)
PYTHON_NODES = (
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "MapInArrow",
    "PythonMapInArrow",
)

_SQL = "org.apache.spark.sql.execution.ui."


def _walk(info: dict):
    yield info
    for c in info.get("children", ()):
        yield from _walk(c)


def fold_event_log(log_dir: str, ops: list[dict], udf_owner) -> dict[str, dict]:
    """Fold the event log under ``log_dir`` into counters per operation.

    ``ops``: [{"id", "start", "end"}] with epoch-second bounds, in run
    order; ``udf_owner(simple_string) -> str | None`` names the layer a
    python node belongs to. Returns {op_id: counters}."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(f))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_owner: dict[int, str] = {}
    tasks: list[tuple[int, dict, list]] = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind in (
                    _SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    for node in _walk(ev.get("sparkPlanInfo") or {}):
                        if node.get("nodeName") in PYTHON_NODES:
                            owner = udf_owner(node.get("simpleString", ""))
                            for m in node.get("metrics", ()):
                                if m.get("name") == "number of output rows":
                                    acc_owner[m["accumulatorId"]] = owner or "other"
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(
                        (
                            ev.get("Stage ID"),
                            ev.get("Task Metrics") or {},
                            (ev.get("Task Info") or {}).get("Accumulables") or [],
                        )
                    )
    ids = {op["id"] for op in ops}

    def op_of_job(job: dict) -> str | None:
        if job["group"] in ids:
            return job["group"]
        for op in ops:
            if op["start"] <= job["start"] <= op["end"]:
                return op["id"]
        return None

    out: dict[str, dict] = {op["id"]: defaultdict(float) for op in ops}
    job_op = {jid: op_of_job(j) for jid, j in jobs.items()}
    intervals: dict[str, list] = defaultdict(list)
    for jid, j in jobs.items():
        op = job_op[jid]
        if op is None:
            continue
        out[op]["jobs"] += 1
        out[op]["stages"] += len(j["stages"])
        if j["end"] is not None:
            intervals[op].append((j["start"], j["end"]))
    for op, iv in intervals.items():
        out[op]["job_s"] = _union_len(iv)
    for sid, tm, accs in tasks:
        op = job_op.get(stage_job.get(sid))
        if op is None:
            continue
        c = out[op]
        c["tasks"] += 1
        c["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        c["result_bytes"] += tm.get("Result Size", 0)
        c["spill_mem_bytes"] += tm.get("Memory Bytes Spilled", 0)
        c["spill_disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        im = tm.get("Input Metrics") or {}
        c["scan_bytes"] += im.get("Bytes Read", 0)
        c["scan_rows"] += im.get("Records Read", 0)
        owners = {acc_owner[a.get("ID")] for a in accs if a.get("ID") in acc_owner}
        for owner in owners:
            c["python_s:" + owner] += tm.get("Executor Run Time", 0) / 1e3 / len(owners)
        for a in accs:
            name, upd = a.get("Name"), a.get("Update")
            if not isinstance(upd, (int, float)) or isinstance(upd, bool):
                try:
                    upd = float(upd)
                except (TypeError, ValueError):
                    continue
            if name == "data sent to Python workers":
                c["python_sent_bytes"] += upd
            elif name == "data returned from Python workers":
                c["python_recv_bytes"] += upd
            owner = acc_owner.get(a.get("ID"))
            if owner is not None:
                c["python_rows:" + owner] += upd
    return {k: dict(v) for k, v in out.items()}


# ---------------------------------------------------------------------------
# RSS sampling
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background sampler of the summed RSS of this process's
    descendants; :meth:`peak` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, me: int | None = None) -> None:
        total = sum(_rss_bytes(p) for p in descendants(me or os.getpid()))
        self._peak = max(self._peak, total)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def peak_mb(self) -> float:
        return self._peak / 2**20
