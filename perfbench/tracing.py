"""The traced run: spans around the engine's public functions, recorded
from outside the package, plus Spark's own event log.

Spans are installed by replacing the attribute each caller looks up: a
function imported by name into other modules (``load_table`` is imported
that way by dozens of operator modules) is replaced in every loaded module
of the package that holds it. Spans stay in memory and are written to a
sidecar file when the run ends.

A span's self time is its duration minus the part of it that its child
spans cover. Spans started on pool threads (``run_concurrently``) have no
parent on their own thread; they are attached to the innermost span of
the same operation whose interval contains them.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

from common import PACKAGE, percentile


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float
    op: int | None
    main_thread: bool
    error: bool


# (module, attribute, span name): functions patched by identity in every
# package module that imported them
FUNCTIONS = (
    ("session", "get_spark", "session.get_spark"),
    ("catalog", "load_table", "catalog.load_table"),
    ("plans.sql_gate", "safe_sql", "plans.sql_gate.safe_sql"),
    ("execution", "materialize", "execution.materialize"),
    ("execution", "run_concurrently", "execution.run_concurrently"),
    ("streaming.neardup", "process_neardup_batch", "streaming.neardup.process_neardup_batch"),
    ("sources.layout", "append_ivfpq_layout", "sources.layout.append_ivfpq_layout"),
    ("streaming.jobs", "idempotent_append", "streaming.jobs.idempotent_append"),
    ("streaming.crawl_pipeline", "process_crawl_batch", "streaming.crawl_pipeline.process_crawl_batch"),
)


class Tracer:
    def __init__(self, recorder):
        self.recorder = recorder
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._lock = threading.Lock()

    def call(self, name: str, fn, *args, **kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        error = False
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except BaseException:
            error = True
            raise
        finally:
            t1 = time.perf_counter()
            stack.pop()
            span = Span(sid, parent, name, t0, t1, self.recorder.current,
                        threading.current_thread() is self._main, error)
            with self._lock:
                self.spans.append(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        import importlib

        importlib.import_module(f"{PACKAGE}.registry")  # load every operator module
        importlib.import_module(f"{PACKAGE}.api.tools")
        importlib.import_module(f"{PACKAGE}.streaming.crawl_pipeline")
        for mod_name, attr, span in FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            orig = getattr(mod, attr)
            traced = self.wrap(span, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PACKAGE):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, traced)
        tools = importlib.import_module(f"{PACKAGE}.api.tools")
        tools.ToolRegistry.execute = self.wrap("api.tools.execute", tools.ToolRegistry.execute)
        # the registry's own row fetch is the tool call's action
        frame = importlib.import_module("pyspark.sql.classic.dataframe").DataFrame
        frame.collect = self.wrap("operators.action", frame.collect)

    def trace_tools(self, registry) -> None:
        """Wrap each tool adapter: the time to build the tool's plan."""
        registry._tools = {
            name: (self.wrap("operators.plan", fn), roles)
            for name, (fn, roles) in registry._tools.items()
        }

    # ------------------------------------------------------------ analysis
    def resolve_parents(self) -> None:
        by_op: dict = {}
        for s in self.spans:
            by_op.setdefault(s.op, []).append(s)
        for s in self.spans:
            if s.parent is not None or s.main_thread:
                continue
            enclosing = [
                c for c in by_op.get(s.op, ())
                if c.main_thread and c.t0 <= s.t0 and s.t1 <= c.t1
            ]
            if enclosing:
                s.parent = min(enclosing, key=lambda c: c.t1 - c.t0).sid

    def self_ms(self) -> dict[int, float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = _union([(max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.sid, ())])
            out[s.sid] = (s.t1 - s.t0 - covered) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------- event log
def event_log_conf(log_dir: str) -> str:
    return (f"spark.eventLog.enabled=true;spark.eventLog.dir={log_dir};"
            "spark.eventLog.compress=false")


def _event_lines(log_dir: str):
    files = []
    for dirpath, _dirs, names in os.walk(log_dir):
        files.extend(os.path.join(dirpath, n) for n in names
                     if not n.startswith(".") and not n.endswith(".crc")
                     and not n.startswith("appstatus"))
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def spark_metrics(log_dir: str, ops) -> dict[str, float]:
    """Per-operation scheduler and executor figures from the event log.

    Jobs are assigned to operations by submission time, never by job group:
    jobs launched from pool threads do not carry the caller's group."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict] = {}
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"t0": ev["Submission Time"] / 1e3, "t1": None,
                         "stages": len(ev["Stage Infos"])}
            for st in ev["Stage IDs"]:
                stage_job[st] = jid
        elif kind == "SparkListenerJobEnd":
            jobs.setdefault(ev["Job ID"], {"t0": None, "stages": 0})["t1"] = (
                ev["Completion Time"] / 1e3)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            acc = per_job.setdefault(jid, {"tasks": 0, "cpu_ns": 0, "sr": 0, "sw": 0,
                                           "py": 0, "failed": 0})
            acc["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                acc["failed"] += 1
            tm = ev.get("Task Metrics") or {}
            acc["cpu_ns"] += tm.get("Executor CPU Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            acc["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["sw"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if a.get("Name") == "data sent to Python workers":
                    acc["py"] += int(a.get("Update") or 0)
    n = max(1, len(ops))
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ns": 0, "sr": 0, "sw": 0, "py": 0,
           "failed": 0}
    gaps = []
    for op in ops:
        start, end = op.wall0, op.wall0 + (op.t1 - op.t0)
        mine = [j for j, v in jobs.items() if v["t0"] is not None and start <= v["t0"] <= end]
        busy = _union([(jobs[j]["t0"], min(jobs[j]["t1"] or end, end)) for j in mine])
        gaps.append((end - start - busy) * 1e3)
        tot["jobs"] += len(mine)
        for j in mine:
            tot["stages"] += jobs[j]["stages"]
            acc = per_job.get(j)
            if acc:
                for k in ("tasks", "cpu_ns", "sr", "sw", "py", "failed"):
                    tot[k] += acc[k]
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.driver_gap_ms": percentile(gaps, 50) if gaps else 0.0,
        "spark.executor_cpu_ms": tot["cpu_ns"] / 1e6 / n,
        "spark.shuffle_read_bytes": tot["sr"] / n,
        "spark.shuffle_write_bytes": tot["sw"] / n,
        "spark.python_bytes_sent": tot["py"] / n,
        "spark.failed_tasks": float(tot["failed"]),
    }


def layer_metrics(tracer: Tracer, ops) -> dict[str, float]:
    """Per-operation span figures over the measured operations."""
    tracer.resolve_parents()
    selfs = tracer.self_ms()
    n = max(1, len(ops))
    by_id = {s.sid: s for s in tracer.spans}
    measured = [s for s in tracer.spans if s.op is not None]

    def total_ms(name: str) -> float:
        return sum((s.t1 - s.t0) * 1e3 for s in measured if s.name == name) / n

    def calls(name: str) -> float:
        return sum(1 for s in measured if s.name == name) / n

    def self_total_ms(name: str) -> float:
        return sum(selfs[s.sid] for s in measured if s.name == name) / n

    def parent_name(s: Span) -> str | None:
        return by_id[s.parent].name if s.parent in by_id else None

    actions = [s for s in measured if s.name == "operators.action"
               and parent_name(s) in (None, "api.tools.execute")]
    gets = [s for s in tracer.spans if s.name == "session.get_spark"]
    return {
        "session.get_spark_s": sum(s.t1 - s.t0 for s in gets),
        "catalog.load_table.calls": calls("catalog.load_table"),
        "catalog.load_table.ms": total_ms("catalog.load_table"),
        "api.tools.execute.self_ms": self_total_ms("api.tools.execute"),
        "plans.sql_gate.safe_sql.ms": total_ms("plans.sql_gate.safe_sql"),
        "plans.sql_gate.rejected": sum(1 for s in measured if s.name == "plans.sql_gate.safe_sql"
                                       and s.error) / n,
        "operators.plan_ms": total_ms("operators.plan"),
        "operators.action_ms": sum((s.t1 - s.t0) * 1e3 for s in actions) / n,
        "execution.materialize.calls": calls("execution.materialize"),
        "execution.run_concurrently.ms": total_ms("execution.run_concurrently"),
        "streaming.neardup.process_neardup_batch.ms": total_ms(
            "streaming.neardup.process_neardup_batch"),
        "sources.layout.append_ivfpq_layout.ms": total_ms("sources.layout.append_ivfpq_layout"),
        "streaming.jobs.idempotent_append.calls": calls("streaming.jobs.idempotent_append"),
        "streaming.jobs.idempotent_append.ms": total_ms("streaming.jobs.idempotent_append"),
        "streaming.crawl_pipeline.self_ms": self_total_ms(
            "streaming.crawl_pipeline.process_crawl_batch"),
    }
