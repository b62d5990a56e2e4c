"""Spans, Spark REST stage metrics and a counting pgwire connection factory.

Spans are recorded by the benchmark around its calls into ``ibc_spark``;
nothing inside the program is instrumented. Every span is cheap (two clock
reads and a list append) and is recorded in both modes, because the
end-to-end metrics are derived from span durations. The *traced* extras --
Spark job groups, REST polling, plan inspection, ``pg_stat_database``
snapshots and statement counting -- only run when tracing is on.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float  # perf_counter seconds
    end: float
    parent: int | None
    run_id: str
    op: int  # operation index within the run (0 = cold)
    traced: bool
    wall_start: float  # epoch seconds, to match Spark REST timestamps
    wall_end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, spark):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = 0
        self.traced = False  # whether the current operation is traced

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id, self.op,
                 self.traced, time.time(), 0.0)
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.traced else None
        if sc is not None:
            sc.setJobGroup(f"{self.run_id}.{idx}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(f"{self.run_id}.{self._stack[-1]}", self.spans[self._stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by child spans (children of one
        span never overlap: every call here is closed-loop)."""
        return self.spans[idx].dur - sum(self.spans[c].dur for c in self.children(idx))

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "op": s.op,
                    "traced": s.traced, "self_s": self.self_time(i),
                }) + "\n")


# ------------------------------------------------------------- Spark REST


def _ts(s: str) -> float:
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reads job and stage metrics from the Spark UI's REST API (the UI is
    on when ``SPARK_UI=true``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:  # noqa: S310
            return json.load(r)

    def snapshot(self) -> tuple[list, dict]:
        """All jobs and completed stages, once no job is still running (or
        after 10 s of waiting)."""
        for _ in range(20):
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.5)
        stages = {}
        for st in self._get("/stages?status=complete"):
            stages[(st["stageId"], st["attemptId"])] = st
        return jobs, stages

    @staticmethod
    def totals(jobs: list, stages: dict, keep) -> dict:
        """Sum job/stage metrics over the jobs ``keep(job)`` selects."""
        picked = [j for j in jobs if keep(j)]
        ids = {sid for j in picked for sid in j["stageIds"]}
        sts = [st for (sid, _), st in stages.items() if sid in ids]
        return {
            "jobs": len(picked),
            "stages": len(sts),
            "tasks": sum(st["numCompleteTasks"] for st in sts),
            "executor_run_s": sum(st["executorRunTime"] for st in sts) / 1000.0,
            "jvm_gc_s": sum(st.get("jvmGcTime", 0) for st in sts) / 1000.0,
            "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in sts),
            "shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in sts),
            "spill_bytes": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in sts),
        }

    @staticmethod
    def in_window(job: dict, t0: float, t1: float) -> bool:
        t = job.get("submissionTime")
        return t is not None and t0 <= _ts(t) <= t1

    @staticmethod
    def in_groups(job: dict, groups: set[str]) -> bool:
        return job.get("jobGroup") in groups


def exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line)


# ----------------------------------------------------------------- pgwire


class _CountingCursor:
    def __init__(self, cur, stmts):
        self._cur = cur
        self._stmts = stmts

    def execute(self, sql, params=None):
        self._stmts.add(1)
        return self._cur.execute(sql, params)

    def executemany(self, sql, seq):
        seq = list(seq)
        self._stmts.add(len(seq))  # the wire client sends one query per row
        return self._cur.executemany(sql, seq)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _CountingConnection:
    def __init__(self, conn, stmts):
        self._conn = conn
        self._stmts = stmts

    def cursor(self):
        return _CountingCursor(self._conn.cursor(), self._stmts)

    def commit(self):
        self._stmts.add(1)
        return self._conn.commit()

    def rollback(self):
        self._stmts.add(1)
        return self._conn.rollback()

    def __getattr__(self, name):
        return getattr(self._conn, name)


class PgFactory:
    """Zero-argument, picklable connection factory for ``dbapi_upsert``.
    With accumulators attached it counts statements and connections on the
    executors; without them it is the plain wire-client factory."""

    def __init__(self, port: int, stmts=None, conns=None):
        self.port = port
        self.stmts = stmts
        self.conns = conns

    def __call__(self):
        from ibc_spark.io_.pgwire import connect

        conn = connect(host="127.0.0.1", port=self.port, user="postgres", database="postgres")
        if self.stmts is None:
            return conn
        self.conns.add(1)
        return _CountingConnection(conn, self.stmts)


# ------------------------------------------------------------------- /proc


# postmaster children that run on their own timers, not for a client
PG_BACKGROUND = (b"checkpointer", b"background writer", b"walwriter", b"autovacuum launcher",
                 b"logical replication launcher", b"archiver", b"startup")


def _children() -> dict[int, list[int]]:
    import os

    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _tree(root_pid: int, children: dict[int, list[int]], exclude: set[int]) -> list[int]:
    """``root_pid`` and its descendants, leaving out the subtrees rooted at
    ``exclude``."""
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        if p not in exclude:
            out.append(p)
            todo += children.get(p, [])
    return out


def _ticks(pid: int, first: int, last: int) -> int:
    """Sum of ``/proc/<pid>/stat`` fields ``first:last`` (counted after the
    command name): 11:13 are utime and stime, 13:15 cutime and cstime."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[first:last])


def _pg_background(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return cmd.startswith(b"postgres: ") and any(b in cmd for b in PG_BACKGROUND)


def cpu_s(root_pid: int, server_pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    the process tree -- the benchmark process, its JVM, the Python workers
    and the client backends of the Postgres server ``server_pid``. Of the
    server, the live backends count, and the exited ones through the
    postmaster's reaped-children time; the postmaster itself and its
    background workers (checkpointer, WAL writer, ...) are left out. Time
    the hypervisor gives to other guests is not in it."""
    import os

    children = _children()
    ticks = sum(_ticks(p, 11, 15) for p in _tree(root_pid, children, {server_pid}))
    if server_pid is not None:
        ticks += _ticks(server_pid, 13, 15)
        ticks += sum(_ticks(p, 11, 15) for p in children.get(server_pid, [])
                     if not _pg_background(p))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(root_pid: int) -> float:
    """Peak resident size (``VmHWM``) of the benchmark process plus its
    Spark JVM. Python workers are left out: how many idle ones the worker
    daemon keeps alive at the end varies from run to run."""
    total_kb = 0
    for p in _tree(root_pid, _children(), set()):
        try:
            if p != root_pid:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().strip() != "java":
                        continue
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
