"""Workload benchmark for ibc_spark.

    python3 perfbench/run.py --workload semester_cycle --seed 1 --seconds 10 --trace 0

Runs one workload (or ``all`` of them, in one process and one session) on
``local[4]`` for about ``--seconds`` of closed-loop operations, checks every
operation's output against the generator's ground truth, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones (Spark UI on, job groups, REST stage metrics). Exits 1 when a
check fails, 2 when the program cannot be found or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
HARD_STOP_S = 120.0  # no new operation starts after this much measuring
STOP_TIMEOUT_S = 30.0  # for each process at exit, before it is killed
DRIVER_MEM = "2g"
# A fixed-size heap and young generation and a fixed marking threshold: left
# to itself, G1 resizes both from measured pause times, and the JVM's peak
# RSS then swings by a quarter from run to run.
HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn640m -XX:-G1UseAdaptiveIHOP"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "sources.dataframe_from_rows_s": "s",
    "sources.rows_ingested": "count",
    "sources.state_read_s": "s",
    "sources.read_table_s": "s",
    **{f"pipelines.{e}.{m}": u for e in ("e1", "e2", "e3")
       for m, u in (("run_s", "s"), ("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("exchanges", "count"))},
    **{f"sinks.{e}.write_s": "s" for e in ("e1", "e2", "e3")},
    "sinks.dbapi_upsert_s": "s",
    "sinks.quarantined_rows": "count",
    "pgwire.statements": "count",
    "pgwire.statements_per_row": "ratio",
    "pgwire.connections": "count",
    "pg.xact_commit": "count",
    "pg.tup_inserted": "count",
    "pg.tup_updated": "count",
    "sources.pgwire_parallel_read_s": "s",
    "sources.pgwire_parallel_read_rows_per_s": "1/s",
    "text.quality_gate_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_lsh_s": "s",
    "graph.components_s": "s",
    "sinks.write_parquet_s": "s",
    "dedup.pairs_out": "count",
    "graph.components": "count",
    "dedup.neardup_recall": "ratio",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.rollup_query_s": "s",
    "streaming.merge_query_s": "s",
    "sinks.foreach_merge_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_share": "ratio",
    "trace.cold_op_s": "s",
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_self_s": "s",
    "trace.harness_self_s": "s",
}
# span name -> per-layer metric it is summed into (per operation)
SPAN_METRIC = {
    "sources.dataframe_from_rows": "sources.dataframe_from_rows_s",
    "sources.state_read": "sources.state_read_s",
    "sources.read_table": "sources.read_table_s",
    "pipelines.e1.run": "pipelines.e1.run_s",
    "pipelines.e2.run": "pipelines.e2.run_s",
    "pipelines.e3.run": "pipelines.e3.run_s",
    "sinks.e1.write": "sinks.e1.write_s",
    "sinks.e2.write": "sinks.e2.write_s",
    "sinks.e3.write": "sinks.e3.write_s",
    "sinks.dbapi_upsert": "sinks.dbapi_upsert_s",
    "sources.pgwire_parallel_read": "sources.pgwire_parallel_read_s",
    "text.quality_gate": "text.quality_gate_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash_lsh": "dedup.minhash_lsh_s",
    "graph.components": "graph.components_s",
    "sinks.write_parquet": "sinks.write_parquet_s",
    "streaming.rollup_query": "streaming.rollup_query_s",
    "streaming.merge_query": "streaming.merge_query_s",
    "sinks.foreach_merge": "sinks.foreach_merge_s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.spark = None
        self.tracer = None
        self.server_pid: int | None = None  # a Postgres postmaster the workload started
        self.setup: dict[str, float] = {}


def start_session(ctx: Ctx) -> None:
    """Session set-up, timed: the ``ibc_spark.session`` import (pyspark is
    already imported), ``get_spark`` and a first action."""
    tmp = os.path.join(ctx.work, "tmp")
    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # executor Python workers import ibc_spark and perfbench from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_UI"] = "true" if ctx.trace else "false"
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    extra = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {HEAP_OPTS}",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(ctx.work, "checkpoints"),
    }
    t0 = time.perf_counter()
    from ibc_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CPUS}]", extra_conf=extra)
    t1 = time.perf_counter()
    spark.range(0, 1000, numPartitions=CPUS).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    ctx.spark = spark
    ctx.setup = {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0,
                 "session.first_action_s": t2 - t1}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run_workload(name: str, ctx: Ctx) -> dict:
    from perfbench.trace import Tracer, cpu_s, peak_rss_mb
    from perfbench.workloads import WORKLOADS

    tracer = ctx.tracer = Tracer(f"{name}-{ctx.seed}-{os.getpid()}", ctx.spark)
    w = WORKLOADS[name](ctx)
    attempted = failed = 0
    outs: dict[int, dict] = {}
    op_cpu: dict[int, float] = {}
    i = 0
    try:
        log(f"{name}: setup")
        w.setup()
        t_begin = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_begin
            if (elapsed >= ctx.seconds and _enough(ctx, outs)) or elapsed >= HARD_STOP_S \
                    or failed >= 3:
                break
            tracer.op = i
            tracer.traced = _is_traced(ctx, i)
            attempted += 1
            try:
                inp = w.prepare(i)
                cpu0 = cpu_s(os.getpid(), ctx.server_pid)
                with tracer.span(name):
                    out = w.op(i, inp)
                op_cpu[i] = cpu_s(os.getpid(), ctx.server_pid) - cpu0
                tracer.traced = False
                errs = w.check(i, inp, out)
            except Exception:  # a failed operation counts, the run goes on
                tracer.traced = False
                errs = [traceback.format_exc()]
                out = None
            if errs:
                failed += 1
                log(f"{name} op {i} FAILED: " + "; ".join(errs))
            else:
                outs[i] = out
            w.cleanup(i)
            i += 1
    finally:
        w.teardown()
    log(f"{name}: {attempted} operations, {failed} failed, "
        f"{time.perf_counter() - t_begin:.1f}s")

    roots = {s.op: s for s in tracer.spans if s.parent is None and s.name == name}
    plain = [k for k in outs if not _is_traced(ctx, k)]
    if not ctx.trace:
        metrics = {
            "setup_s": ctx.setup["setup_s"],
            "op_cpu_s": _median([op_cpu[k] for k in plain]),
            "peak_rss_mb": peak_rss_mb(os.getpid()),
        }
    else:
        traced = [k for k in outs if _is_traced(ctx, k)]
        metrics = _layer_metrics(ctx, w, traced, _pairs(ctx, outs), outs, roots)
    keep = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(keep, exist_ok=True)
    tracer.dump(os.path.join(keep, f"{name}-{ctx.seed}-trace{int(ctx.trace)}.spans.jsonl"))
    return {"correct": failed == 0 and _enough(ctx, outs),
            "attempted": attempted, "failed": failed, "metrics": metrics}


def _enough(ctx: Ctx, outs: dict) -> bool:
    """A run needs one good operation; a traced run also needs two
    traced/untraced pairs of warm ones, to measure its own overhead."""
    return len(_pairs(ctx, outs)) >= 2 if ctx.trace else bool(outs)


def _is_traced(ctx: Ctx, i: int) -> bool:
    """In a traced run the cold operation and every second warm one run
    untraced, so the run measures its own tracing overhead."""
    return ctx.trace and i % 2 == 1


def _pairs(ctx: Ctx, outs: dict) -> list[tuple[int, int]]:
    """(traced, untraced) neighbours among the good warm operations. Warm
    operations alternate traced (1, 3, ...) and untraced (2, 4, ...), so
    successive pairs alternate which of the two ran first, and a warm-up
    trend cancels out of the median of their differences."""
    return [(t, u) for u in sorted(outs) if u > 0 and not _is_traced(ctx, u)
            for t in (u - 1, u + 1) if t > 0 and t in outs]


def _layer_metrics(ctx, w, traced, pairs, outs, roots) -> dict:
    """Per-layer medians over the traced operations; ``pairs`` match each
    with an untraced warm neighbour to measure the tracing overhead."""
    from perfbench.trace import SparkRest

    tracer = ctx.tracer
    per_op: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    rest = SparkRest(ctx.spark)
    jobs, stages = rest.snapshot()
    for k in traced:
        root = roots[k]
        idx = tracer.spans.index(root)
        vals: dict[str, float] = {m: 0.0 for m in SPAN_METRIC.values()}
        groups: dict[str, set[str]] = {}
        for j in tracer.descendants(idx):
            s = tracer.spans[j]
            if s.name in SPAN_METRIC:
                vals[SPAN_METRIC[s.name]] += s.dur
            for e in ("e1", "e2", "e3"):
                if s.name in (f"pipelines.{e}.run", f"sinks.{e}.write"):
                    groups.setdefault(e, set()).add(f"{tracer.run_id}.{j}")
        for e, g in groups.items():
            tot = rest.totals(jobs, stages, lambda job, g=g: rest.in_groups(job, g))
            for m in ("jobs", "stages", "tasks"):
                vals[f"pipelines.{e}.{m}"] = tot[m]
        tot = rest.totals(jobs, stages,
                          lambda job: rest.in_window(job, root.wall_start, root.wall_end))
        for m, v in tot.items():
            vals[f"spark.{m}"] = v
        vals["spark.core_busy_share"] = tot["executor_run_s"] / (root.dur * CPUS)
        kids = tracer.descendants(idx)
        vals["trace.layer_self_s"] = sum(tracer.self_time(j) for j in kids)
        vals["trace.harness_self_s"] = tracer.self_time(idx)
        vals["trace.op_s"] = root.dur
        vals.update(w.layer(k, outs[k]))
        for m, v in vals.items():
            if m in per_op:
                per_op[m].append(float(v))
    metrics = {m: _median(v) for m, v in per_op.items()}
    metrics.update({m: v for m, v in ctx.setup.items() if m in PER_LAYER})
    metrics["trace.cold_op_s"] = roots[0].dur if 0 in outs else 0.0
    metrics["trace.untraced_op_s"] = _median([roots[u].dur for u in {u for _, u in pairs}])
    metrics["trace.overhead_s"] = _median([roots[t].dur - roots[u].dur for t, u in pairs])
    # the layer spans' self times should account for an untraced operation
    # to within the tracing overhead; the harness self time is the rest
    gap = metrics["trace.untraced_op_s"] - metrics["trace.layer_self_s"]
    log(f"layer self times {metrics['trace.layer_self_s']:.2f}s vs untraced operation "
        f"{metrics['trace.untraced_op_s']:.2f}s: gap {gap:+.2f}s, harness self "
        f"{metrics['trace.harness_self_s']:.2f}s, tracing overhead {metrics['trace.overhead_s']:.2f}s")
    return metrics


def _become_subreaper() -> None:
    """Make this process the reaper of every orphan among its descendants
    (Linux ``PR_SET_CHILD_SUBREAPER``): the Spark JVM outlives
    ``spark.stop()``, and its worker daemons outlive the JVM, so without
    this they would be re-parented out of reach of ``_stop_descendants``."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_jvm() -> None:
    """End the Spark JVM after ``spark.stop()``: close the gateway's stdin
    (the JVM exits on EOF) and wait for it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        proc.wait(timeout=STOP_TIMEOUT_S)


def _stop_descendants() -> None:
    """Stop every process this one started and wait until each has ended:
    the Spark JVM first, then the remaining children are signalled -- TERM,
    then KILL after ``STOP_TIMEOUT_S`` -- and reaped until none is left."""
    from perfbench.trace import _children

    try:
        stop_jvm()
    except Exception:  # fall through to the signals below
        pass
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # nothing left to wait for
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children().get(os.getpid(), []):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ibc_spark", "__init__.py")):
        log(f"ibc_spark not found under {ROOT}: nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        log(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)} or all")
        return 2
    # a polite kill still runs the finally blocks that stop Postgres and Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), work)
    results = {}
    try:
        try:
            start_session(ctx)
        except Exception:
            log("session set-up failed:\n" + traceback.format_exc())
            return 2
        for n in names:
            results[n] = run_workload(n, ctx)
    finally:
        try:
            if ctx.spark is not None:
                ctx.spark.stop()
        finally:
            t_stop = time.perf_counter()
            _stop_descendants()
            log(f"all child processes ended in {time.perf_counter() - t_stop:.1f}s")
            shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    for n, r in results.items():
        r["metrics"] = {m: {"value": r["metrics"].get(m, 0.0), "unit": u} for m, u in units.items()}
    if len(results) == 1:
        final = next(iter(results.values()))
    else:
        for n, r in results.items():
            print(json.dumps({"workload": n, **r}))
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{m}": v for n, r in results.items() for m, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
