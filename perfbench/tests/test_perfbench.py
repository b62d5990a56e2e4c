"""Tests of the benchmark itself: generator determinism, that every
workload's correctness check passes the program's real output and rejects
deliberately corrupted output, and the metric-name contract.

    python3 -m pytest perfbench/tests -q

The workload tests run one small operation of each workload in a real
session (and, for ``semester_cycle``, a real Postgres server; skipped when
its binaries are missing), then feed ``check`` doctored copies of it.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import _counts, neardup_recall, rollup_diff, stray_members  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _cycle(seed):
    base = gen.base_state(seed, 200, 40)
    return base, gen.cycle_input(seed, 1, base, n_roster=300, n_projects=80)


def test_generators_repeat_per_seed():
    assert _cycle(7)[1] == _cycle(7)[1]
    assert gen.corpus(7, 500) == gen.corpus(7, 500)
    assert gen.event_backlog(7, 2000, 4) == gen.event_backlog(7, 2000, 4)


def test_generators_differ_across_seeds():
    assert _cycle(7)[1].roster != _cycle(8)[1].roster
    assert gen.corpus(7, 500).rows != gen.corpus(8, 500).rows
    assert gen.event_backlog(7, 2000, 4).files != gen.event_backlog(8, 2000, 4).files


def test_cycle_truth_matches_injected_rows():
    base, inp = _cycle(3)
    t = inp.truth
    assert t["e1.valid_rows"] + t["e1.invalid_rows"] < len(inp.roster)  # duplicates present
    assert t["e1.invalid_rows"] > 0 and t["e2.dangling_rows"] > 0
    assert t["e2.changed_resubmissions"] > 0 and t["e2.unchanged_resubmissions"] > 0
    headers = {k for r in inp.projects_sheet for k in r}
    assert {"project_name", "Project Name"} <= headers  # both spellings
    last = {r["Email"]: r for r in inp.roster}
    assert all(last[e]["Current Role"] == "XX" for e in t["pg.violators"])


def test_event_truth_counts():
    b = gen.event_backlog(5, 4000, 4)
    t = b.truth
    assert t["events"] == t["unique_ids"] + t["redelivered"]
    assert t["kept"] == t["unique_ids"] - t["late"] and t["late"] > 0


def test_count_checks_reject_corruption():
    want = {"e1.valid_rows": 10, "e1.invalid_rows": 2}
    assert _counts(want, dict(want)) == []
    assert len(_counts(want, {"e1.valid_rows": 11, "e1.invalid_rows": 2})) == 1
    assert len(_counts(want, {"e1.valid_rows": 10})) == 1  # a missing count fails too


def test_recall_and_family_checks_reject_corruption():
    pairs = [(1, 5), (2, 6)]
    good = {1: 1, 5: 1, 2: 2, 6: 2}
    assert neardup_recall(pairs, good) == 1.0 and stray_members(pairs, good) == 0
    split = {1: 1, 5: 5, 2: 2, 6: 2}
    assert neardup_recall(pairs, split) == 0.5
    merged = {1: 1, 5: 1, 2: 1, 6: 1}  # two families fused into one component
    assert stray_members(pairs, merged) > 0


def test_rollup_check_rejects_corruption():
    want = {("h0", "view"): (3, 10.5, 2), ("h1", "click"): (1, 2.0, 1)}
    assert rollup_diff(want, dict(want)) == 0
    assert rollup_diff(want, {**want, ("h0", "view"): (4, 10.5, 2)}) == 1
    assert rollup_diff(want, {("h0", "view"): (3, 10.5, 2)}) == 1


@pytest.fixture(scope="module")
def ctx():
    from perfbench.run import Ctx, start_session, stop_jvm
    from perfbench.trace import Tracer

    c = Ctx(seed=11, seconds=0.0, trace=False,
            work=os.path.join(ROOT, ".perfbench_work", f"tests-{os.getpid()}"))
    start_session(c)
    c.tracer = Tracer("tests", c.spark)
    yield c
    c.spark.stop()
    stop_jvm()
    shutil.rmtree(c.work, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(ctx):
    return ctx.spark


def test_digest_is_order_free_and_rejects_corruption(spark):
    from perfbench.workloads import digest

    rows = [(1, "a", True), (2, None, False), (3, "c", None)]
    df = spark.createDataFrame(rows, "id long, v string, b boolean")
    shuffled = spark.createDataFrame(rows[::-1], "id long, v string, b boolean")
    assert digest(df) == digest(shuffled)
    changed = spark.createDataFrame([(1, "a", True), (2, "x", False), (3, "c", None)],
                                    "id long, v string, b boolean")
    assert digest(df) != digest(changed)
    assert digest(df) != digest(df.limit(2))


def test_metric_names_and_benchmark_json():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert NAME.fullmatch(name) and len(name) <= 64, name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert all(m["unit"] == END_TO_END[m["name"]] for m in bench["end_to_end"])
    assert all(m["unit"] == PER_LAYER[m["name"]] for m in bench["per_layer"])
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# ------------------------------------------------ workload checks, end to end


def _one_op(w):
    w.setup()
    inp = w.prepare(0)
    return inp, w.op(0, inp)


@pytest.fixture(scope="module")
def cycle(ctx):
    from perfbench.workloads import SemesterCycle

    w = SemesterCycle(ctx)
    w.N_BASE, w.N_BASE_PROJECTS, w.N_ROSTER, w.N_PROJECTS = 300, 60, 240, 120
    try:
        inp, out = _one_op(w)
    except RuntimeError as e:  # no Postgres server binaries
        w.teardown()
        pytest.skip(str(e))
    yield w, inp, out
    w.teardown()


def test_semester_check_accepts_real_output(cycle):
    w, inp, out = cycle
    assert inp.truth["e2.dangling_rows"] > 0 and inp.truth["pg.violators"]
    assert w.check(0, inp, dict(out)) == []


def _bump(out, tag, key):
    return dict(out, **{tag: {**out[tag], key: out[tag][key] + 1}})


@pytest.mark.parametrize("tag,key", [("e1", "valid_rows"), ("e1", "invalid_rows"),
                                     ("e2", "valid_rows"), ("e3", "rows_updated")])
def test_semester_check_rejects_wrong_metrics(cycle, tag, key):
    w, inp, out = cycle
    assert w.check(0, inp, _bump(out, tag, key))


def test_semester_check_rejects_wrong_readback(cycle):
    w, inp, out = cycle
    users = out["back"]["users"]
    short = users.where(users.user_id != users.agg({"user_id": "min"}).first()[0])
    assert any("read-back" in e for e in w.check(0, inp, dict(out, back={**out["back"], "users": short})))


def test_semester_check_rejects_wrong_quarantine(cycle):
    w, inp, out = cycle
    w._sql("INSERT INTO sink_quarantine VALUES ('E001', 'doctored', '{}')")
    try:
        errs = w.check(0, inp, dict(out))
    finally:
        w._sql("DELETE FROM sink_quarantine WHERE reason = 'doctored'")
    assert any("pg.quarantined" in e for e in errs)


def test_semester_check_rejects_relabelled_dangling_rows(cycle, spark, tmp_path):
    from pyspark.sql import functions as F

    w, inp, out = cycle
    d2 = str(tmp_path / "cycle")
    shutil.copytree(out["dir"], d2)
    q = spark.read.parquet(f"{out['dir']}/e2/quarantine.parquet")
    # the same rows, but no reason names a missing netid any more
    q.withColumn("reason", F.regexp_replace("reason", "not found in database", "unknown")) \
        .write.mode("overwrite").parquet(f"{d2}/e2/quarantine.parquet")
    assert any("e2.dangling_rows" in e for e in w.check(0, inp, dict(out, dir=d2)))


@pytest.fixture(scope="module")
def stream(ctx):
    from perfbench.workloads import EventStream

    w = EventStream(ctx)
    w.N_EVENTS = 3000
    inp, out = _one_op(w)
    # plain dicts, so tests can doctor them
    out["progress"] = {k: [json.loads(p.json) for p in v] for k, v in out["progress"].items()}
    yield w, inp, out
    w.cleanup(0)


def test_stream_check_accepts_real_output(stream):
    w, inp, out = stream
    assert w.backlog.truth["late"] > 0
    assert w.check(0, inp, out) == []


def _doctor_progress(out, query, edit):
    import copy

    progress = copy.deepcopy(out["progress"])
    edit(progress[query])
    return dict(out, progress=progress)


def test_stream_check_rejects_wrong_watermark_drops(stream):
    w, inp, out = stream

    def edit(prog):
        w._batches(prog)[-1]["stateOperators"][0]["numRowsDroppedByWatermark"] += 1

    assert any("watermark" in e for e in w.check(0, inp, _doctor_progress(out, "merge", edit)))


@pytest.mark.parametrize("query", ["rollup", "merge"])
def test_stream_check_rejects_merged_batches(stream, query):
    w, inp, out = stream

    def edit(prog):
        prog.remove(w._batches(prog)[0])

    assert any("data batches" in e for e in w.check(0, inp, _doctor_progress(out, query, edit)))


def test_stream_check_rejects_wrong_rollup(stream):
    w, inp, out = stream
    key = sorted(out["rollup"])[0]
    n, total, users = out["rollup"][key]
    rollup = {**out["rollup"], key: (n + 1, total, users)}
    assert any("rollup" in e for e in w.check(0, inp, dict(out, rollup=rollup)))


def test_stream_check_rejects_lost_event(stream, spark, tmp_path):
    w, inp, out = stream
    target = spark.read.parquet(f"{out['dir']}/target")
    target.where(target.event_id != 0).write.parquet(str(tmp_path / "target"))
    assert any("kept" in e for e in w.check(0, inp, dict(out, dir=str(tmp_path))))


@pytest.fixture(scope="module")
def dedup(ctx):
    from perfbench.workloads import CorpusDedup

    w = CorpusDedup(ctx)
    w.N_DOCS = 1000
    inp, out = _one_op(w)
    yield w, inp, out
    w.cleanup(0)


def test_dedup_check_accepts_real_output(dedup):
    w, inp, out = dedup
    assert w.check(0, inp, dict(out)) == []


def test_dedup_check_rejects_wrong_counts(dedup):
    w, inp, out = dedup
    assert any("exact_kept" in e for e in w.check(0, inp, dict(out, kept=out["kept"] + 1)))


def test_dedup_check_rejects_split_family(dedup):
    w, inp, out = dedup
    comp = dict(out["comp"])
    edit = next(b for a, b in w.corpus.neardup_pairs if comp.get(b) not in (None, b))
    comp[edit] = edit  # an injected edit left in a component of its own
    assert any("written" in e for e in w.check(0, inp, dict(out, comp=comp)))


def test_dedup_check_rejects_fused_families(dedup):
    w, inp, out = dedup
    roots = sorted(set(out["comp"].values()))
    comp = {n: roots[0] if c == roots[1] else c for n, c in out["comp"].items()}
    assert any("outside their injected family" in e for e in w.check(0, inp, dict(out, comp=comp)))


def test_dedup_check_rejects_lost_document(dedup, spark, tmp_path):
    w, inp, out = dedup
    kept = spark.read.parquet(out["path"])
    kept.where(kept.doc_id != kept.agg({"doc_id": "min"}).first()[0]) \
        .write.parquet(str(tmp_path / "kept"))
    assert any("written" in e for e in w.check(0, inp, dict(out, path=str(tmp_path / "kept"))))
