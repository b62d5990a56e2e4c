"""The benchmark's workloads. Each is a closed loop of operations: ``prepare``
builds an operation's inputs (untimed), ``op`` runs it inside the root span
(timed), ``check`` compares its outputs with the generator's ground truth
(untimed), ``cleanup`` drops what the operation left behind.

Every call into ``ibc_spark`` sits in its own span, named after the layer
it enters; the per-layer metrics are sums of those spans per operation.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.trace import PgFactory, exchanges

STREAM_WATERMARK = "2 hours"  # the streaming operators' default


def _arrow_schema(schema: T.StructType):
    import pyarrow as pa

    kinds = {"bigint": pa.int64(), "int": pa.int32(), "string": pa.string(),
             "boolean": pa.bool_()}
    return pa.schema([(f.name, kinds[f.dataType.simpleString()]) for f in schema])


def _write_rows(rows: list[dict], schema: T.StructType, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema(schema)), path)


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes) over every column,
    each rendered as a string so text read back from Postgres and typed
    Spark state compare equal."""
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\u0000")) for c in sorted(df.columns)])
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def setup(self) -> None: ...

    def prepare(self, i: int): ...

    def op(self, i: int, inp) -> dict: ...

    def check(self, i: int, inp, out: dict) -> list[str]:
        return []

    def cleanup(self, i: int) -> None:
        from ibc_spark.ext.persistreg import release_persisted

        release_persisted()
        self.spark.catalog.clearCache()

    def teardown(self) -> None: ...

    def layer(self, i: int, out: dict) -> dict:
        """Extra per-layer numbers of one traced operation."""
        return {}

    def span(self, name: str):
        return self.ctx.tracer.span(name)


def _counts(expected: dict, got: dict) -> list[str]:
    return [f"{k}: expected {expected[k]}, got {got.get(k)}"
            for k in expected if got.get(k) != expected[k]]


def neardup_recall(pairs: list[tuple[int, int]], comp: dict[int, int]) -> float:
    """Share of injected (original, edit) pairs that share a component."""
    hit = sum(1 for a, b in pairs if a in comp and comp.get(a) == comp.get(b))
    return hit / max(1, len(pairs))


def stray_members(pairs: list[tuple[int, int]], comp: dict[int, int]) -> int:
    """Documents whose component root is not from their injected family
    (an edit's family is its original)."""
    family = {b: a for a, b in pairs}
    return sum(1 for n, c in comp.items() if family.get(n, n) != family.get(c, c))


def rollup_diff(want: dict, got: dict) -> int:
    """Groups whose (n_events, total_value, approx_users) differ."""
    return sum(1 for k in set(want) | set(got) if want.get(k) != got.get(k))


# ------------------------------------------------------------ semester_cycle

ROLE_CHECK = "curr_role IN ('NC', 'SC', 'PM', 'SM', 'EM')"
PG_KINDS = {"bigint": "bigint", "int": "integer", "string": "text", "boolean": "boolean"}
INT64 = (-(2**63), 2**63 - 2)  # read-back range: surrogate keys span all of bigint


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _ddl(schema: T.StructType, extra: dict[str, str]) -> str:
    return ", ".join(f'"{f.name}" {PG_KINDS[f.dataType.simpleString()]}{extra.get(f.name, "")}'
                     for f in schema)


class SemesterCycle(Workload):
    """Reference cycles against last semester's state: roster sheet -> E1
    -> parquet state -> Postgres upsert of the rows the sheet touched and
    a parallel read-back -> projects sheet -> E2 -> E3."""

    name = "semester_cycle"
    N_BASE, N_BASE_PROJECTS = 1500, 300
    N_ROSTER, N_PROJECTS = 1200, 240
    PARTITIONS = 4  # sink and read-back parallelism: at most 4 connections

    def setup(self):
        from ibc_spark.schemas import CONSULTANTS_SCHEMA, PROJECTS_SCHEMA, USERS_SCHEMA

        from perfbench.pg import Postgres

        self.base = gen.base_state(self.ctx.seed, self.N_BASE, self.N_BASE_PROJECTS)
        self.base_dir = os.path.join(self.work, "base")
        _write_rows(self.base.users, USERS_SCHEMA, f"{self.base_dir}/users.parquet")
        _write_rows(self.base.consultants, CONSULTANTS_SCHEMA, f"{self.base_dir}/consultants.parquet")
        _write_rows(self.base.projects, PROJECTS_SCHEMA, f"{self.base_dir}/projects.parquet")

        self.pg = Postgres(self.work)
        self.pg.start()
        self.ctx.server_pid = self.pg.proc.pid
        self.read_schema = {
            t: ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in sch)
            for t, sch in (("users", USERS_SCHEMA), ("consultants", CONSULTANTS_SCHEMA))}
        self._sql(
            f'CREATE TABLE users_base ({_ddl(USERS_SCHEMA, {"user_id": " PRIMARY KEY", "name": " NOT NULL", "email": " NOT NULL UNIQUE", "curr_role": f" CHECK ({ROLE_CHECK})"})})',
            f'CREATE TABLE consultants_base ({_ddl(CONSULTANTS_SCHEMA, {"user_id": " PRIMARY KEY"})})',
        )
        # last semester's state, loaded once; each cycle starts from a copy
        for t, rows, sch in (("users_base", self.base.users, USERS_SCHEMA),
                             ("consultants_base", self.base.consultants, CONSULTANTS_SCHEMA)):
            cols = [f.name for f in sch]
            values = ", ".join(
                "(" + ", ".join(_sql_literal(r[c]) for c in cols) + ")" for r in rows)
            self._sql(f'INSERT INTO "{t}" VALUES {values}')

    def teardown(self):
        if hasattr(self, "pg"):
            self.pg.stop()

    def _sql(self, *stmts) -> list:
        conn = self.pg.connect()
        try:
            cur = conn.cursor()
            for st in stmts:
                cur.execute(st)
            rows = cur.fetchall() if cur.description else []
            conn.commit()
            return rows
        finally:
            conn.close()

    def _stat(self) -> dict:
        keys = ("xact_commit", "tup_inserted", "tup_updated")
        row = self._sql(f"SELECT {', '.join(keys)} FROM pg_stat_database WHERE datname = 'postgres'")[0]
        return dict(zip(keys, map(int, row)))

    def _upsert(self, df, table, factory):
        from ibc_spark.io_.sinks import dbapi_upsert

        dbapi_upsert(df, table=table, key_cols="user_id", connection_factory=factory,
                     paramstyle="format", quarantine_table="sink_quarantine")

    def prepare(self, i):
        inp = gen.cycle_input(self.ctx.seed, i, self.base,
                              n_roster=self.N_ROSTER, n_projects=self.N_PROJECTS)
        self._sql("DROP TABLE IF EXISTS users, consultants, sink_quarantine",
                  "CREATE TABLE users (LIKE users_base INCLUDING ALL)",
                  "INSERT INTO users SELECT * FROM users_base",
                  "CREATE TABLE consultants (LIKE consultants_base INCLUDING ALL)",
                  "INSERT INTO consultants SELECT * FROM consultants_base",
                  "CREATE TABLE sink_quarantine (error_code text, reason text, source_row text)")
        touched = {r["Email"] for r in inp.roster if r["Email"]}
        inp.touched = self.spark.createDataFrame([(e,) for e in sorted(touched)], "email string")
        if self.ctx.tracer.traced:
            sc = self.spark.sparkContext
            inp.acc = (sc.accumulator(0), sc.accumulator(0))
            inp.factory = PgFactory(self.pg.port, *inp.acc)
        else:
            inp.acc = None
            inp.factory = PgFactory(self.pg.port)
        return inp

    def _write(self, tag: str, out_dir: str, tables: dict[str, DataFrame], metrics: DataFrame,
               out: dict):
        from ibc_spark.pipelines import cli

        with self.span(f"sinks.{tag}.write"):
            cli.write_outputs(out_dir, tables)
            out[tag] = cli.metrics_row(metrics)
        if self.ctx.tracer.traced:
            out["exchanges"][tag] = sum(exchanges(df) for df in tables.values())

    def op(self, i, inp):
        from ibc_spark.io_.sources import dataframe_from_rows, pgwire_parallel_read
        from ibc_spark.pipelines import cli, end_semester, projects, staffing_roster
        from ibc_spark.schemas import CONSULTANTS_SCHEMA, PROJECTS_SCHEMA, USERS_SCHEMA

        spark, d = self.spark, os.path.join(self.work, f"cycle{i}")
        out = {"dir": d, "exchanges": {}, "stats": [], "acc": inp.acc,
               "rows": len(inp.roster) + len(inp.projects_sheet)}
        traced = self.ctx.tracer.traced
        with self.span("sources.dataframe_from_rows"):
            raw = dataframe_from_rows(spark, inp.roster)
        with self.span("sources.state_read"):
            users = cli.load_state(spark, self.base_dir, "users", USERS_SCHEMA)
            cons = cli.load_state(spark, self.base_dir, "consultants", CONSULTANTS_SCHEMA)
        with self.span("pipelines.e1.run"):
            r1 = staffing_roster.run(raw, users, cons)
        self._write("e1", f"{d}/e1", {"users": r1.users, "consultants": r1.consultants,
                                      "quarantine": r1.quarantine}, r1.metrics, out)
        with self.span("sources.state_read"):
            users = cli.load_state(spark, f"{d}/e1", "users", USERS_SCHEMA)
            cons = cli.load_state(spark, f"{d}/e1", "consultants", CONSULTANTS_SCHEMA)

        # sync the rows this sheet touched into Postgres, then read it back
        touched_users = users.join(F.broadcast(inp.touched), "email", "left_semi")
        touched_cons = cons.join(touched_users.select("user_id"), "user_id", "left_semi")
        if traced:
            out["stats"].append(self._stat())
        with self.span("sinks.dbapi_upsert"):
            self._upsert(touched_users.repartition(self.PARTITIONS), "users", inp.factory)
        with self.span("sinks.dbapi_upsert"):
            self._upsert(touched_cons.repartition(self.PARTITIONS), "consultants", inp.factory)
        if traced:
            out["stats"].append(self._stat())
        out["back"] = {}
        for t in ("users", "consultants"):
            with self.span("sources.pgwire_parallel_read"):
                out["back"][t] = pgwire_parallel_read(
                    spark, table=t, schema=self.read_schema[t], partition_column="user_id",
                    lower_bound=INT64[0], upper_bound=INT64[1], num_partitions=self.PARTITIONS,
                    port=self.pg.port,
                ).localCheckpoint(eager=True)

        with self.span("sources.dataframe_from_rows"):
            praw = dataframe_from_rows(spark, inp.projects_sheet)
        with self.span("sources.state_read"):
            projs = cli.load_state(spark, self.base_dir, "projects", PROJECTS_SCHEMA)
        with self.span("pipelines.e2.run"):
            r2 = projects.run(praw, users, cons, projs)
        self._write("e2", f"{d}/e2", {
            "projects": r2.projects, "users": r2.users, "consultants": r2.consultants,
            "consultant_projects": r2.links, "quarantine": r2.quarantine}, r2.metrics, out)

        with self.span("sources.state_read"):
            cons = cli.load_state(spark, f"{d}/e2", "consultants", CONSULTANTS_SCHEMA)
        with self.span("pipelines.e3.run"):
            r3 = end_semester.run(cons)
        self._write("e3", f"{d}/e3", {"consultants": r3.consultants}, r3.metrics, out)
        return out

    def check(self, i, inp, out):
        spark, d, t = self.spark, out["dir"], inp.truth
        n = lambda p: spark.read.parquet(p).count()  # noqa: E731
        q2 = spark.read.parquet(f"{d}/e2/quarantine.parquet")
        users = spark.read.parquet(f"{d}/e1/users.parquet")
        got = {
            "e1.valid_rows": out["e1"]["valid_rows"],
            "e1.invalid_rows": out["e1"]["invalid_rows"],
            "e1.users": users.count(),
            "e1.consultants": n(f"{d}/e1/consultants.parquet"),
            "e2.valid_rows": out["e2"]["valid_rows"],
            "e2.invalid_rows": out["e2"]["invalid_rows"],
            "e2.dangling_rows": q2.where(F.col("reason").contains("not found in database")).count(),
            "e2.links": n(f"{d}/e2/consultant_projects.parquet"),
            "e2.projects": n(f"{d}/e2/projects.parquet"),
            "e3.updated_rows": out["e3"]["rows_updated"],
            "e3.semesters_sum": spark.read.parquet(f"{d}/e3/consultants.parquet")
            .agg(F.sum("semesters_in_ibc")).first()[0],
        }
        errs = _counts({k: v for k, v in t.items() if k in got}, got)
        # Postgres holds E1's state except the rows its CHECK rejected
        violators = spark.createDataFrame([(e,) for e in t["pg.violators"]], "email string")
        expect = {
            "users": users.join(F.broadcast(violators), "email", "left_anti"),
            "consultants": spark.read.parquet(f"{d}/e1/consultants.parquet"),
        }
        for tab, df in out["back"].items():
            want, have = digest(expect[tab]), digest(df)
            if want != have:
                errs.append(f"Postgres {tab} read-back {have} != E1 state {want}")
        (q,) = self._sql('SELECT count(*) FROM "sink_quarantine"')[0]
        out["quarantined"] = int(q)
        return errs + _counts({"pg.quarantined": len(t["pg.violators"])},
                              {"pg.quarantined": out["quarantined"]})

    def cleanup(self, i):
        super().cleanup(i)
        shutil.rmtree(os.path.join(self.work, f"cycle{i}"), ignore_errors=True)

    def layer(self, i, out):
        spans = [s for s in self.ctx.tracer.spans if s.op == i]
        read_s = sum(s.dur for s in spans if s.name == "sources.pgwire_parallel_read")
        back_rows = sum(df.count() for df in out["back"].values())
        m = {f"pipelines.{k}.exchanges": v for k, v in out["exchanges"].items()}
        m["sinks.quarantined_rows"] = out.get("quarantined", 0)
        m["sources.pgwire_parallel_read_rows_per_s"] = back_rows / read_s
        m["sources.rows_ingested"] = out["rows"]
        acc = out["acc"]
        if acc is not None:
            m["pgwire.statements"] = acc[0].value
            m["pgwire.connections"] = acc[1].value
        if len(out["stats"]) == 2:
            a, b = out["stats"]
            m.update({f"pg.{k}": b[k] - a[k] for k in a})
            sent = b["tup_inserted"] - a["tup_inserted"] + b["tup_updated"] - a["tup_updated"]
            if acc is not None and sent:
                m["pgwire.statements_per_row"] = acc[0].value / sent
        return m


# ------------------------------------------------------------- corpus_dedup


class CorpusDedup(Workload):
    """Quality gate -> exact dedup -> MinHash-LSH pairs -> connected
    components -> write the kept corpus."""

    name = "corpus_dedup"
    N_DOCS = 5000
    RECALL_FLOOR = 0.9

    def setup(self):
        self.corpus = gen.corpus(self.ctx.seed, self.N_DOCS)
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.src = os.path.join(self.work, "src")
        path = os.path.join(self.src, "documents.parquet")
        os.makedirs(path, exist_ok=True)
        rows = self.corpus.rows
        for k in range(4):
            part = rows[k * len(rows) // 4:(k + 1) * len(rows) // 4]
            pq.write_table(pa.Table.from_pylist(part), os.path.join(path, f"part-{k}.parquet"))

    def prepare(self, i):
        return None

    def op(self, i, _):
        from ibc_spark.ext.dedup import dedup_exact, minhash_lsh_pairs
        from ibc_spark.ext.graph import connected_components
        from ibc_spark.ext.text import quality_metrics
        from ibc_spark.io_.sinks import write_parquet
        from ibc_spark.io_.sources import read_table

        with self.span("sources.read_table"):
            docs = read_table(self.spark, self.src, "documents")
        with self.span("text.quality_gate"):
            q = quality_metrics("text")
            gated = docs.where((q["n_tokens"] >= 20) & (q["stopword_ratio"] >= 0.05))
            gated = gated.select("doc_id", "text").persist()
            n_gated = gated.count()
        with self.span("dedup.exact"):
            ex = dedup_exact(gated, key=F.sha2("text", 256), id_col="doc_id")
            kept = gated.join(ex.select(F.col("kept_id").alias("doc_id")), "doc_id", "left_semi")
            kept = kept.persist()
            n_kept = kept.count()
        with self.span("dedup.minhash_lsh"):
            pairs = minhash_lsh_pairs(kept, id_col="doc_id", text_col="text").localCheckpoint(eager=True)
            n_pairs = pairs.count()
        with self.span("graph.components"):
            comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
        out_path = os.path.join(self.work, f"kept{i}")
        with self.span("sinks.write_parquet"):
            drop = self.spark.createDataFrame(
                [(n,) for n, c in comp.items() if n != c], "doc_id long")
            write_parquet(kept.join(F.broadcast(drop), "doc_id", "left_anti"), out_path)
        return {"gated": n_gated, "kept": n_kept, "pairs": n_pairs, "comp": comp, "path": out_path}

    def check(self, i, _, out):
        t = self.corpus.truth
        comp = out["comp"]
        out["recall"] = neardup_recall(self.corpus.neardup_pairs, comp)
        removed = len(comp) - len(set(comp.values()))
        written = self.spark.read.parquet(out["path"]).count()
        errs = _counts({"gated": t["gated"], "exact_kept": t["exact_kept"],
                        "written": t["exact_kept"] - removed},
                       {"gated": out["gated"], "exact_kept": out["kept"], "written": written})
        stray = stray_members(self.corpus.neardup_pairs, comp)
        if stray:
            errs.append(f"{stray} documents clustered outside their injected family")
        if out["recall"] < self.RECALL_FLOOR:
            errs.append(f"near-dup recall {out['recall']:.3f} < {self.RECALL_FLOOR}")
        return errs

    def cleanup(self, i):
        super().cleanup(i)
        shutil.rmtree(os.path.join(self.work, f"kept{i}"), ignore_errors=True)

    def layer(self, i, out):
        return {"dedup.pairs_out": out["pairs"],
                "graph.components": len(set(out["comp"].values())),
                "dedup.neardup_recall": out.get("recall", 0.0)}


# ------------------------------------------------------------- event_stream


class EventStream(Workload):
    """Backlog replay through read_events_stream(max_files_per_trigger=1):
    one query rolls the raw stream up with hourly_rollup_stream, a second
    deduplicates it with dedup_events_stream into foreach_batch_merge's
    parquet target. (Chaining dedup_events_stream into hourly_rollup_stream
    fails: both define a watermark and Spark rejects the redefinition.)"""

    name = "event_stream"
    N_EVENTS, N_FILES = 24000, 3

    def setup(self):
        self.backlog = gen.event_backlog(self.ctx.seed, self.N_EVENTS, self.N_FILES)
        self.src = os.path.join(self.work, "src")
        gen.write_backlog(self.backlog, os.path.join(self.src, "events.parquet"))
        late = [e["event_id"] for b in self.backlog.files for e in b
                if e["event_id"] not in self.backlog.kept_ids]
        self.late = self.spark.createDataFrame([(x,) for x in late], "event_id long")

    def prepare(self, i):
        d = os.path.join(self.work, f"replay{i}")
        os.makedirs(d, exist_ok=True)
        return d

    def op(self, i, d):
        from ibc_spark.streaming import (
            dedup_events_stream, foreach_batch_merge, hourly_rollup_stream, read_events_stream)

        rollup: dict = {}

        def collect(batch_df, batch_id):
            for r in batch_df.collect():
                rollup[(r["window_start"], r["event_type"])] = (
                    r["n_events"], r["total_value"], r["approx_users"])

        merge = foreach_batch_merge(self.spark, f"{d}/target", key="event_id", order_col="ts")
        tracer = self.ctx.tracer

        def merge_body(batch_df, batch_id):
            with tracer.span("sinks.foreach_merge"):
                merge(batch_df, batch_id)

        progress = {}
        with self.span("streaming.rollup_query"):
            ev = read_events_stream(self.spark, self.src, max_files_per_trigger=1)
            q = (hourly_rollup_stream(ev, watermark=STREAM_WATERMARK)
                 .writeStream.outputMode("update").foreachBatch(collect)
                 .option("checkpointLocation", f"{d}/ck_rollup")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress["rollup"] = q.recentProgress
        with self.span("streaming.merge_query"):
            ev = read_events_stream(self.spark, self.src, max_files_per_trigger=1)
            q = (dedup_events_stream(ev, watermark=STREAM_WATERMARK)
                 .writeStream.foreachBatch(merge_body)
                 .option("checkpointLocation", f"{d}/ck_merge")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress["merge"] = q.recentProgress
        return {"dir": d, "rollup": rollup, "progress": progress}

    @staticmethod
    def _batches(progress) -> list:
        return [p for p in progress if p["numInputRows"] > 0]

    def check(self, i, d, out):
        from ibc_spark.io_.sources import read_table

        t = self.backlog.truth
        target = self.spark.read.parquet(f"{out['dir']}/target")
        n, n_ids = target.agg(F.count(F.lit(1)), F.countDistinct("event_id")).first()
        errs = _counts({"kept": t["kept"], "kept_ids": t["kept"]}, {"kept": n, "kept_ids": n_ids})
        # the dedup operator sees raw rows (the aggregate sees partial
        # aggregates), so its watermark drops are exactly the late events
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in out["progress"]["merge"] for op in p.get("stateOperators", []))
        if dropped != t["late"]:
            errs.append(f"dedup watermark dropped {dropped}, injected {t['late']} late events")
        for name, prog in out["progress"].items():
            if len(self._batches(prog)) != self.N_FILES:
                errs.append(f"{name}: {len(self._batches(prog))} data batches for {self.N_FILES} files")
        # batch face: the same aggregates over the same events, late ones removed
        events = read_table(self.spark, self.src, "events")
        events = events.join(F.broadcast(self.late), "event_id", "left_anti")
        batch = (events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.sum(F.col("value").cast("decimal(10,2)")).cast("double").alias("total_value"),
                      F.approx_count_distinct("user_id").alias("approx_users"))
                 .select(F.col("w.start").alias("window_start"), "event_type", "n_events",
                         "total_value", "approx_users"))
        want = {(r["window_start"], r["event_type"]): (r["n_events"], r["total_value"], r["approx_users"])
                for r in batch.collect()}
        bad = rollup_diff(want, out["rollup"])
        if bad:
            errs.append(f"stream rollup differs from the batch rollup in {bad} groups")
        return errs

    def cleanup(self, i):
        shutil.rmtree(os.path.join(self.work, f"replay{i}"), ignore_errors=True)

    def layer(self, i, out):
        batches = [p for prog in out["progress"].values() for p in self._batches(prog)]
        ops = [op for p in batches for op in p.get("stateOperators", [])]
        last = [self._batches(prog)[-1] for prog in out["progress"].values() if self._batches(prog)]
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "streaming.batches": len(batches),
            "streaming.batch_p50_ms": med([p["durationMs"]["triggerExecution"] for p in batches]),
            "streaming.add_batch_ms": med([p["durationMs"].get("addBatch", 0) for p in batches]),
            "streaming.wal_commit_ms": med([p["durationMs"].get("walCommit", 0) for p in batches]),
            "streaming.state_rows_total": sum(op["numRowsTotal"] for p in last
                                              for op in p.get("stateOperators", [])),
            "streaming.state_memory_bytes": max((op["memoryUsedBytes"] for op in ops), default=0),
            "streaming.state_commit_ms": med([op.get("commitTimeMs", 0) for op in ops]),
            "streaming.rows_dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0)
                                                       for op in ops),
        }


class CorpusStream(Workload):
    """The LLM-data side, one operation after the other: replay the event
    backlog through the streaming operators, then deduplicate the corpus."""

    name = "corpus_stream"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = (EventStream(ctx), CorpusDedup(ctx))

    def setup(self):
        for p in self.parts:
            p.setup()

    def teardown(self):
        for p in self.parts:
            p.teardown()

    def prepare(self, i):
        return [p.prepare(i) for p in self.parts]

    def op(self, i, inp):
        return [p.op(i, x) for p, x in zip(self.parts, inp)]

    def check(self, i, inp, out):
        return [e for p, x, o in zip(self.parts, inp, out) for e in p.check(i, x, o)]

    def cleanup(self, i):
        for p in self.parts:
            p.cleanup(i)

    def layer(self, i, out):
        return {**self.parts[0].layer(i, out[0]), **self.parts[1].layer(i, out[1])}


WORKLOADS = {w.name: w for w in (SemesterCycle, CorpusStream)}
