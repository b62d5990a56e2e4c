"""REAL-Postgres integration for the DB sink path.

Round 5's verdict carried one residual: ``dbapi_upsert``'s Postgres
semantics (unique violation SQLSTATE 23505 → E001, statement errors
aborting the transaction until rollback, the SAVEPOINT retry discipline —
``staffing-roster-pipeline.py:146-151``, ``:269-298``) were verified only
against SQLite plus a fake-Postgres harness (``test_db_sink.py``). This
module closes it: a throwaway Postgres cluster (initdb + pg_ctl into a
temp dir, trust auth, dropped on teardown) and the pure-Python wire client
(``ibc_spark.io_.pgwire``) run the SAME sink code against a real server —
including executor-side writes through ``df.foreachPartition``.

Skips cleanly when the Postgres server binaries are absent.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import tempfile

import pytest

from .conftest import SF_SMOKE  # noqa: F401  (documents the shared harness)


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _as_pg_user(cmd: str) -> subprocess.CompletedProcess:
    """Postgres refuses to run as root: drop to the `postgres` user when
    needed (cwd=/tmp so su's chdir never trips on root-only dirs)."""
    if os.geteuid() == 0:
        return subprocess.run(
            ["su", "postgres", "-c", cmd], capture_output=True, text=True, cwd="/tmp"
        )
    return subprocess.run(cmd, shell=True, capture_output=True, text=True, cwd="/tmp")


@pytest.fixture(scope="module")
def pg_port():
    initdb = shutil.which("initdb")
    pg_ctl = shutil.which("pg_ctl")
    if not initdb or not pg_ctl:
        pytest.skip("postgres server binaries not available")
    base = tempfile.mkdtemp(prefix="ibc_pgwire_")
    data = os.path.join(base, "data")
    if os.geteuid() == 0:
        subprocess.run(["chown", "-R", "postgres", base], check=True)
    port = _free_port()
    r = _as_pg_user(f"{initdb} -D {data} -A trust --no-instructions")
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"initdb failed: {r.stderr[-500:]}")
    r = _as_pg_user(
        f"{pg_ctl} -D {data} -w -o '-p {port} -k {base} -c listen_addresses=127.0.0.1' "
        f"-l {base}/pg.log start"
    )
    if r.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        pytest.skip(f"pg_ctl start failed: {r.stderr[-500:]}")
    try:
        yield port
    finally:
        _as_pg_user(f"{pg_ctl} -D {data} -m immediate stop")
        shutil.rmtree(base, ignore_errors=True)


def _connect(port: int):
    from ibc_spark.io_.pgwire import connect

    return connect(port=port)


def test_real_pg_sqlstates_and_savepoint_discipline(pg_port):
    """The semantics the fake harness emulated, now against the real
    server: 23505 on unique violation, 25P02 on any statement inside the
    aborted transaction, ROLLBACK TO SAVEPOINT restoring usability."""
    from ibc_spark.io_.pgwire import PgWireError

    conn = _connect(pg_port)
    cur = conn.cursor()
    cur.execute("CREATE TABLE disc (id int PRIMARY KEY, v text)")
    cur.execute("INSERT INTO disc VALUES (%s, %s)", (1, "a"))
    conn.commit()

    cur.execute("SAVEPOINT s1")
    with pytest.raises(PgWireError) as e1:
        cur.execute("INSERT INTO disc (id, v) VALUES (%s, %s)", (1, "dup"))
    assert e1.value.sqlstate == "23505"
    with pytest.raises(PgWireError) as e2:
        cur.execute("SELECT 1")  # aborted until rollback — the real discipline
    assert e2.value.sqlstate == "25P02"
    cur.execute("ROLLBACK TO SAVEPOINT s1")
    cur.execute("SELECT count(*) FROM disc")
    assert cur.fetchall() == [("1",)]
    conn.commit()
    conn.close()


def test_dbapi_upsert_against_real_postgres(spark, pg_port):
    """The engine's keyed-upsert sink (K1–K5 parity,
    `staffing-roster-pipeline.py:128-224`) executes on Spark EXECUTORS
    against the real server: same-key rows collapse last-write-wins via
    ON CONFLICT DO UPDATE, a NOT-NULL offender is isolated by the
    SAVEPOINT retry and quarantined as E001 (reason carries the real
    SQLSTATE 23502), and every good row lands."""
    import json

    from ibc_spark.io_.sinks import dbapi_upsert

    setup = _connect(pg_port)
    cur = setup.cursor()
    cur.execute("CREATE TABLE roster (id int PRIMARY KEY, name text NOT NULL, val float8)")
    cur.execute(
        "CREATE TABLE quarantine (error_code text, reason text, source_row text)"
    )
    setup.commit()
    setup.close()

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (2, "b2", 3.0), (3, None, 4.0)],
        "id int, name string, val double",
    ).repartition(1)
    port = pg_port

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=port)

    dbapi_upsert(
        df,
        table="roster",
        key_cols="id",
        connection_factory=factory,
        paramstyle="format",
        quarantine_table="quarantine",
    )

    check = _connect(pg_port)
    cur = check.cursor()
    cur.execute("SELECT id, name, val FROM roster ORDER BY id")
    assert cur.fetchall() == [("1", "a", "1"), ("2", "b2", "3")]
    cur.execute("SELECT error_code, reason, source_row FROM quarantine")
    rows = cur.fetchall()
    assert len(rows) == 1
    code, reason, payload = rows[0]
    assert code == "E001"
    assert "23502" in reason  # the REAL not-null SQLSTATE, not an emulation
    assert json.loads(payload)["id"] == 3
    check.commit()
    check.close()


def test_dbapi_upsert_real_pg_conflict_without_quarantine_raises_e001(spark, pg_port):
    """Without a quarantine table the reference maps persistent constraint
    violations to DataConflictError E001
    (`staffing-roster-pipeline.py:146-151`); verify the real-server path
    surfaces that code through the Spark job failure."""
    from ibc_spark.io_.sinks import dbapi_upsert

    setup = _connect(pg_port)
    cur = setup.cursor()
    cur.execute("CREATE TABLE strict_t (id int PRIMARY KEY, v int CHECK (v >= 0))")
    setup.commit()
    setup.close()

    df = spark.createDataFrame([(1, 5), (2, -1)], "id int, v int").repartition(1)
    port = pg_port

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=port)

    with pytest.raises(Exception) as exc:
        dbapi_upsert(
            df,
            table="strict_t",
            key_cols="id",
            connection_factory=factory,
            paramstyle="format",
        )
    assert "E001" in str(exc.value)


def test_pgwire_parallel_read_round_trip(spark, pg_port):
    """The dim-snapshot READ face (SURVEY S3's partitioned JDBC shape)
    against the real server: 100 rows written via the sink come back
    through a 4-slice executor-parallel scan with types restored, and the
    slice predicate covers the range exactly once (no dropped or doubled
    boundary rows)."""
    from ibc_spark.io_.sinks import dbapi_upsert
    from ibc_spark.io_.sources import pgwire_parallel_read

    setup = _connect(pg_port)
    cur = setup.cursor()
    cur.execute(
        "CREATE TABLE dim_src (id int PRIMARY KEY, name text, val float8, flag boolean)"
    )
    setup.commit()
    setup.close()

    rows = [(i, f"n{i}", i / 4.0, i % 3 == 0) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, name string, val double, flag boolean")
    port = pg_port

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=port)

    dbapi_upsert(
        df, table="dim_src", key_cols="id", connection_factory=factory, paramstyle="format"
    )

    back = pgwire_parallel_read(
        spark,
        table="dim_src",
        schema="id long, name string, val double, flag boolean",
        partition_column="id",
        lower_bound=0,
        upper_bound=99,
        num_partitions=4,
        port=pg_port,
    )
    got = sorted((r["id"], r["name"], r["val"], r["flag"]) for r in back.collect())
    assert got == [(i, f"n{i}", i / 4.0, i % 3 == 0) for i in range(100)]
    # filtered read pushes the residual predicate into the per-slice SQL
    filtered = pgwire_parallel_read(
        spark,
        table="dim_src",
        schema="id long, val double",
        partition_column="id",
        lower_bound=0,
        upper_bound=99,
        num_partitions=3,
        port=pg_port,
        where="val >= 20.0",
    )
    assert filtered.count() == sum(1 for i in range(100) if i / 4.0 >= 20.0)


def _pg_type(simple: str) -> str:
    if simple == "bigint":
        return "bigint"
    if simple in ("int", "integer"):
        return "integer"
    if simple == "boolean":
        return "boolean"
    if simple == "double":
        return "float8"
    return "text"


def test_staffing_roster_pipeline_end_to_end_into_real_postgres(spark, pg_port):
    """Reference-parity E2E: the E1 staffing-roster pipeline's merged
    states land in a REAL Postgres through the keyed-upsert sink — the
    exact deployment shape of the reference (sheet → transform → pg
    upserts, `staffing-roster-pipeline.py:226-310`) — and replaying the
    same batch leaves the database unchanged (idempotent MERGE, the
    engine's improvement over the reference's rollback-all semantics)."""
    from tests import fixtures

    from ibc_spark.io_.sinks import dbapi_upsert
    from ibc_spark.pipelines import staffing_roster

    res = staffing_roster.run(
        fixtures.roster_df(spark),
        fixtures.users_state(spark),
        fixtures.consultants_state(spark),
    )
    users, consultants = res.users.cache(), res.consultants.cache()

    setup = _connect(pg_port)
    cur = setup.cursor()
    ucols = ", ".join(
        f'"{f.name}" {_pg_type(f.dataType.simpleString())}' for f in users.schema.fields
    )
    ccols = ", ".join(
        f'"{f.name}" {_pg_type(f.dataType.simpleString())}'
        for f in consultants.schema.fields
    )
    cur.execute(f'CREATE TABLE pipe_users ({ucols}, UNIQUE ("email"))')
    cur.execute(f'CREATE TABLE pipe_consultants ({ccols}, UNIQUE ("user_id"))')
    setup.commit()
    setup.close()

    port = pg_port

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=port)

    for _replay in range(2):  # second pass must be a no-op (idempotent MERGE)
        dbapi_upsert(
            users, table="pipe_users", key_cols="email",
            connection_factory=factory, paramstyle="format",
        )
        dbapi_upsert(
            consultants, table="pipe_consultants", key_cols="user_id",
            connection_factory=factory, paramstyle="format",
        )

    check = _connect(pg_port)
    cur = check.cursor()
    cur.execute("SELECT count(*) FROM pipe_users")
    assert cur.fetchall() == [(str(users.count()),)]
    cur.execute("SELECT count(*) FROM pipe_consultants")
    assert cur.fetchall() == [(str(consultants.count()),)]
    # the duplicate-email row's later values won before the merge, and the
    # existing user bob@x.edu took the sheet's update in the database
    cur.execute("SELECT name FROM pipe_users WHERE email = %s", ("bob@x.edu",))
    assert cur.fetchall() == [("Bob Old",)]
    check.commit()
    check.close()
    users.unpersist()
    consultants.unpersist()


def test_streaming_foreach_batch_upsert_into_real_postgres(spark, pg_port):
    """Streaming face of the Postgres sink: an availableNow events stream
    lands micro-batches in the real server via the keyed upsert inside
    foreachBatch, matches the batch face row-for-row, and a from-scratch
    checkpoint replay (at-least-once delivery, idempotent MERGE) leaves
    the database unchanged."""
    import tempfile as tf

    from pyspark.sql import functions as F

    from ibc_spark.streaming.merge_sink import foreach_batch_db_upsert
    from ibc_spark.streaming.sources import batch_events, read_events_stream

    setup = _connect(pg_port)
    cur = setup.cursor()
    cur.execute(
        "CREATE TABLE ev_sink (event_id bigint PRIMARY KEY, user_id bigint, "
        "event_type text, value float8)"
    )
    setup.commit()
    setup.close()

    port = pg_port

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=port)

    cols = ["event_id", "user_id", "event_type", "value"]
    body = foreach_batch_db_upsert(
        table="ev_sink", key_cols="event_id", connection_factory=factory
    )
    for _replay in range(2):  # fresh checkpoint each pass = full replay
        with tf.TemporaryDirectory() as ckpt:
            stream = read_events_stream(spark, SF_SMOKE).select(*cols)
            q = (
                stream.writeStream.foreachBatch(body)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    expected = batch_events(spark, SF_SMOKE).select(*cols)
    n = expected.count()
    check = _connect(pg_port)
    cur = check.cursor()
    cur.execute("SELECT count(*) FROM ev_sink")
    assert cur.fetchall() == [(str(n),)]
    cur.execute("SELECT user_id, event_type FROM ev_sink WHERE event_id = %s", (1,))
    want = expected.where(F.col("event_id") == 1).collect()[0]
    assert cur.fetchall() == [(str(want["user_id"]), want["event_type"])]
    check.commit()
    check.close()


def test_pgwire_literal_escaping_round_trip(pg_port):
    """Adversarial literal round trip: quotes, doubled quotes, backslashes
    (standard_conforming_strings semantics), unicode, newlines, bytes, and
    NULL must come back intact; a NUL byte is rejected client-side."""
    from ibc_spark.io_.pgwire import PgWireError  # noqa: F401

    conn = _connect(pg_port)
    cur = conn.cursor()
    cur.execute("CREATE TABLE lit_t (id int PRIMARY KEY, v text, b bytea)")
    nasty = [
        "it's",
        "two''quotes",
        "back\\slash \\' trick",
        "unié中\U0001f600",
        "line1\nline2\ttab",
        "%s placeholder-looking",
        "",
    ]
    for i, s in enumerate(nasty):
        cur.execute("INSERT INTO lit_t VALUES (%s, %s, %s)", (i, s, s.encode()))
    cur.execute("INSERT INTO lit_t VALUES (%s, %s, %s)", (99, None, None))
    conn.commit()
    cur.execute("SELECT id, v FROM lit_t WHERE id < 90 ORDER BY id")
    got = [v for _, v in cur.fetchall()]
    assert got == nasty
    cur.execute("SELECT v, b FROM lit_t WHERE id = 99")
    assert cur.fetchall() == [(None, None)]
    # bytea round trip (hex wire format in, escape-decode out)
    cur.execute("SELECT encode(b, 'escape') FROM lit_t WHERE id = 0")
    assert cur.fetchall() == [("it's",)]
    conn.commit()
    conn.close()

    import pytest as _pytest

    conn = _connect(pg_port)
    cur = conn.cursor()
    with _pytest.raises(ValueError):
        cur.execute("SELECT %s", ("nul\x00byte",))
    conn.close()


def test_streaming_sheet_to_postgres_roster_capstone(spark, pg_port, tmp_path):
    """CAPSTONE: the full reference deployment as one streaming job —
    sheet stream in (`readStream.format("sheet")`), the E1 roster
    transforms inside foreachBatch with CURRENT sink state read back from
    Postgres (`pgwire_parallel_read`), merged states upserted into real
    Postgres. After the run: the new consultant exists, the existing user
    took the sheet's update, and the duplicate-email row collapsed
    last-write-wins — the reference's end state, produced by the Spark
    engine end to end."""
    import json

    from pyspark.sql import types as T

    from ibc_spark.io_.sheet_datasource import SheetDataSource
    from ibc_spark.io_.sinks import dbapi_upsert
    from ibc_spark.io_.sources import pgwire_parallel_read
    from ibc_spark.pipelines import staffing_roster
    from ibc_spark.schemas import CONSULTANTS_SCHEMA, USERS_SCHEMA
    from tests import fixtures

    def ddl(schema: T.StructType) -> str:
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)

    def pg_cols(schema: T.StructType) -> str:
        m = {"bigint": "bigint", "int": "integer", "boolean": "boolean", "string": "text"}
        return ", ".join(
            f'"{f.name}" {m[f.dataType.simpleString()]}' for f in schema.fields
        )

    setup = _connect(pg_port)
    cur = setup.cursor()
    cur.execute(f'CREATE TABLE cap_users ({pg_cols(USERS_SCHEMA)}, UNIQUE ("email"))')
    cur.execute(
        f'CREATE TABLE cap_consultants ({pg_cols(CONSULTANTS_SCHEMA)}, UNIQUE ("user_id"))'
    )
    setup.commit()
    setup.close()
    port = pg_port

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=port)

    # seed current state (the reference's existing Cloud SQL contents)
    dbapi_upsert(
        fixtures.users_state(spark), table="cap_users", key_cols="email",
        connection_factory=factory, paramstyle="format",
    )
    dbapi_upsert(
        fixtures.consultants_state(spark), table="cap_consultants", key_cols="user_id",
        connection_factory=factory, paramstyle="format",
    )

    sheet = tmp_path / "roster.json"
    sheet.write_text(json.dumps(fixtures.roster_rows()))
    spark.dataSource.register(SheetDataSource)
    url = f"file://{sheet}"
    sheet_schema = spark.read.format("sheet").option("url", url).load().schema

    def body(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        users = pgwire_parallel_read(
            spark, table="cap_users", schema=ddl(USERS_SCHEMA),
            partition_column="user_id", lower_bound=0, upper_bound=100000,
            num_partitions=2, port=port,
        )
        consultants = pgwire_parallel_read(
            spark, table="cap_consultants", schema=ddl(CONSULTANTS_SCHEMA),
            partition_column="user_id", lower_bound=0, upper_bound=100000,
            num_partitions=2, port=port,
        )
        res = staffing_roster.run(batch_df, users, consultants)
        dbapi_upsert(
            res.users, table="cap_users", key_cols="email",
            connection_factory=factory, paramstyle="format",
        )
        dbapi_upsert(
            res.consultants, table="cap_consultants", key_cols="user_id",
            connection_factory=factory, paramstyle="format",
        )

    q = (
        spark.readStream.format("sheet")
        .schema(sheet_schema)
        .option("url", url)
        .load()
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    check = _connect(pg_port)
    cur = check.cursor()
    cur.execute("SELECT count(*) FROM cap_users")
    assert cur.fetchall() == [("6",)]  # 5 seeded + alice
    cur.execute("SELECT name, curr_role FROM cap_users WHERE email = %s", ("bob@x.edu",))
    assert cur.fetchall() == [("Bob Old", "SM")]  # sheet update applied
    # duplicate-email row collapsed last-write-wins: alice took row 4's values
    cur.execute("SELECT name, curr_role FROM cap_users WHERE email = %s", ("alice@x.edu",))
    assert cur.fetchall() == [("Alice A2", "SC")]
    cur.execute("SELECT count(*) FROM cap_consultants")
    n_cons = int(cur.fetchall()[0][0])
    assert n_cons >= 5  # 4 seeded + alice (bob's row merged on user_id 100)
    check.commit()
    check.close()


def test_dbapi_upsert_unreachable_server_is_e004(spark):
    """A dead database must surface as the reference's E004
    (DatabaseConnectionError) through the Spark job failure — the
    connection_factory path, not a hang or a bare socket error."""
    from ibc_spark.io_.sinks import dbapi_upsert

    dead_port = _free_port()  # nothing listening

    def factory():
        from ibc_spark.io_.pgwire import connect

        return connect(port=dead_port)

    df = spark.createDataFrame([(1, "a")], "id int, v string").repartition(1)
    with pytest.raises(Exception) as exc:
        dbapi_upsert(
            df, table="t", key_cols="id", connection_factory=factory, paramstyle="format"
        )
    assert "E004" in str(exc.value)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _tasks_run(spark, action) -> int:
    """Tasks of every job ``action`` starts, from Spark's status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "task count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    )


def test_pgwire_parallel_read_types_nulls_empty_slice_and_plan(spark, pg_port):
    """Every cast of the read path round-trips — smallint, bigint, decimal
    exactly, date, timestamp with and without a zone offset, t/f boolean,
    NaN/Infinity floats, text — and a NULL in every column comes back NULL.
    A slice with no rows yields nothing, ``where=`` filters inside each
    slice, and the read is Range -> MapInArrow: no shuffle, no Python-RDD
    scan, exactly ``num_partitions`` tasks."""
    import calendar
    import datetime as dt
    import decimal

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from ibc_spark.io_.sources import pgwire_parallel_read

    setup = _connect(pg_port)
    cur = setup.cursor()
    cur.execute(
        "CREATE TABLE typed_src (id int PRIMARY KEY, s smallint, big bigint,"
        " n numeric(10,2), d date, ts timestamp, tz timestamptz, b boolean,"
        " f float8, r real, t text)"
    )
    # ids 0-5 and 30-34: the [10, 20) and [20, 30) slices hold no rows
    for i in list(range(6)) + list(range(30, 35)):
        cur.execute(
            "INSERT INTO typed_src VALUES (%s, %s, %s, %s, %s, %s, %s, %s, %s, %s, %s)",
            (i, -32768 + i, 2**40 + i, f"{i}.{i:02d}", f"2026-03-{i % 28 + 1:02d}",
             f"2026-03-01 12:34:56.{i:06d}", f"2026-03-01 12:34:56+0{i % 3}",
             i % 2 == 0, float(i) / 8, float(i) / 4, f"row {i}"),
        )
    cur.execute("INSERT INTO typed_src (id) VALUES (%s)", (7,))  # NULL everywhere
    cur.execute("UPDATE typed_src SET f = 'Infinity', r = 'NaN' WHERE id = 1")
    setup.commit()
    setup.close()

    ddl = ("id int, s smallint, big long, n decimal(10,2), d date, ts timestamp,"
           " tz timestamp, b boolean, f double, r float, t string")
    df = pgwire_parallel_read(
        spark, table="typed_src", schema=ddl, partition_column="id",
        lower_bound=0, upper_bound=39, num_partitions=4, port=pg_port,
    )
    assert df.schema == StructType.fromDDL(ddl)
    got = {
        r["id"]: r
        for r in df.select(
            "*",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_text"),
            F.unix_micros("tz").alias("tz_us"),
        ).collect()
    }
    assert sorted(got) == [0, 1, 2, 3, 4, 5, 7, 30, 31, 32, 33, 34]
    for i in [0, 1, 2, 3, 4, 5, 30, 31, 32, 33, 34]:
        r = got[i]
        assert r["s"] == -32768 + i and r["big"] == 2**40 + i
        assert r["n"] == decimal.Decimal(f"{i}.{i:02d}")
        assert r["d"] == dt.date(2026, 3, i % 28 + 1)
        # a zone-less timestamp is read in the session time zone
        assert r["ts_text"] == f"2026-03-01 12:34:56.{i:06d}"
        instant = calendar.timegm((2026, 3, 1, 12 - i % 3, 34, 56))
        assert r["tz_us"] == instant * 1_000_000
        assert r["b"] is (i % 2 == 0) and r["t"] == f"row {i}"
        if i != 1:
            assert (r["f"], r["r"]) == (i / 8, i / 4)
    assert got[1]["f"] == float("inf") and got[1]["r"] != got[1]["r"]
    nulls = got[7].asDict()
    assert all(v is None for k, v in nulls.items() if k != "id"), nulls

    plan = _executed_plan(df)
    assert "MapInArrow" in plan and "Range" in plan, plan
    assert "Exchange" not in plan and "ExistingRDD" not in plan, plan
    assert _tasks_run(spark, df.collect) == 4

    filtered = pgwire_parallel_read(
        spark, table="typed_src", schema="id int, t string", partition_column="id",
        lower_bound=0, upper_bound=39, num_partitions=4, port=pg_port,
        where="b AND t <> 'row 4'",
    )
    assert sorted(r["id"] for r in filtered.collect()) == [0, 2, 30, 32, 34]


def test_pgwire_large_result_spans_recv_chunks(pg_port):
    """~5k rows of ~200 B each (about 1 MB over many 64 KiB recv chunks,
    messages split across chunk edges) come back exactly."""
    import hashlib

    conn = _connect(pg_port)
    cur = conn.cursor()
    cur.execute(
        "SELECT i, repeat(md5(i::text), 6) FROM generate_series(1, 5000) AS i"
    )
    rows = cur.fetchall()
    conn.commit()
    conn.close()
    assert rows == [
        (str(i), hashlib.md5(str(i).encode()).hexdigest() * 6) for i in range(1, 5001)
    ]


def test_pgwire_read_exact_across_small_recv_chunks():
    """Frames cut at every byte boundary reassemble exactly: the buffer is
    read by offset and compacted only when more bytes are needed."""
    import struct

    from ibc_spark.io_.pgwire import PgWireConnection

    frames = [
        (b"D", struct.pack("!h", 1) + struct.pack("!i", n) + b"x" * n)
        for n in (0, 1, 5, 300, 70_000)
    ]
    wire = b"".join(t + struct.pack("!i", 4 + len(p)) + p for t, p in frames)

    class ChunkedSocket:
        def __init__(self, data: bytes, size: int):
            self.data, self.size = data, size

        def recv(self, _n: int) -> bytes:
            out, self.data = self.data[: self.size], self.data[self.size :]
            return out

    for size in (1, 3, 7, 4096, 65536):
        conn = PgWireConnection.__new__(PgWireConnection)
        conn._sock = ChunkedSocket(wire, size)
        conn._buf, conn._pos = bytearray(), 0
        assert [conn._read_msg() for _ in frames] == frames
        with pytest.raises(ConnectionError):
            conn._read_msg()


def _counting_factory(port: int, acc):
    """Wire-client factory adding one to ``acc`` per statement sent."""

    def factory():
        from ibc_spark.io_.pgwire import connect

        conn = connect(port=port)
        run_one = conn._run_one

        def counted(sql):
            acc.add(1)
            return run_one(sql)

        conn._run_one = counted
        return conn

    return factory


def _bisect_vs_one_row_at_a_time(spark, port, rows, ddl, *, batch_size):
    """Run ``dbapi_upsert`` and the one-row-at-a-time reference into fresh
    copies of ``bis_t``; return each run's (table, quarantine, statements)."""
    from ibc_spark.io_.sinks import dbapi_upsert

    from .test_db_sink import upsert_one_row_at_a_time

    cols = ["id", "email", "v", "name"]
    out = []
    for run in ("bisect", "reference"):
        conn = _connect(port)
        cur = conn.cursor()
        cur.execute("DROP TABLE IF EXISTS bis_t")
        cur.execute("DROP TABLE IF EXISTS bis_q")
        cur.execute(f"CREATE TABLE bis_t ({ddl})")
        cur.execute(
            "CREATE TABLE bis_q (seq serial, error_code text, reason text, source_row text)"
        )
        cur.execute("INSERT INTO bis_t VALUES (%s, %s, %s, %s)", (1, "a@x.edu", 0, "A0"))
        conn.commit()
        conn.close()
        acc = spark.sparkContext.accumulator(0)
        factory = _counting_factory(port, acc)
        if run == "bisect":
            df = spark.createDataFrame(
                rows, "id int, email string, v int, name string"
            ).coalesce(1)
            dbapi_upsert(
                df, table="bis_t", key_cols="id", connection_factory=factory,
                paramstyle="format", quarantine_table="bis_q", batch_size=batch_size,
            )
        else:
            ref = factory()
            upsert_one_row_at_a_time(
                ref, "bis_t", cols, ["id"], rows, "bis_q", paramstyle="format"
            )
            ref.close()
        conn = _connect(port)
        cur = conn.cursor()
        cur.execute("SELECT * FROM bis_t ORDER BY id")
        table = cur.fetchall()
        cur.execute("SELECT error_code, reason, source_row FROM bis_q ORDER BY seq")
        out.append((table, cur.fetchall(), acc.value))
        conn.commit()
        conn.close()
    return out


def test_dbapi_upsert_bisecting_retry_matches_one_row_at_a_time(spark, pg_port):
    """Against the real server, the bisecting retry lands exactly the table
    and quarantine rows (order and SQLSTATE reasons included) of retrying
    every row alone: CHECK and NOT NULL offenders, a key repeated inside one
    batch, and two new rows conflicting on the UNIQUE email."""
    import json

    rows = [
        (1, "a@x.edu", 5, "A1"), (2, "b@x.edu", -1, "B"), (3, "c@x.edu", 3, "C"),
        (3, "c@x.edu", 4, "C2"), (4, "d@x.edu", 1, "D"), (5, "d@x.edu", 2, "E"),
        (6, "f@x.edu", 1, None), (7, "g@x.edu", 7, "G"), (8, "h@x.edu", 8, "H"),
        (3, "c@x.edu", -1, "C3"), (9, "i@x.edu", 9, "I"), (10, "j@x.edu", -5, "J"),
        (11, "k@x.edu", 1, "K"), (12, "k@x.edu", 2, "L"), (13, "m@x.edu", 3, "M"),
    ]
    ddl = ("id int PRIMARY KEY, email text UNIQUE, v int CHECK (v >= 0),"
           " name text NOT NULL")
    (table, quarantine, _), reference = _bisect_vs_one_row_at_a_time(
        spark, pg_port, rows, ddl, batch_size=8
    )
    assert (table, quarantine) == reference[:2]
    assert [r[0] for r in table] == ["1", "3", "4", "7", "8", "9", "11", "13"]
    assert [json.loads(q[2])["id"] for q in quarantine] == [2, 5, 6, 3, 10, 12]
    assert {q[1][1:6] for q in quarantine} == {"23514", "23505", "23502"}


def test_dbapi_upsert_bisecting_retry_sends_few_statements(spark, pg_port):
    """One CHECK offender in a 256-row batch costs about log2(256) retried
    chunks, not 256 retried rows: the bisecting retry sends at most three
    quarters of the one-row-at-a-time statements for the same outcome."""
    rows = [(i, f"u{i}@x.edu", -1 if i == 200 else i, f"n{i}") for i in range(2, 258)]
    ddl = "id int PRIMARY KEY, email text UNIQUE, v int CHECK (v >= 0), name text"
    (table, quarantine, sent), (ref_table, ref_quarantine, ref_sent) = (
        _bisect_vs_one_row_at_a_time(spark, pg_port, rows, ddl, batch_size=256)
    )
    assert (table, quarantine) == (ref_table, ref_quarantine)
    assert len(table) == 256 and len(quarantine) == 1
    assert sent <= ref_sent * 3 // 4, (sent, ref_sent)
