"""Sinks K1–K9: upsert/merge semantics, appends, overwrites, quarantine.

The reference writes row-at-a-time INSERT/UPDATE with RETURNING keys and a
pg unique-violation handler (``staffing-roster-pipeline.py:128-224``,
``projects-pipeline.py:271-335``). The engine expresses every upsert as a
set-based MERGE. Two layers:

- :func:`merge_upsert` — the *dataset semantics* of MERGE (new-over-old by
  key) as a pure DataFrame expression. Oracle-able as SQL; also the
  ``foreachBatch`` body for streaming sinks.
- writers — Parquet append/overwrite for materialization. On a lakehouse
  deployment the same dataset op becomes ``MERGE INTO`` (Delta/Iceberg); on
  JDBC it becomes a keyed batch upsert with ``batchsize`` — both preserve
  these semantics. Constraint violations are quarantine rows (E001), never
  exceptions (``23505 → DataConflictError`` at
  ``staffing-roster-pipeline.py:146-151``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ibc_spark.ops.validate import E_DATA_CONFLICT


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str | list[str],
    update_cols: list[str] | None = None,
) -> DataFrame:
    """K1/K3/K4/K5 — MERGE result state: matched old rows take ``new``'s
    values for ``update_cols`` (all non-key columns by default); unmatched
    new rows are inserted; unmatched old rows pass through.

    One shuffle on the key (or zero if ``new`` is broadcast-small — Catalyst
    decides). The reference's exclude-the-match-key rule
    (``staffing-roster-pipeline.py:170-174``) falls out naturally: the key
    is the join column.
    """
    keys = [key] if isinstance(key, str) else list(key)
    update_cols = update_cols or [c for c in new.columns if c not in keys]
    passthrough = [c for c in old.columns if c not in keys]

    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__new_{c}") for c in update_cols],
    )
    merged = old.join(n, on=keys, how="full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in passthrough:
        if c in update_cols:
            out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return merged.select(*out_cols)


def dedup_for_merge(new: DataFrame, *, key: str | list[str], order_col: str) -> DataFrame:
    """Pre-MERGE duplicate suppression: keep the LAST row per key in ingest
    order — the sequential loop's implicit behavior when a sheet repeats a
    key (second occurrence hits the update path,
    ``staffing-roster-pipeline.py:275-279``)."""
    from ibc_spark.ops.mutate import last_write_wins

    return last_write_wins(new, key=key, order_col=order_col)


def conflict_quarantine(new: DataFrame, *, key: str | list[str], order_col: str) -> DataFrame:
    """Rows that would violate the unique key (all but the surviving row per
    key) as E001 quarantine rows — engine replacement for the pg 23505
    handler (``staffing-roster-pipeline.py:146-151``)."""
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    losers = (
        new.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") > 1).drop("__rn")
    )
    return losers.select(
        F.to_json(F.struct(*new.columns)).alias("source_row"),
        F.lit(E_DATA_CONFLICT).alias("error_code"),
        F.concat(
            F.lit("duplicate key: "), F.concat_ws("|", *[F.col(k) for k in keys])
        ).alias("reason"),
    )


def _quote_ident(name: str) -> str:
    """ANSI double-quoted identifier (SQLite/Postgres), embedded quotes
    doubled — sheet-derived column names are routinely reserved words
    (``order``, ``user``) or mixed-case."""
    return '"' + name.replace('"', '""') + '"'


def upsert_sql(
    table: str,
    cols: list[str],
    key_cols: list[str],
    *,
    paramstyle: str = "qmark",
) -> str:
    """Dialect-portable keyed upsert statement:
    ``INSERT … ON CONFLICT (key) DO UPDATE SET c = excluded.c`` — the
    SQLite/Postgres form of the reference's insert-else-update pair
    (``staffing-roster-pipeline.py:128-224``), but set-based per batch.
    ``paramstyle``: ``qmark`` (sqlite3) or ``format`` (pg8000/psycopg).
    All identifiers are ANSI-quoted."""
    ph = "?" if paramstyle == "qmark" else "%s"
    update_cols = [c for c in cols if c not in key_cols]
    q = _quote_ident
    sql = (
        f"INSERT INTO {q(table)} ({', '.join(q(c) for c in cols)}) "
        f"VALUES ({', '.join([ph] * len(cols))}) "
        f"ON CONFLICT ({', '.join(q(c) for c in key_cols)})"
    )
    if update_cols:
        sets = ", ".join(f"{q(c)} = excluded.{q(c)}" for c in update_cols)
        return f"{sql} DO UPDATE SET {sets}"
    return f"{sql} DO NOTHING"


def dbapi_upsert(
    df: DataFrame,
    *,
    table: str,
    key_cols: str | list[str],
    connection_factory,
    batch_size: int = 500,
    paramstyle: str = "qmark",
    quarantine_table: str | None = None,
    savepoints: bool = True,
) -> None:
    """Executor-parallel keyed upsert into any DB-API database — the engine's
    WRITE face of the reference's Postgres sink (K1–K5,
    ``staffing-roster-pipeline.py:128-224``, ``projects-pipeline.py:271-335``),
    replacing its per-row driver loop with one connection per PARTITION and
    ``executemany`` batches of ``batch_size``.

    ``connection_factory`` is a zero-arg picklable callable returning a DB-API
    connection — it runs on the EXECUTOR, so credentials/config must be
    baked into it (same contract as ``foreachBatch`` JDBC writers). Rows that
    still violate a constraint inside a batch (NOT NULL, CHECK, FK …) are
    found by bisecting the failing batch — each half retried under its own
    savepoint, left to right, down to single rows — so the final table and
    quarantine match a row-at-a-time retry, while one offender costs about
    ``log2(batch_size)`` retried chunks instead of ``batch_size`` retried
    rows; rows that fail on their own are written to
    ``quarantine_table`` ``(error_code, reason, source_row)`` as E001 —
    quarantine-as-data, never a failed job — or re-raised as
    ``DataConflictError`` when no quarantine table is configured.

    Scale posture: parallelism = partition count (``df.repartition(n)`` to
    match the database's write headroom); each task holds one transaction,
    committing at partition end. A task retry replays its whole partition:
    the keyed upsert rows are idempotent under replay, but quarantine rows
    are plain un-keyed INSERTs and therefore **at-least-once** — a retry
    after commit (or speculative execution) can duplicate them. Dedupe
    downstream on a hash of ``source_row`` if exactly-once quarantine
    accounting matters, or add a unique index on the quarantine table.

    ``savepoints`` guards the batch and each bisected retry with
    SAVEPOINT/ROLLBACK TO — required on engines (Postgres) where any
    statement error aborts the enclosing transaction, making a plain
    retry impossible; SQLite accepts the same syntax. Disable
    only for DB-API targets without savepoint support.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = list(df.columns)
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key columns {missing} not in frame columns {cols}")
    sql = upsert_sql(table, cols, keys, paramstyle=paramstyle)
    q_ph = "?" if paramstyle == "qmark" else "%s"
    q_sql = (
        f"INSERT INTO {_quote_ident(quarantine_table)} "
        f"(error_code, reason, source_row) VALUES ({q_ph}, {q_ph}, {q_ph})"
        if quarantine_table
        else None
    )

    def write_partition(rows) -> None:
        import json

        from ibc_spark.errors import DataConflictError, DatabaseConnectionError

        it = iter(rows)
        first = next(it, None)
        if first is None:
            return
        try:
            conn = connection_factory()
        except Exception as e:
            raise DatabaseConnectionError(f"Database connection failed: {e}") from e
        try:
            cur = conn.cursor()
            batch: list[tuple] = []

            def attempt(chunk: list[tuple]) -> Exception | None:
                if savepoints:
                    cur.execute("SAVEPOINT ibc_flush")
                try:
                    cur.executemany(sql, chunk)
                except Exception as err:
                    # on engines that abort the transaction on error
                    # (Postgres) the savepoint rollback is what makes the
                    # retry legal
                    if savepoints:
                        cur.execute("ROLLBACK TO SAVEPOINT ibc_flush")
                    return err
                if savepoints:
                    cur.execute("RELEASE SAVEPOINT ibc_flush")
                return None

            def write(chunk: list[tuple], known_bad: bool = False) -> bool:
                # True when every row of ``chunk`` landed. A failing chunk
                # is rolled back and bisected, halves left to right, so only
                # a row that fails on its own is quarantined: the same final
                # state as retrying each row alone. When the left half of a
                # failing chunk lands whole, the offender is in the right
                # half, which is then split without being tried whole.
                if not known_bad or len(chunk) == 1:
                    err = attempt(chunk)
                    if err is None:
                        return True
                    if len(chunk) == 1:
                        if q_sql is None:
                            raise DataConflictError(
                                f"constraint violation writing {table}: {err}"
                            ) from err
                        payload = json.dumps(dict(zip(cols, chunk[0])), default=str)
                        cur.execute(q_sql, (E_DATA_CONFLICT, str(err), payload))
                        return False
                mid = len(chunk) // 2
                left_ok = write(chunk[:mid])
                write(chunk[mid:], known_bad=left_ok)
                return False

            def flush() -> None:
                if batch:
                    write(batch)
                batch.clear()

            import itertools

            for row in itertools.chain([first], it):
                batch.append(tuple(row[c] for c in cols))
                if len(batch) >= batch_size:
                    flush()
            flush()
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.foreachPartition(write_partition)


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batchsize: int = 1000,
    isolation_level: str = "READ_COMMITTED",
    properties: dict[str, str] | None = None,
):
    """Plain JDBC append/overwrite writer (no upsert — use
    :func:`dbapi_upsert` for keyed merges): configures
    ``df.write.format('jdbc')`` with ``batchsize`` and
    ``isolationLevel`` per SURVEY §2.8. Returns the configured writer
    (call ``.save()``) so tests can exercise configuration without a
    JDBC driver on the classpath."""
    writer = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", isolation_level)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    return writer


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Materialize. ``partition_by`` = on-disk partition pruning for later
    reads; at 100 TB choose low-cardinality columns (date, region)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def job_metrics(**counts: int) -> str:
    """K8 — the reference's stdout summary JSON
    (``staffing-roster-pipeline.py:303-304``)."""
    import json

    return json.dumps(counts)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_file_mb: int = 256,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_mb`` files (the steady-state maintenance job every
    large ingest needs — thousands of tiny files destroy scan throughput
    and NameNode/listing latency at 100 TB).

    File count is derived from the actual on-disk byte size, not row
    counts; ``sort_within_by`` optionally sorts within partitions so
    min/max page stats become selective for later scans. Returns the
    number of output files."""
    import math

    df = spark.read.parquet(src_path)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(spark._jsc.hadoopConfiguration())
    statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(src_path))
    total_bytes = (
        sum(
            s.getLen()
            for s in statuses
            if s.getPath().getName().endswith(".parquet")
        )
        or 1
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst_path)
    return n_files


def write_orc(
    df,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — columnar alternative to parquet for Hive-compatible
    consumers; same partitioning guidance as ``write_parquet``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_xml(
    df,
    path: str,
    *,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (native in Spark 4, SPARK-44265) — interop with the
    XML-feed consumers sheet-era systems often front. One element per row;
    pair with :func:`ibc_spark.io_.sources.read_xml`."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )
