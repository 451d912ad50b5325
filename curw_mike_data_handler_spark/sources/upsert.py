"""Keyed upsert sinks (SURVEY §2.1 S8-S10, §4.2-3).

The reference upserts forecast rows into MySQL with
``INSERT … ON DUPLICATE KEY UPDATE`` on PK (tms_id, time, fgt)
(outputs/extract_water_level.py:96) and maintains a run-header table
(insert_run / update_start_date / update_latest_fgt, wl_x:88-97).

Three sinks:

* ``ParquetMergeTable`` — lakehouse-style MERGE emulation over plain
  parquet (no Delta in this container), copy-on-write at file
  granularity: one scan finds the files that hold a batch key, and
  only those are rewritten (``touched ▷ batch keys ∪ batch``); a batch
  of new keys is a plain append, and a batch already stored writes
  nothing, so re-applying the same batch is a fixpoint.  At 100 TB
  you'd use Delta/Iceberg ``MERGE INTO`` with the same key contract.
* ``jdbc_upsert_partition`` — MySQL parity path: batched
  ``INSERT … ON DUPLICATE KEY UPDATE`` from ``foreachPartition``
  (Spark's JDBC writer has no upsert mode).  Gated behind an
  import-try since no pymysql driver ships in this container.
* ``jdbc_stage_and_merge`` — the warehouse-standard bulk upsert for
  engines with real MERGE (Derby/Oracle/DB2/SQL Server): distributed
  staging write through Spark's actual JDBC writer, then ONE
  server-side ANSI MERGE.  Exercised live against in-JVM Derby
  (tests/test_jdbc_derby.py), including as a streaming foreachBatch
  sink (streaming/file_watch.jdbc_merge_sink).
"""

from __future__ import annotations

import operator
import os
from collections.abc import Sequence
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ParquetMergeTable:
    """A keyed parquet table with MERGE (upsert) writes.

    Last-writer-wins on the key: new rows replace existing rows with
    the same key tuple; other rows are preserved.  Keys compare
    null-safe, as ``dropDuplicates`` does.

    The table is a flat directory of ``*.parquet`` files.  A merge
    rewrites only the files that hold a key of the batch
    (copy-on-write, as Delta Lake's MERGE does):

    1. dedup the batch on the key and persist it;
    2. one scan of the table, broadcast-joined to the batch and tagged
       with each row's file, finds the touched files and counts the
       batch rows already stored with null-safe-equal values;
    3. if that count covers the whole batch, nothing is written (the
       MERGE fixpoint); otherwise ``(touched files ▷ batch keys) ∪
       batch`` is written once to a staging directory, its files are
       moved into the table and the touched files are deleted.

    A batch of new keys touches no file and becomes a plain append of
    about one file, so an appended-to table gains a file per batch;
    ``sources.maintenance.compact_partition`` is the job that compacts
    them.

    The commit is not atomic.  Between moving the new files in and
    deleting the touched ones, a reader sees the touched rows twice,
    and a crash there leaves both versions; an append is visible file
    by file.
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: Sequence[str],
                 schema: StructType):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.schema = schema

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def merge(self, updates: DataFrame) -> None:
        """MERGE ``updates`` into the table, rewriting only the files
        that hold one of its keys.

        Within-batch duplicate keys keep an arbitrary single row
        (mirrors sequential upsert where the last statement wins)."""
        # one partition: the batch is broadcast to the probe anyway, and
        # an append then adds one file
        batch = (
            updates.dropDuplicates(self.key_cols)
            .select([F.col(f.name).cast(f.dataType) for f in self.schema])
            .coalesce(1)
            .persist()
        )
        try:
            n_batch = batch.count()
            if n_batch == 0:
                return
            touched, n_stored = self._probe(batch) if self._files() else ([], 0)
            if n_stored == n_batch:
                return
            out = batch
            if touched:
                keys = batch.select([F.col(k).alias(f"__b_{k}") for k in self.key_cols])
                survivors = (
                    self.spark.read.schema(self.schema).parquet(*touched)
                    .join(F.broadcast(keys), _null_safe_eq(self.key_cols), "left_anti")
                )
                out = survivors.unionByName(batch)
            self._commit(out, replaced=touched)
        finally:
            batch.unpersist()

    def overwrite(self, df: DataFrame) -> None:
        """Replace the whole table with ``df`` through the same staging
        commit as ``merge``.  ``df`` may read the table itself."""
        self._commit(df.select([F.col(f.name).cast(f.dataType) for f in self.schema]),
                     replaced=self._files())

    def _files(self) -> list[str]:
        if not os.path.isdir(self.path):
            return []
        return [os.path.join(self.path, f) for f in os.listdir(self.path)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]

    def _probe(self, batch: DataFrame) -> tuple[list[str], int]:
        """(files holding a batch key, batch rows stored with equal
        values): one scan of the table against the broadcast batch."""
        values = [c for c in self.schema.fieldNames() if c not in self.key_cols]
        tagged = batch.select([F.col(c).alias(f"__b_{c}") for c in batch.columns])
        same = _null_safe_eq(values) if values else F.lit(True)
        rows = (
            self.spark.read.schema(self.schema).parquet(self.path)
            .withColumn("__file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
            .join(F.broadcast(tagged), _null_safe_eq(self.key_cols), "inner")
            .groupBy("__file")
            .agg(F.sum(same.cast("long")).alias("__same"))
            .collect()
        )
        touched = [os.path.join(self.path, unquote(r["__file"])) for r in rows]
        return touched, sum(r["__same"] for r in rows)

    def _commit(self, out: DataFrame, replaced: Sequence[str]) -> None:
        """Write ``out`` to a staging directory, move its files into the
        table, then delete ``replaced`` (see the class docstring on the
        non-atomic window)."""
        staging = self.path + "__staging"
        _rm_dir(staging)
        out.write.parquet(staging)
        os.makedirs(self.path, exist_ok=True)
        for name in os.listdir(staging):  # data files and their checksums
            if name.endswith((".parquet", ".parquet.crc")):
                os.replace(os.path.join(staging, name), os.path.join(self.path, name))
        for path in replaced:
            head, name = os.path.split(path)
            for f in (path, os.path.join(head, f".{name}.crc")):
                if os.path.exists(f):
                    os.remove(f)
        _rm_dir(staging)


def _null_safe_eq(cols: Sequence[str]):
    """Each of ``cols`` equals its ``__b_``-prefixed batch twin, NULL
    matching NULL."""
    return reduce(operator.and_, [F.col(c).eqNullSafe(F.col(f"__b_{c}")) for c in cols])


def _rm_dir(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def latest_fgt_view(data: DataFrame, key: str = "tms_id", fgt_col: str = "fgt") -> DataFrame:
    """'Latest fgt wins' read semantics (wl_x:97 update_latest_fgt):
    keep only rows from each series' newest forecast-generated-time."""
    w = Window.partitionBy(key)
    return (
        data.withColumn("__max_fgt", F.max(fgt_col).over(w))
        .filter(F.col(fgt_col) == F.col("__max_fgt"))
        .drop("__max_fgt")
    )


def upsert_statement(table: str, columns: Sequence[str], key_cols: Sequence[str],
                     dialect: str = "mysql") -> str:
    """The keyed-upsert statement for one DB dialect.

    * ``"mysql"`` — ``INSERT … ON DUPLICATE KEY UPDATE c=VALUES(c)``
      with ``%s`` placeholders (pymysql paramstyle), byte-for-byte the
      reference's statement (wl_x:96).
    * ``"duckdb"`` — standard-SQL ``INSERT … ON CONFLICT (keys) DO
      UPDATE SET c=excluded.c`` with ``?`` placeholders (qmark
      paramstyle) — the same contract on an engine that actually runs
      in this container, so the execution path is integration-testable
      against a live cursor.
    """
    non_keys = [c for c in columns if c not in key_cols]
    if dialect == "mysql":
        placeholders = ",".join(["%s"] * len(columns))
        updates = ",".join(f"{c}=VALUES({c})" for c in non_keys)
        return (
            f"INSERT INTO {table} ({','.join(columns)}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect == "duckdb":
        placeholders = ",".join(["?"] * len(columns))
        updates = ",".join(f"{c}=excluded.{c}" for c in non_keys)
        return (
            f"INSERT INTO {table} ({','.join(columns)}) VALUES ({placeholders}) "
            f"ON CONFLICT ({','.join(key_cols)}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unknown upsert dialect: {dialect!r}")


def jdbc_upsert_partition(rows, *, table: str, columns: Sequence[str],
                          key_cols: Sequence[str], url: str | None = None,
                          batch_size: int = 1000, connection_factory=None,
                          dialect: str = "mysql"):
    """foreachPartition body: MySQL ``INSERT … ON DUPLICATE KEY UPDATE``
    parity with wl_x:96.

    ``connection_factory`` is any zero-arg callable returning a DB-API
    connection — injected so the statement generation, batching and
    idempotence contract are unit-testable without a live server, and
    so the whole path can run for real against DuckDB
    (``dialect="duckdb"``); the default builds a pymysql connection
    from ``url`` (requires the driver at runtime)."""
    if connection_factory is None:
        if url is None:
            raise ValueError("url required when no connection_factory is given")
        try:
            import pymysql  # noqa: F401
        except ImportError as exc:  # pragma: no cover - no driver in container
            raise NotImplementedError("pymysql not available in this environment") from exc
        conn_kwargs = _parse_mysql_url(url)  # pragma: no cover - live MySQL only

        def connection_factory():  # pragma: no cover
            return pymysql.connect(**conn_kwargs)

    sql = upsert_statement(table, columns, key_cols, dialect)
    conn = connection_factory()
    try:
        with conn.cursor() as cur:
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    batch = []
            if batch:
                cur.executemany(sql, batch)
        conn.commit()
    finally:
        conn.close()


def merge_from_staging_statement(
    table: str,
    staging: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    quote: str = '"',
) -> str:
    """ANSI ``MERGE INTO target USING staging`` — the server-side half
    of the stage-and-merge bulk-upsert pattern (Derby, Oracle, DB2,
    SQL Server; MySQL callers use ``upsert_statement`` instead since
    MySQL lacks MERGE).  Column identifiers are quoted (default ``"``)
    because Spark's JDBC writer creates case-preserved quoted columns —
    an unquoted reference would fold to uppercase on Derby and miss."""
    q = lambda c: f"{quote}{c}{quote}"  # noqa: E731
    non_keys = [c for c in columns if c not in key_cols]
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
    set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
    cols = ", ".join(q(c) for c in columns)
    vals = ", ".join(f"s.{q(c)}" for c in columns)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def jdbc_stage_and_merge(
    updates: DataFrame,
    *,
    url: str,
    table: str,
    staging: str,
    key_cols: Sequence[str],
    driver: str | None = None,
) -> int:
    """Bulk keyed upsert into a JDBC RDBMS, the warehouse-standard
    two-step: (1) the DISTRIBUTED data movement — Spark's real JDBC
    writer overwrites the staging table from every partition in
    parallel; (2) ONE server-side ``MERGE`` from staging into the
    target, issued over a driver-side JDBC connection (one statement,
    no rows through the driver).  Idempotent: re-applying the same
    staged batch is a fixpoint, the reference's S8 upsert contract
    (extract_water_level.py:96) on engines with real MERGE.

    Within-batch duplicate keys keep one arbitrary row first (ANSI
    MERGE rejects a target row matched by two source rows).  Returns
    the server-reported merged-row count."""
    spark = updates.sparkSession
    w = updates.dropDuplicates(list(key_cols)).write.format("jdbc").option(
        "url", url
    ).option("dbtable", staging)
    if driver:
        w = w.option("driver", driver)
    w.mode("overwrite").save()
    sql = merge_from_staging_statement(table, staging, updates.columns, key_cols)
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        n = st.executeUpdate(sql)
        conn.commit()
        st.close()
        return n
    finally:
        conn.close()


def _parse_mysql_url(url: str) -> dict:  # pragma: no cover
    from urllib.parse import urlparse

    u = urlparse(url)
    return {
        "host": u.hostname,
        "port": u.port or 3306,
        "user": u.username,
        "password": u.password,
        "database": u.path.lstrip("/"),
    }
