"""Sink + state-store seam for the resumable extraction runner.

SURVEY §4 item 4 plans the state/output tables as Iceberg; this sandbox
has no Iceberg runtime on the classpath, so the shipped implementation is
Parquet — but every guarantee the runner relies on is expressed through
the two interfaces below, and the Iceberg classes are drop-ins (construct
them with a catalog table name instead of a path and pass them to
``ExtractRunner``). Nothing in the runner knows which one it got.

Guarantee-by-guarantee mapping (Parquet stand-in → Iceberg):

===============================  ===================================  =================================
guarantee                        ParquetSpanSink / ParquetStateStore  IcebergSpanSink / IcebergStateStore
===============================  ===================================  =================================
idempotent per-bucket re-run     dynamic partition overwrite: a       ``df.writeTo(t).overwritePartitions()``
(a retried group replaces        rerun replaces exactly the bucket=k  — replaces exactly the partitions
exactly its own output)          directories present in its output    present in df, one atomic snapshot
                                                                      commit (bucket partition ≡ the
                                                                      implicit MERGE key)
assembly full rewrite            static overwrite of the whole        ``df.writeTo(t).createOrReplace()``
                                 output directory                     (atomic table replacement)
stale-snapshot isolation         every intermediate row is tagged     the same snapshot-key column works
(rows from a prior input can     with snapshot_key(input_snapshot);   unchanged; natively it maps to
never leak into the output)      metrics + assembly FILTER on it      reading a pinned snapshot-id /
                                                                      ``VERSION AS OF`` predicate
exactly-once state commit        append-only log; duplicate rows      ``MERGE INTO state ON
(per (snapshot, bucket))         are tolerated because resume asks    (input_snapshot, partition_id)
                                 only for EXISTENCE per snapshot      WHEN NOT MATCHED THEN INSERT`` —
                                                                      duplicates impossible at commit
commit atomicity                 directory-level, best-effort (the    every write above is one atomic
                                 snapshot filter makes partial        snapshot commit with serializable
                                 writes harmless, not invisible)      isolation
===============================  ===================================  =================================
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATE_SCHEMA = (
    "run_id string, partition_id int, doc_id_min string, doc_id_max string, "
    "input_snapshot string, docs_done long, glyph_count long, error_count long, "
    "wall_ms long, attempt int, committed_at timestamp"
)


class SpanSink(ABC):
    """Partitioned span-table sink (intermediate OCR output / final spans)."""

    @abstractmethod
    def overwrite_partitions(self, df: DataFrame, partition_col: str) -> None:
        """Idempotently replace exactly the ``partition_col`` partitions
        present in ``df``; partitions the frame does not touch survive."""

    @abstractmethod
    def overwrite_all(self, df: DataFrame, partition_col: str) -> None:
        """Replace the entire table with ``df`` (assembly stage)."""

    @abstractmethod
    def read(self, schema: str | None = None) -> DataFrame:
        """Read the sink back; ``schema`` makes an empty/absent sink read
        as an empty frame instead of a schema-inference error."""


class StateStore(ABC):
    """Per-(snapshot, bucket) commit log with lineage + metrics."""

    @abstractmethod
    def read(self) -> DataFrame: ...

    @abstractmethod
    def append(self, rows: list[dict]) -> None: ...

    def completed_buckets(self, input_snapshot: str) -> set[int]:
        df = self.read().filter(F.col("input_snapshot") == input_snapshot)
        return {r.partition_id for r in df.select("partition_id").distinct().collect()}

    def attempts(self, input_snapshot: str) -> int:
        df = self.read().filter(F.col("input_snapshot") == input_snapshot)
        row = df.agg(F.max("attempt")).collect()[0]
        return int(row[0]) if row[0] is not None else 0


# ---------------------------------------------------------------------------
# Parquet implementations (this sandbox's runtime)
# ---------------------------------------------------------------------------


class ParquetSpanSink(SpanSink):
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def overwrite_partitions(self, df: DataFrame, partition_col: str) -> None:
        # per-write dynamic mode: replaces exactly the partitions in df
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(self.path)

    def overwrite_all(self, df: DataFrame, partition_col: str) -> None:
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "static"
        ).partitionBy(partition_col).parquet(self.path)

    def read(self, schema: str | None = None) -> DataFrame:
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path)


class ParquetStateStore(StateStore):
    """Append-only parquet commit log (Iceberg-state-table stand-in)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        # only a log never written reads as empty; an unreadable one raises
        # (at the first action) instead of reading as "no bucket done"
        try:
            return self.spark.read.schema(STATE_SCHEMA).parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.spark.createDataFrame([], STATE_SCHEMA)

    def append(self, rows: list[dict]) -> None:
        if rows:
            self.spark.createDataFrame(rows, STATE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.path)


class SqliteStateStore(StateStore):
    """State log in a SQLite database file — a second live implementation
    of the seam with genuinely different storage semantics (transactional
    row store, no directories, no parquet), proving the interface isn't
    parquet-shaped: the resume suite (tests/test_pipeline_spark.py) runs
    identically over both. Commits are closer to IcebergStateStore's
    MERGE than to the parquet append log: a UNIQUE(input_snapshot,
    partition_id) index with ON CONFLICT IGNORE makes duplicate bucket
    commits impossible at the storage level ("WHEN NOT MATCHED THEN
    INSERT"), where the parquet log merely tolerates them."""

    # the table's columns are STATE_SCHEMA's fields; timestamps are stored
    # as ISO-8601 text
    _SQL_TYPES = {
        "string": "TEXT", "int": "INTEGER", "long": "INTEGER", "timestamp": "TEXT",
    }
    _FIELDS = [f.split() for f in STATE_SCHEMA.split(",")]
    _COLS = tuple(name for name, _type in _FIELDS)

    def __init__(self, spark: SparkSession, db_path: str) -> None:
        self.spark = spark
        self.db_path = db_path

    def _conn(self):
        import sqlite3

        conn = sqlite3.connect(self.db_path)
        cols = ", ".join(f"{name} {self._SQL_TYPES[t]}" for name, t in self._FIELDS)
        conn.execute(
            f"""CREATE TABLE IF NOT EXISTS state (
                 {cols},
                 UNIQUE (input_snapshot, partition_id) ON CONFLICT IGNORE
               )"""
        )
        return conn

    def read(self) -> DataFrame:
        import contextlib
        import datetime

        # closing() + the connection's own context manager: sqlite3
        # connections commit on __exit__ but never close — without the
        # closing() wrapper every read/append leaked an open file handle
        # for the life of the process
        with contextlib.closing(self._conn()) as conn, conn:
            rows = conn.execute(
                f"SELECT {', '.join(self._COLS)} FROM state"
            ).fetchall()
        if not rows:
            return self.spark.createDataFrame([], STATE_SCHEMA)
        ts = self._COLS.index("committed_at")
        recs = [
            r[:ts] + (datetime.datetime.fromisoformat(r[ts]),) + r[ts + 1:] for r in rows
        ]
        return self.spark.createDataFrame(recs, STATE_SCHEMA)

    def append(self, rows: list[dict]) -> None:
        import contextlib

        if not rows:
            return
        sql = (
            f"INSERT INTO state ({', '.join(self._COLS)}) "
            f"VALUES ({', '.join('?' * len(self._COLS))})"
        )
        with contextlib.closing(self._conn()) as conn, conn:
            conn.executemany(
                sql,
                [
                    tuple(
                        row[c].isoformat() if c == "committed_at" else row[c]
                        for c in self._COLS
                    )
                    for row in rows
                ],
            )


# ---------------------------------------------------------------------------
# Iceberg implementations (drop-ins on a deployment with an Iceberg catalog;
# constructible here, exercisable only where `writeTo(...).overwritePartitions`
# resolves to an Iceberg table)
# ---------------------------------------------------------------------------


class IcebergSpanSink(SpanSink):
    """Same contract over an Iceberg catalog table. Every method is one
    atomic snapshot commit; see the module docstring mapping."""

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.spark = spark
        self.table = table

    def overwrite_partitions(self, df: DataFrame, partition_col: str) -> None:
        # Iceberg's dynamic-overwrite: replaces exactly the partitions
        # present in df (the bucket partition is the implicit MERGE key)
        df.writeTo(self.table).overwritePartitions()

    def overwrite_all(self, df: DataFrame, partition_col: str) -> None:
        df.writeTo(self.table).partitionedBy(F.col(partition_col)).createOrReplace()

    def read(self, schema: str | None = None) -> DataFrame:
        return self.spark.read.table(self.table)


class IcebergStateStore(StateStore):
    """State log as an Iceberg table with MERGE-commit: duplicate
    (input_snapshot, partition_id) rows are impossible at the commit
    level, upgrading the parquet log's tolerated-duplicates semantics."""

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.spark = spark
        self.table = table

    def read(self) -> DataFrame:
        return self.spark.read.table(self.table)

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        src = self.spark.createDataFrame(rows, STATE_SCHEMA)
        src.createOrReplaceTempView("_state_commit_src")
        self.spark.sql(
            f"""
            MERGE INTO {self.table} t
            USING _state_commit_src s
            ON t.input_snapshot = s.input_snapshot
               AND t.partition_id = s.partition_id
            WHEN NOT MATCHED THEN INSERT *
            """
        )
