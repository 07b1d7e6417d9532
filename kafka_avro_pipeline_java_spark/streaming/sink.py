"""Exactly-once sinks for ``foreachBatch``.

The reference achieves exactly-once into MySQL with a per-record JDBC
transaction that writes the row AND upserts its offset into a
``kafka_offsets`` table atomically (reference
``03-consumer/src/main/java/com/exam/worker/AvroConsumer.java:157-194``;
upsert ``MySQLProcessData.java:65-92``). Structured Streaming gives the
same external guarantee at micro-batch granularity: the checkpoint records
source offsets per batch, and the sink below makes the write idempotent on
``batch_id``, so replays after a crash cannot double-apply
(SURVEY.md §7.3 item 2 documents the granularity difference).

Two sinks, one contract:

- ``ExactlyOnceDbSink`` — one DB transaction **per partition per batch**:
  rows + a ``(sink_table, batch_id, partition_id)`` ledger row commit
  together; a replayed partition sees its ledger row and skips. Takes a
  DB-API connection factory, so it works with any driver (MySQL at parity,
  sqlite in tests) without Spark-side changes; executes on executors via
  ``foreachPartition`` — no data moves through the driver.
- ``exactly_once_parquet_sink`` — files variant: batch output written to a
  staging dir, atomically renamed to ``batch_id=N/``; replay sees the
  final dir and skips.

Offsets mirroring (the reference's ``kafka_offsets`` table):
``ExactlyOnceDbSink(offsets_cols=..., consumer_group=...)`` upserts each
topic-partition's next offset (max(offset)+1, never moving backwards) in
the same transaction as the rows; the table's DDL is
``offsets_mirror_sql``. The checkpoint stays the source of truth.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame


# --------------------------------------------------------------------------
# DB sink (DB-API; MySQL in production-parity, sqlite in tests)
# --------------------------------------------------------------------------
LEDGER_DDL = (
    "CREATE TABLE IF NOT EXISTS stream_commits ("
    "sink_table VARCHAR(64) NOT NULL, batch_id BIGINT NOT NULL, "
    "partition_id INT NOT NULL, n_rows BIGINT, "
    "PRIMARY KEY (sink_table, batch_id, partition_id))"
)


class ExactlyOnceDbSink:
    """``foreachBatch`` callable writing rows + commit ledger atomically.

    ``connection_factory`` must return a DB-API 2.0 connection; it is
    called on the EXECUTOR (inside foreachPartition), so it must be
    picklable and must not capture driver-only state.
    """

    def __init__(
        self,
        connection_factory: Callable[[], Any],
        table: str,
        columns: list[str],
        paramstyle: str = "qmark",  # qmark '?' (sqlite) | format '%s' (mysql)
        offsets_cols: tuple[str, str, str] | None = None,
        consumer_group: str | None = None,
        use_prepared: bool = False,
    ) -> None:
        """With ``offsets_cols=(topic, partition, offset)`` naming Kafka
        metadata columns present in the batch, each partition transaction
        ALSO upserts max(offset)+1 per (topic, partition) into
        ``kafka_offsets`` — data and offsets commit atomically, the exact
        shape of the reference's per-record transaction
        (AvroConsumer.java:157-194) at partition granularity.

        ``use_prepared=True`` binds rows through server-side prepared
        statements when the connection supports ``.prepare`` (the
        mysql_wire binary protocol — COM_STMT_PREPARE once per partition
        transaction, COM_STMT_EXECUTE per row with typed binary values),
        which is the reference's ACTUAL PreparedStatement + setX binding
        mechanism (MySQLProcessData.java:110-125,132-156) rather than the
        multi-row text INSERT; DDL/ledger statements stay on the text
        path, as the reference's Statement usage does. Falls back to the
        text path on drivers without ``.prepare``."""
        self.connection_factory = connection_factory
        self.table = table
        self.columns = list(columns)
        self.placeholder = "?" if paramstyle == "qmark" else "%s"
        self.paramstyle = paramstyle
        self.offsets_cols = offsets_cols
        self.consumer_group = consumer_group
        self.use_prepared = use_prepared
        if offsets_cols is not None and consumer_group is None:
            raise ValueError("offsets_cols requires consumer_group")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        factory, table, cols, ph = (
            self.connection_factory,
            self.table,
            self.columns,
            self.placeholder,
        )
        offsets_cols, group = self.offsets_cols, self.consumer_group
        use_prepared = self.use_prepared
        insert_qmark = (
            f"INSERT INTO {table} ({', '.join(cols)}) "
            f"VALUES ({', '.join(['?'] * len(cols))})"
        )
        offsets_upsert_qmark = (
            "INSERT INTO kafka_offsets (topic, partition, consumer_group, "
            "offset) VALUES (?, ?, ?, ?) ON DUPLICATE KEY UPDATE "
            "offset = GREATEST(offset, VALUES(offset))"
        )
        offsets_ddl = offsets_mirror_sql()
        if self.paramstyle == "format":
            offsets_upsert = (
                f"INSERT INTO kafka_offsets (topic, partition, consumer_group, offset) "
                f"VALUES ({ph}, {ph}, {ph}, {ph}) "
                f"ON DUPLICATE KEY UPDATE offset = GREATEST(offset, VALUES(offset))"
            )
        else:
            offsets_upsert = (
                f"INSERT INTO kafka_offsets (topic, partition, consumer_group, offset) "
                f"VALUES ({ph}, {ph}, {ph}, {ph}) "
                f"ON CONFLICT (topic, partition, consumer_group) "
                f"DO UPDATE SET offset = MAX(offset, excluded.offset)"
            )
        insert_sql = (
            f"INSERT INTO {table} ({', '.join(cols)}) "
            f"VALUES ({', '.join([ph] * len(cols))})"
        )
        ledger_probe = (
            f"SELECT 1 FROM stream_commits WHERE sink_table = {ph} "
            f"AND batch_id = {ph} AND partition_id = {ph}"
        )
        ledger_insert = (
            f"INSERT INTO stream_commits (sink_table, batch_id, partition_id, n_rows) "
            f"VALUES ({ph}, {ph}, {ph}, {ph})"
        )

        def write_partition(rows: Iterator) -> None:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            conn = factory()
            try:
                cur = conn.cursor()
                cur.execute(LEDGER_DDL)
                cur.execute(ledger_probe, (table, batch_id, pid))
                if cur.fetchone() is not None:
                    return  # replayed partition — already committed
                rows = list(rows)
                data = [tuple(r[c] for c in cols) for r in rows]
                prepared = use_prepared and hasattr(conn, "prepare")
                if prepared:
                    # reference parity: prepare once, typed-bind per row
                    # over the binary protocol (MySQLProcessData.java:110)
                    ps = conn.prepare(insert_qmark)
                    for row in data:
                        ps.execute(row)
                    ps.close()
                else:
                    cur.executemany(insert_sql, data)
                if offsets_cols is not None and rows:
                    tcol, pcol, ocol = offsets_cols
                    progress: dict[tuple, int] = {}
                    for r in rows:
                        k = (r[tcol], r[pcol])
                        progress[k] = max(progress.get(k, -1), r[ocol])
                    cur.execute(offsets_ddl)
                    offsets_rows = [
                        (t, p, group, o + 1) for (t, p), o in progress.items()
                    ]
                    if prepared:
                        ps = conn.prepare(offsets_upsert_qmark)
                        for row in offsets_rows:
                            ps.execute(row)
                        ps.close()
                    else:
                        cur.executemany(offsets_upsert, offsets_rows)
                cur.execute(ledger_insert, (table, batch_id, pid, len(data)))
                conn.commit()  # rows + offsets + ledger commit atomically
            except Exception:
                conn.rollback()
                raise
            finally:
                conn.close()

        select_cols = list(cols)
        if offsets_cols is not None:
            select_cols += [c for c in offsets_cols if c not in select_cols]
        batch_df.select(*select_cols).foreachPartition(write_partition)


def offsets_mirror_sql() -> str:
    """DDL of the reference's ``kafka_offsets`` table, which mirrors
    Structured Streaming progress (DataPipeline.java:152-158)."""
    return (
        "CREATE TABLE IF NOT EXISTS kafka_offsets ("
        "topic VARCHAR(50) NOT NULL, partition INT NOT NULL, "
        "consumer_group VARCHAR(50), offset BIGINT, "
        "PRIMARY KEY (topic, partition, consumer_group))"
    )


# --------------------------------------------------------------------------
# Parquet sink (atomic-rename idempotence; no external DB needed)
# --------------------------------------------------------------------------
def exactly_once_parquet_sink(base_path: str) -> Callable[[DataFrame, int], None]:
    """Batch output lands in ``base_path/batch_id=N/`` via staging dir +
    atomic rename; a replayed batch sees the final dir and skips."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        final = os.path.join(base_path, f"batch_id={batch_id}")
        if os.path.exists(final):
            return  # replay — already committed
        staging = os.path.join(base_path, f"_staging_batch_{batch_id}")
        shutil.rmtree(staging, ignore_errors=True)
        batch_df.write.mode("overwrite").parquet(staging)
        os.rename(staging, final)

    return sink
