"""Exactly-once streaming SINK (reference ST6-ST8; SURVEY.md §2.9).

The reference's Flink sink achieves exactly-once by recording the
checkpoint id in a ``SetTransaction(appId, checkpointId)`` action inside
the same atomic commit as the data files, and skipping any checkpoint id
≤ the recorded watermark on retry (DeltaGlobalCommitter.commit,
flink/.../committer/DeltaGlobalCommitter.java:198-256; txnVersion
OptimisticTransactionImpl.scala:221-224).

Structured Streaming's twin: ``foreachBatch`` hands us (df, batch_id);
we commit the batch + ``SetTransaction(app_id, batch_id)`` atomically
and skip replayed batch ids — idempotent under every retry/restart
combination because the watermark read and the data commit are the same
optimistic transaction (a concurrent duplicate commit loses the
put-if-absent race and re-checks the watermark on retry).

The watermark skip, the ``merge_schema`` refusal and the commit's
operation name and parameters are the sink's own. Everything else —
table creation, schema evolution, identity and generated columns, CHECK
constraints, invariants, staging and auto-compaction — is the append
path ``DeltaTable.write`` takes (``DeltaTable._append``).
"""

from __future__ import annotations

import time
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame

from ..log.actions import SetTransaction


class DeltaStreamSink:
    """foreachBatch-driven exactly-once Delta sink.

    >>> sink = DeltaStreamSink(path, app_id="my-stream")
    >>> (df.writeStream.foreachBatch(sink.foreach_batch)
    ...    .option("checkpointLocation", ckpt).start())
    """

    def __init__(self, table_path: str, app_id: str,
                 partition_by: Optional[Sequence[str]] = None,
                 configuration: Optional[Dict[str, str]] = None,
                 merge_schema: bool = False):
        self.table_path = table_path
        self.app_id = app_id
        self.partition_by = list(partition_by or [])
        self.configuration = dict(configuration or {})
        self.merge_schema = merge_schema

    def write_batch(self, df: DataFrame, batch_id: int) -> Optional[int]:
        """Commit one microbatch; returns the table version or None when
        the batch id was already committed (idempotent skip)."""
        from ..table import DeltaTable

        table = DeltaTable.for_path(df.sparkSession, self.table_path)
        txn = table.log.start_transaction()
        if txn.snapshot is not None and txn.read_version >= 0 \
                and batch_id <= txn.txn_version(self.app_id):
            return None  # replayed checkpoint — already durable, skip
        return table._append(
            txn, df, "STREAMING UPDATE",
            {"outputMode": "Append", "queryId": self.app_id,
             "epochId": str(batch_id)},
            partition_by=self.partition_by or None,
            configuration=self.configuration,
            merge_schema=self.merge_schema,
            actions=[SetTransaction(appId=self.app_id, version=batch_id,
                                    lastUpdated=int(time.time() * 1000))])

    # foreachBatch wants a bare callable
    def foreach_batch(self, df: DataFrame, batch_id: int) -> None:
        self.write_batch(df, batch_id)

    def last_committed_batch(self, spark) -> int:
        """Watermark lookup (A3): -1 when nothing committed."""
        from ..table import DeltaTable
        table = DeltaTable.for_path(spark, self.table_path)
        txn = table.log.start_transaction()
        if txn.snapshot is None or txn.read_version < 0:
            return -1
        return txn.txn_version(self.app_id)
