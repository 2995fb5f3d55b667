"""Exactly-once Structured Streaming upsert sink onto the transaction log.

``foreachBatch`` gives at-least-once invocation: after a failure the
engine replays the last micro-batch. This helper turns that into
exactly-once table state by keying every commit with
``"<txn_app>.<batch-id>"`` — :meth:`TxTable.commit`/:meth:`~TxTable.merge`
skip a txn id already in the log, so a replayed batch is a no-op (the
idempotent-sink pattern from the Structured Streaming docs, with the
txn ledger living in the table's own commit log instead of a side
store; markers survive checkpointing + clean_log, see txlog.LogReader.state).
``txn_app`` names the stream: it must stay the same across restarts
from one checkpoint and differ between streams writing one table.

Exactly-once APPENDS need no helper: ``writeStream.format("txlog")``
with ``txnAppId`` commits each micro-batch under ``<appId>@<batchId>``.

Scale notes: each micro-batch costs one commit (one log publish); the
upsert sink's MERGE is stats-scoped, so a keyed stream whose keys
cluster (e.g. recent ids) rewrites only the overlapping files per
batch.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from novlake_spark.txlog import TxTable


def txtable_upsert_sink(
    path: str, key: list[str], txn_app: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable: MERGE each micro-batch into the table
    on ``key`` exactly once — the streaming-CDC upsert shape (latest
    state per key). The batch must hold one row per key (pre-aggregate
    with ``dropDuplicates(key)`` or a grouped agg upstream)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t = TxTable(batch_df.sparkSession, path)
        t.merge(batch_df, key=key, txn=f"{txn_app}.{batch_id}")

    return sink
