"""Streaming ingestion into MVCC tables (≈ Retina CDC replay).

Reference lifecycle (SURVEY.md §3.4): CDC source → RetinaService
``insertRecord``/``deleteRecord`` → MemTable with hidden ts → flush to
ordered files; readers merge files + write buffer at their snapshot ts.

Spark mapping: ``readStream`` → ``foreachBatch`` — each micro-batch is one
MvccTable write transaction (``MvccTable._commit``, the path every batch
write takes): one commit ts for its appends and tombstones, committed
whole or aborted whole — a failed batch leaves no files behind and does not
hold back the table's watermark. Freshness = trigger interval; the write
buffer disappears because a committed micro-batch is immediately
snapshot-visible.

Scale notes: foreachBatch keeps the append path identical to batch writes
(same parquet layout, same hidden column), so the table never forks into
"streamed" vs "batch" flavors; checkpointing gives exactly-once appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..mvcc.table import MvccTable


def ingest_stream(
    stream_df: DataFrame,
    table: MvccTable,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "pixels_ingest",
) -> StreamingQuery:
    """Start ingesting a streaming DataFrame into ``table``.

    Each micro-batch commits under one transaction timestamp — the analog of
    Retina assigning one commit ts per CDC replay batch.
    """

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.insert(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def ingest_cdc_stream(
    stream_df: DataFrame,
    table: MvccTable,
    checkpoint_dir: str,
    op_col: str = "op",
    trigger: dict | None = None,
    query_name: str = "pixels_cdc_ingest",
) -> StreamingQuery:
    """CDC replay with op routing (≈ Retina's insertRecord/deleteRecord and
    the UPDATE = delete+insert mirror convention, README.md:34-36).

    ``stream_df`` carries an ``op_col`` of 'I' (insert), 'U' (update) or
    'D' (delete). Each micro-batch becomes ONE ``MvccTable._commit`` (one
    commit ts): the I/U payloads are appended and the D/U keys tombstoned
    — so a snapshot either sees the whole batch or none of it, matching
    the reference's per-replay-batch atomicity. A batch that fails (say, a
    payload column whose type conflicts with the table's) aborts: its
    files are removed, its ts is released, and the stream stops with the
    error.
    """
    from pyspark.sql import functions as F

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        ops = {r[0] for r in batch_df.select(op_col).distinct().collect()}
        if not ops:
            return
        # inserts come DIRECTLY from the I/U rows — a semi-join of all
        # payload rows against I/U keys would also resurrect a D row's
        # stale payload when one batch carries both a delete and an
        # insert for the same key
        rows = keys = None
        if ops & {"I", "U"}:
            rows = batch_df.filter(F.col(op_col).isin("I", "U")).drop(op_col)
        if ops & {"D", "U"}:
            keys = batch_df.filter(F.col(op_col).isin("D", "U")).select(table.key_col)
        table._commit(rows=rows, keys=keys)

    writer = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: drop repeated keys arriving within the
    watermark horizon (the ingest-time dedup an LLM pipeline runs before
    documents ever land — duplicates from source retries/CDC replays never
    reach storage).

    ``dropDuplicatesWithinWatermark`` bounds state by the watermark delay:
    a key is remembered only until the watermark passes its event time —
    O(arrival-rate × delay) state, not O(stream history). Exact global
    dedup across all history belongs to the batch path (exact_dedup /
    fingerprints) over the stored table.
    """
    return stream_df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        keys
    )


def ingest_stream_with_ivm(
    stream_df: DataFrame,
    table: MvccTable,
    rollup,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "pixels_ingest_ivm",
) -> StreamingQuery:
    """Ingest + keep a materialized rollup fresh in the SAME micro-batch
    loop: each batch commits to the MvccTable (one transaction) and then
    incrementally folds ONLY that batch's commits into the stored rollup
    (``mvcc.ivm.MaterializedRollup.refresh`` — delta-sized work).

    This is the continuous-aggregate serving shape with no serving-time
    merge at all: readers of ``rollup.read()`` get a fully-materialized
    aggregate whose lag is the trigger interval. Contrast
    ``streaming/rollup.continuous_rollup`` (append finalized buckets,
    merge a raw tail at read time): IVM pays a bounded refresh per batch
    to make reads merge-free, and it also absorbs updates/deletes, which
    append-mode rollups cannot.
    """

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.insert(batch_df)
        rollup.refresh()

    writer = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
