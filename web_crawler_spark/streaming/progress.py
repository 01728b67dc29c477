"""Streaming progress feed — the reference's WebSocket push (ST5)
re-expressed as Structured Streaming over the wave commit markers.

The reference pushes progress JSON every 2 s per open WebSocket until the
crawl is terminal (/root/reference/manager/src/routes/ws.rs:25-53), which
is a poll of the same counts query.  Our engine commits one ``commit.json``
marker per wave (a JSON summary with crawl_id, wave, and the wave totals),
so a *stream* of progress is just ``readStream`` over the marker layout:
new wave commits become new micro-batch input files — no server, no push
loop, any number of concurrent readers.

Exactly-once by construction: markers are written once via atomic rename
and never rewritten.  Compaction keeps every marker, so a stream started
after a compaction still sees the waves it folded.

``tail_progress`` aggregates per crawl (cumulative fetched/children/
failed and last wave) into an in-memory sink table the caller can query;
``Trigger.AvailableNow`` (processing all data then stopping) makes it
usable both as a live tailer and as a deterministic batch catch-up —
which is also what the tests do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import COMMIT_SCHEMA, SnapshotStore


def commit_stream(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """Unbounded wave-commit source: every committed wave's marker,
    across all crawls in the store (exactly one record per commit)."""
    pattern = str(store.root / "crawls" / "*" / "wave_*" / "commit.json")
    return (
        spark.readStream.schema(COMMIT_SCHEMA)
        # one wave commit = one file; keep batches small and ordered-ish
        # so progress is monotone per crawl
        .option("maxFilesPerTrigger", 64)
        .json(pattern)
    )


def progress_updates(commits: DataFrame) -> DataFrame:
    """Cumulative per-crawl progress from the commit-marker stream:
    complete-mode aggregation, the streaming equivalent of the
    reference's repeated progress query."""
    return commits.groupBy("crawl_id").agg(
        F.max("wave").alias("last_wave"),
        F.sum("fetched").alias("urls_fetched"),
        F.sum("children").alias("urls_discovered"),
        F.sum("failed").alias("urls_failed"),
        F.sum("dedup_dropped").alias("links_deduped"),
    )


def tail_progress(
    spark: SparkSession, store: SnapshotStore, table_name: str = "crawl_progress"
):
    """Run the progress stream until current end of data (AvailableNow),
    materializing into the in-memory table ``table_name``.

    Returns the StreamingQuery (already awaited); read results with
    ``spark.table(table_name)``.
    """
    q = (
        progress_updates(commit_stream(spark, store))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(table_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
