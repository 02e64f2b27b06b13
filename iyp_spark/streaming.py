"""Structured Streaming ingest — incremental, file-arrival KG construction.

The reference is strictly batch (weekly dump, create_db.py:50-51); its
"incrementality" is fetch-cache resume (iyp/__init__.py:810-831). SURVEY
§2.9 maps that to an optional Trigger.AvailableNow file-arrival stream into
the documents table, which is what this module provides:

- ``ingest_documents``: new parquet drops land in the lake's documents
  table; the streaming checkpoint guarantees each file is ingested exactly
  once across restarts (the S7 resume semantics, engine-enforced).
- ``incremental_triples``: foreachBatch runs a crawler's transform on each
  newly-arrived micro-batch and appends the resulting triples — a crawler
  that keeps up with its source instead of re-reading it weekly. Batch ids
  are recorded in lineage, so a replayed batch is detectable. (On Iceberg
  the append would be an idempotent commit keyed by batch id.)

Both run with Trigger.AvailableNow: process everything new, then stop —
cron-friendly, no always-on cluster needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import DOCUMENTS_SCHEMA
from .store import GraphStore


def ingest_documents(
    spark: SparkSession, drop_dir: str, store: GraphStore, checkpoint_dir: str
) -> None:
    """Stream new document files from ``drop_dir`` into the documents table
    (exactly-once per file via the stream checkpoint)."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(drop_dir)
    )
    query = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("crawler")
        .format("parquet")
        .option("path", store.documents_path)
        .start()
    )
    query.awaitTermination()


def incremental_triples(
    spark: SparkSession,
    store: GraphStore,
    crawler_cls,
    drop_dir: str,
    checkpoint_dir: str,
) -> None:
    """Incremental crawler: for every micro-batch of newly-arrived documents
    run the crawler's transform and append its triples + merge its nodes."""
    crawler = crawler_cls(store)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.filter(F.col("crawler") == crawler.NAME)
        if docs.isEmpty():
            return
        node_dfs, triple_dfs = crawler.transform(docs)
        triples = triple_dfs[0]
        for extra in triple_dfs[1:]:
            triples = triples.unionByName(extra)
        # foreachBatch is at-least-once: a crash between the write and the
        # stream-checkpoint commit replays this batch. append_triples_batch
        # writes files under deterministic batch-keyed names, so the replay
        # REPLACES them (no silent duplicates); the node upsert is a
        # key-merge and therefore idempotent by construction.
        n = store.append_triples_batch(crawler.NAME, triples, batch_id)
        for nd in node_dfs:
            store.upsert_nodes(nd)
        store.log_lineage(crawler.NAME, f"stream_batch_{batch_id}", n, 0.0)

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(drop_dir)
    )
    query = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
        .start()
    )
    query.awaitTermination()


def first_seen_documents(
    spark: SparkSession, drop_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Streaming cross-batch exact dedup: emit each document content
    fingerprint the FIRST time it is ever seen, across micro-batches AND
    across restarts (the per-key state lives in the stream checkpoint).

    This is the custom stateful-operator surface (SURVEY 2.9,
    applyInPandasWithState): dropDuplicates on an unwatermarked stream
    keeps unbounded per-key state too, but gives no control over what is
    emitted; here the operator returns (fp, first_doc_id) rows only when a
    fingerprint is new - the streaming twin of ops.dedup.exact_dedup_groups.

    Scale path: state is hash-partitioned by fingerprint (uniform - it IS
    a hash) and checkpointed per partition; at 10^12 docs the state store
    would be RocksDB-backed (one config switch on a real cluster). The
    Python side is Arrow-batched per group, never per-row.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("fp", StringType()),
        StructField("first_doc_id", StringType()),
    ])
    state_schema = StructType([StructField("n_seen", LongType())])

    def dedup_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        n_new = 0
        first_doc = None
        for pdf in pdf_iter:
            # min across ALL Arrow chunks of the group, not just the first
            # non-empty one — groups split across chunks must still emit a
            # deterministic first_doc_id
            if len(pdf):
                lo = pdf["doc_id"].min()
                first_doc = lo if first_doc is None else min(first_doc, lo)
            n_new += len(pdf)
        (n_prev,) = state.get if state.exists else (0,)
        state.update((n_prev + n_new,))
        if n_prev == 0 and first_doc is not None:
            yield pd.DataFrame({"fp": [key[0]], "first_doc_id": [first_doc]})

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(drop_dir)
    )
    fingerprinted = stream.select(
        F.col("doc_id"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    "spans",
                    lambda s: F.concat_ws(
                        "|", s["kind"], F.coalesce(s["text"], F.lit("")),
                        F.coalesce(s["media_ref"], F.lit("")),
                    ),
                ),
            )
        ).alias("fp"),
    )
    query = (
        fingerprinted.groupBy("fp")
        .applyInPandasWithState(
            dedup_fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()


EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def windowed_event_counts(
    spark: SparkSession, drop_dir: str, out_dir: str, checkpoint_dir: str,
    window: str = "1 hour", late: str = "2 hours",
) -> None:
    """Event-time windowed aggregation with a watermark (late-data
    handling): hourly (event_type, window) counts over an event stream.

    Append output mode emits a window only once the watermark has passed
    it (max event time seen so far minus ``late``), so each finalized
    window is written exactly once; events arriving later than ``late``
    behind the stream's max event time are DROPPED by the watermark
    instead of reopening a finalized window — the bounded-state contract
    that lets this run forever on an unbounded stream.

    Scale path: per-window aggregation is map-side partial; state is one
    row per (event_type, open window), bounded by the watermark horizon —
    independent of stream length.
    """
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(drop_dir)
    )
    agg = (
        stream.withWatermark("ts", late)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type", "n_events", "sum_value",
        )
    )
    query = (
        agg.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()


def sessionized_user_activity(
    spark: SparkSession, drop_dir: str, out_dir: str, checkpoint_dir: str,
    gap: str = "30 minutes", late: str = "2 hours",
) -> None:
    """Event-time SESSION windows with a watermark: per-user activity
    sessions that close when the user goes quiet for ``gap``. Unlike the
    fixed windows above, session windows have data-driven extents — a new
    event inside the gap EXTENDS the open session (including merging
    state across micro-batches and restarts), which no fixed-window
    groupBy can express. This is the streaming dual of the batch
    ``event_sessions`` query (entry_queries.py): same gap semantics,
    incremental state instead of a lag window over history.

    Append mode emits a session exactly once, when the watermark (max
    event time − ``late``) passes the session's end (last event + gap);
    events later than the watermark are dropped rather than reopening an
    emitted session — bounded state on an unbounded stream.

    Scale path: session state is hash-partitioned by the grouping key
    (user), one open-session row per quiet-for-less-than-``gap`` user —
    bounded by active users in the watermark horizon, independent of
    stream length; merges are local to the key's partition.
    """
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(drop_dir)
    )
    agg = (
        stream.withWatermark("ts", late)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "user_id", "n_events", "sum_value",
        )
    )
    query = (
        agg.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()


def stream_stream_attribution(
    spark: SparkSession, imp_dir: str, clk_dir: str,
    out_dir: str, checkpoint_dir: str,
    horizon: str = "1 hour", late: str = "2 hours",
) -> None:
    """Watermarked STREAM-STREAM inner join — the last §2.9 operator
    class: per-user click attribution, joining a click stream to the
    impression stream that preceded it within ``horizon``. Both sides are
    unbounded; the equi-key (user_id) plus the event-time range condition
    plus BOTH watermarks are what let the engine discard impression state
    once no future click can match it — the bounded-state contract that a
    batch join cannot give on infinite inputs.

    Append mode emits each (impression, click) match exactly once, when
    the engine can prove no earlier emit was possible; rows later than
    ``late`` behind their stream's max event time are dropped.

    Scale path: both streams hash-partition on user_id, so the join is
    co-partitioned state lookup (no re-shuffle per micro-batch beyond the
    initial exchange); state size ~ impressions in the horizon window per
    active user — independent of stream length.
    """
    imp = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(imp_dir)
        .withWatermark("ts", late)
        .select(F.col("user_id"), F.col("ts").alias("imp_ts"),
                F.col("value").alias("imp_value"))
    )
    clk = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(clk_dir)
        .withWatermark("ts", late)
        .select(F.col("user_id").alias("clk_user"),
                F.col("ts").alias("clk_ts"),
                F.col("value").alias("clk_value"))
    )
    joined = imp.join(
        clk,
        F.expr(
            f"user_id = clk_user AND "
            f"clk_ts >= imp_ts AND clk_ts <= imp_ts + interval {horizon}"
        ),
        "inner",
    ).select(
        "user_id", "imp_ts", "clk_ts",
        (F.unix_timestamp("clk_ts") - F.unix_timestamp("imp_ts"))
        .alias("delay_s"),
        "imp_value", "clk_value",
    )
    query = (
        joined.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .start()
    )
    query.awaitTermination()
