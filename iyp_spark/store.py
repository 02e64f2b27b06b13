"""GraphStore — the lake layout + upsert/replace/lineage primitives.

Stands in for an Iceberg catalog. On a real cluster every method below maps
1:1 onto an Iceberg operation (noted per method); locally we use partitioned
parquet + Spark's dynamic partition overwrite, which gives the same
idempotent per-partition replace semantics the north rule requires.

Layout under ``root``:
    documents/ crawler=<name>/*.parquet     input corpus (written by fixtures)
    nodes/     label=<label>/*.parquet      node dictionaries
    triples/   reference_name=<c>/*.parquet fact table
    lineage/   *.parquet                    per-stage metrics + checkpoints

Sinks implemented here (SURVEY.md §2.2):
    K1/K2 upsert_nodes    — MERGE-by-key into the node dictionary
    K4    (via upsert_nodes labels union)
    K5/K6 replace_triples — per-crawler partition replace (append = union)
    K7    enrich_nodes    — WHEN MATCHED UPDATE on node props
    K8    export_golden   — ordered triple export
Sources (§2.1):
    S7    resume          — completed-partition checkpoint via lineage
    S8    read_nodes      — seed scan to restrict work
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import LINEAGE_SCHEMA, NODES_SCHEMA, TRIPLES_SCHEMA


def _exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


@dataclass
class GraphStore:
    spark: SparkSession
    root: str

    # ---------- paths ----------
    @property
    def documents_path(self) -> str:
        return os.path.join(self.root, "documents")

    @property
    def nodes_path(self) -> str:
        return os.path.join(self.root, "nodes")

    @property
    def triples_path(self) -> str:
        return os.path.join(self.root, "triples")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "lineage")

    # ---------- documents (input) ----------
    def write_documents(self, df: DataFrame) -> None:
        # bucket within crawler: one file per (crawler, bucket) so the scan
        # parallelizes beyond the crawler count (input_hint partitioning)
        (
            df.repartition(F.col("crawler"), F.pmod(F.xxhash64("doc_id"), F.lit(16)))
            .write.mode("overwrite")
            .partitionBy("crawler")
            .parquet(self.documents_path)
        )

    def read_documents(self, crawler: str | None = None) -> DataFrame:
        df = self.spark.read.parquet(self.documents_path)
        if crawler is not None:
            # partition pruning: only this crawler's directory is scanned
            df = df.filter(F.col("crawler") == crawler)
        return df

    # ---------- nodes ----------
    def read_nodes(self, label: str | None = None) -> DataFrame:
        """S8 seed scan. Empty-store safe."""
        if not _exists(self.nodes_path):
            return self.spark.createDataFrame([], NODES_SCHEMA)
        df = self.spark.read.parquet(self.nodes_path)
        df = df.select([f.name for f in NODES_SCHEMA.fields])
        if label is not None:
            df = df.filter(F.col("label") == label)
        return df

    def upsert_nodes(self, df: DataFrame, count_rows: bool = True) -> int:
        """K1/K2/K4: MERGE new keys into the dictionary, union labels, and
        merge props of existing ones (last-writer-wins per key, like the
        reference's ``SET a += props``, iyp/__init__.py:326-446).

        Iceberg equivalent: ``MERGE INTO nodes t USING s ON t.label=s.label
        AND t.key=s.key WHEN MATCHED UPDATE SET labels=array_union(..),
        props=map_concat(..) WHEN NOT MATCHED INSERT *``.

        Locally: union + groupBy(label,key) + dynamic overwrite of only the
        touched label partitions.
        """
        df = df.select([f.name for f in NODES_SCHEMA.fields])
        fresh = not _exists(self.nodes_path)
        # _ord: monotonic ordinal within the incoming batch — tie-breaker so
        # that two values for the same (label,key,prop) in ONE batch resolve
        # deterministically to the later row (the reference's sequential
        # ``SET a += props`` is last-writer-wins; max_by on _gen alone would
        # pick nondeterministically between same-generation rows)
        incoming = df.withColumn("_gen", F.lit(1)).withColumn(
            "_ord", F.monotonically_increasing_id()
        )
        if fresh:
            # fresh store: pure insert — no read-merge, no self-overwrite
            # hazard, single pass (the common case in the batched build)
            union = incoming.withColumn(
                "labels", F.coalesce(F.col("labels"), F.array(F.col("label")))
            )
        else:
            touched = [r["label"] for r in df.select("label").distinct().collect()]
            existing = self.read_nodes().filter(F.col("label").isin(touched))
            union = (
                existing.withColumn("_gen", F.lit(0)).withColumn("_ord", F.lit(0).cast("long"))
                .unionByName(incoming)
                .withColumn(
                    "labels", F.coalesce(F.col("labels"), F.array(F.col("label")))
                )
            )
        base = union.groupBy("label", "key").agg(
            F.first("node_id").alias("node_id"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("labels")))
            ).alias("labels"),
        )
        # per-prop-key merge, later generation wins (== reference SET a += props)
        props = (
            union.select(
                "label", "key", "_gen", "_ord",
                F.explode_outer("props").alias("pk", "pv"),
            )
            .filter(F.col("pk").isNotNull())
            .groupBy("label", "key", "pk")
            .agg(F.max_by("pv", F.struct("_gen", "_ord")).alias("pv"))
            .groupBy("label", "key")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("pk", "pv")))
                ).alias("props")
            )
        )
        merged = base.join(props, ["label", "key"], "left")
        out = merged.select([f.name for f in NODES_SCHEMA.fields])
        if not fresh:
            # localCheckpoint truncates lineage: we are about to overwrite the
            # very partitions this plan reads (Iceberg MERGE would not need this)
            out = out.localCheckpoint(eager=True)
            n = out.count()
        # bucket within label so hot labels (AS, Prefix) write in parallel
        out = out.repartition(F.col("label"), F.pmod(F.col("node_id"), F.lit(8)))
        (
            out.write.mode("overwrite")
            .partitionBy("label")
            .parquet(self.nodes_path)
        )
        if fresh:
            # count from parquet footers — avoids recomputing the write plan
            n = self.spark.read.parquet(self.nodes_path).count() if count_rows else -1
        return n

    def enrich_nodes(self, df: DataFrame) -> int:
        """K7: add/overwrite props on existing nodes.

        ``df``: (label, key, props map). Nodes not present are ignored
        (reference MATCHes by elementId; misses are impossible there —
        every post-processor derives its enrich rows FROM read_nodes).

        r6: implemented as the join-update the Iceberg comment always
        described (``WHEN MATCHED UPDATE SET props``) instead of routing
        through the full upsert merge (union + two aggregations + a
        props explode over existing∪incoming). One small aggregate over
        the incoming batch, one left join onto the touched partitions,
        one per-row map merge — ~half the exchanges for the ip2prefix
        post-processor's props pass. Props merge semantics are identical
        to upsert_nodes: incoming wins per prop key, survivors keep
        their entries, the stored map is key-sorted."""
        incoming = (
            df.select("label", "key", "props")
            .withColumn("_ord", F.monotonically_increasing_id())
            .groupBy("label", "key")
            .agg(F.max_by("props", "_ord").alias("new_props"))
        )
        touched = [r["label"]
                   for r in incoming.select("label").distinct().collect()]
        if not touched or not _exists(self.nodes_path):
            return 0
        existing = self.read_nodes().filter(F.col("label").isin(touched))
        empty_map = F.expr("map()").cast("map<string,string>")
        old_p = F.coalesce(F.col("props"), empty_map)
        new_p = F.coalesce(F.col("new_props"), empty_map)
        merged = F.map_from_entries(
            F.array_sort(
                F.concat(
                    F.filter(
                        F.map_entries(old_p),
                        lambda e: ~F.array_contains(
                            F.map_keys(new_p), e["key"]
                        ),
                    ),
                    F.map_entries(new_p),
                )
            )
        )
        out = (
            existing.join(incoming, ["label", "key"], "left")
            .select(
                "label", "key", "node_id", "labels",
                F.when(
                    F.col("props").isNull() & F.col("new_props").isNull(),
                    F.lit(None).cast("map<string,string>"),
                ).otherwise(merged).alias("props"),
            )
            .select([f.name for f in NODES_SCHEMA.fields])
            # about to overwrite the partitions this plan reads
            .localCheckpoint(eager=True)
        )
        n = out.count()
        (
            out.repartition(F.col("label"), F.pmod(F.col("node_id"), F.lit(8)))
            .write.mode("overwrite")
            .partitionBy("label")
            .parquet(self.nodes_path)
        )
        return n

    # ---------- triples ----------
    def read_triples(self, reference_name: str | None = None) -> DataFrame:
        if not _exists(self.triples_path):
            return self.spark.createDataFrame([], TRIPLES_SCHEMA)
        df = self.spark.read.parquet(self.triples_path)
        df = df.select([f.name for f in TRIPLES_SCHEMA.fields])
        if reference_name is not None:
            df = df.filter(F.col("reference_name") == reference_name)
        return df

    def replace_triples(self, reference_name: str, df: DataFrame,
                        count_rows: bool = True) -> int:
        """K5 with rerun semantics: idempotent replace of one crawler's
        partition (ref: delete-by-reference_name then re-append,
        iyp/__init__.py:660-687, post/ip2prefix.py:113-122).

        Iceberg equivalent: ``overwritePartitions()`` /
        ``DELETE WHERE reference_name = X`` + append.

        The write goes DIRECTLY into this crawler's partition directory
        (``.../reference_name=<X>/``), not through dynamic partition
        overwrite on the table root: each writer then owns its own output
        dir + staging, so concurrent per-crawler writes (the batched
        runner's thread pool) never race on a shared commit — Spark's file
        commit protocol is per-path, not multi-writer-safe on one root.
        """
        part_dir = os.path.join(self.triples_path,
                                f"reference_name={reference_name}")
        out = df.withColumn(
            "reference_name", F.col("reference.reference_name")
        ).select([f.name for f in TRIPLES_SCHEMA.fields]).drop("reference_name")
        fresh = not _exists(part_dir)
        if not fresh:
            # post-processors derive triples FROM the triples table; truncate
            # lineage before overwriting the partition being read
            out = out.localCheckpoint(eager=True)
            n = out.count()
        (
            out.repartition(F.col("pred"), F.pmod(F.col("subj_id"), F.lit(16)))
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        if fresh:
            # fresh partition: the write is the (single) execution of the
            # plan; counting beforehand would run the whole pipeline twice
            # (ip2prefix's LPM joins were computed 2x for one number).
            # Post-write the count comes from parquet footers — metadata
            # only, no recompute.
            n = (self.spark.read.parquet(part_dir).count()
                 if count_rows else -1)
        return n

    def append_triples_batch(self, reference_name: str, df: DataFrame,
                             batch_id: int) -> int:
        """Idempotent micro-batch append for streaming ingest: files land in
        the crawler's partition dir under deterministic names keyed by
        ``batch_id``, so a foreachBatch REPLAY (at-least-once semantics:
        crash between write and checkpoint commit) REPLACES the batch's
        files instead of duplicating them. On Iceberg this is the
        idempotent-commit-by-batch-id pattern.
        """
        import glob
        import shutil

        out = df.withColumn(
            "reference_name", F.col("reference.reference_name")
        ).select([f.name for f in TRIPLES_SCHEMA.fields]).drop("reference_name")
        staging = os.path.join(self.root, f"_staging_b{batch_id}_{uuid.uuid4().hex}")
        out.write.mode("overwrite").parquet(staging)
        part_dir = os.path.join(self.triples_path,
                                f"reference_name={reference_name}")
        os.makedirs(part_dir, exist_ok=True)
        # drop any files a previous (crashed) attempt of this batch left
        for old in glob.glob(os.path.join(part_dir, f"batch{batch_id:08d}_*.parquet")):
            os.remove(old)
        n = 0
        files = sorted(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        for i, fname in enumerate(files):
            os.replace(
                os.path.join(staging, fname),
                os.path.join(part_dir, f"batch{batch_id:08d}_{i:05d}.parquet"),
            )
            n += 1
        shutil.rmtree(staging, ignore_errors=True)
        return n

    def replace_triples_multi(self, df: DataFrame, count_rows: bool = True) -> int:
        """Multi-crawler variant of replace_triples: one write replaces every
        reference_name partition present in ``df`` (dynamic overwrite)."""
        fresh = not _exists(self.triples_path)
        out = df.withColumn(
            "reference_name", F.col("reference.reference_name")
        ).select([f.name for f in TRIPLES_SCHEMA.fields])
        if not fresh:
            out = out.localCheckpoint(eager=True)
            n = out.count()
        (
            out.repartition(F.col("reference_name"), F.col("pred"),
                            F.pmod(F.col("subj_id"), F.lit(16)))
            .write.mode("overwrite")
            .partitionBy("reference_name")
            .parquet(self.triples_path)
        )
        if fresh:
            n = self.spark.read.parquet(self.triples_path).count() if count_rows else -1
        return n

    def compact_triples(self, reference_name: str,
                        target_file_bytes: int = 128 * 1024 * 1024
                        ) -> tuple[int, int]:
        """Small-files compaction for one crawler's triples partition —
        the maintenance job a streaming lake needs: every
        `append_triples_batch` micro-batch lands its own file(s), so a
        long-running ingest accumulates thousands of tiny parquet files
        per partition (scan cost at 100 TB becomes file-listing + footer
        reads, not data). Rewrites the partition into
        ceil(bytes / target_file_bytes) files (>=1), preserving the row
        multiset exactly; idempotent (re-compacting a compacted partition
        is a no-op-shaped rewrite). Returns (files_before, files_after).

        Follows the store's read-modify-write rule: localCheckpoint
        before overwriting the directory being read. Iceberg equivalent:
        `rewrite_data_files` (see store_iceberg.rewrite_data_files_sql) —
        there it's a snapshot commit, no checkpoint needed."""
        part_dir = os.path.join(self.triples_path,
                                f"reference_name={reference_name}")
        if not _exists(part_dir):
            return (0, 0)

        def _parquet_files() -> list[str]:
            return [
                os.path.join(part_dir, f)
                for f in os.listdir(part_dir) if f.endswith(".parquet")
            ]

        before = _parquet_files()
        total_bytes = sum(os.path.getsize(f) for f in before)
        n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
        df = self.spark.read.parquet(part_dir).localCheckpoint(eager=True)
        df.repartition(n_out).write.mode("overwrite").parquet(part_dir)
        return (len(before), len(_parquet_files()))

    def export_golden(self, path: str) -> None:
        """K8: the golden output — ordered triple export
        (replaces neo4j-admin dump, create_db.py:218-247)."""
        (
            self.read_triples()
            .select(
                "subj_label", "subj_key", "pred", "obj_label", "obj_key",
                "reference_name", "props",
            )
            .orderBy("reference_name", "pred", "subj_key", "obj_key")
            .write.mode("overwrite")
            .parquet(path)
        )

    # ---------- lineage / checkpoint (S7 + north rule) ----------
    def log_lineage(
        self, crawler: str, stage: str, rows: int, seconds: float,
        status: str = "complete", run_id: str | None = None,
    ) -> None:
        """Lineage rows are driver-side metadata — written with pyarrow
        directly (a 1-row Spark write job costs seconds of scheduler time;
        on a cluster this would be an Iceberg metadata/commit record)."""
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
        rid = run_id or uuid.uuid4().hex[:12]
        table = pa.table(
            {
                "crawler": [crawler],
                "stage": [stage],
                "rows": pa.array([int(rows)], pa.int64()),
                "seconds": pa.array([float(seconds)], pa.float64()),
                "status": [status],
                "run_id": [rid],
                "finished_at": pa.array([now], pa.timestamp("us")),
            }
        )
        os.makedirs(self.lineage_path, exist_ok=True)
        pq.write_table(
            table,
            os.path.join(self.lineage_path, f"{uuid.uuid4().hex}.parquet"),
        )

    def read_lineage(self) -> DataFrame:
        if not _exists(self.lineage_path):
            # limit(0) lets the optimizer turn the empty frame into a local
            # relation, so completed_crawlers() on a new lake runs no job
            return self.spark.createDataFrame([], LINEAGE_SCHEMA).limit(0)
        return self.spark.read.parquet(self.lineage_path)

    def completed_crawlers(self) -> set[str]:
        """Resume point: crawlers whose 'materialize' stage completed.

        A restarted run anti-joins its crawler list against this set, so
        completed partitions are never recomputed (north rule resumability).
        """
        lin = self.read_lineage()
        return {
            r["crawler"]
            for r in lin.filter(
                (F.col("stage") == "materialize") & (F.col("status") == "complete")
            )
            .select("crawler")
            .distinct()
            .collect()
        }


def make_store(spark: SparkSession, root: str,
               backend: str | None = None) -> GraphStore:
    """Backend-selecting factory: ``local`` (default — partitioned parquet,
    this module) or ``iceberg`` (store_iceberg.IcebergGraphStore — same
    surface on an Iceberg catalog; ``root`` becomes the table prefix, e.g.
    ``lake.iyp``). Selected by the ``backend`` arg, else the
    ``IYP_STORE_BACKEND`` env var (what scripts/submit_cluster.sh sets);
    the cluster port is a second implementation, not a rewrite."""
    choice = (backend or os.environ.get("IYP_STORE_BACKEND", "local")).lower()
    if choice == "local":
        return GraphStore(spark, root)
    if choice == "iceberg":
        from .store_iceberg import IcebergGraphStore

        return IcebergGraphStore(spark, root)
    raise ValueError(f"unknown store backend: {choice}")


class StageTimer:
    """Context manager: time a stage and log lineage on exit."""

    def __init__(self, store: GraphStore, crawler: str, stage: str, run_id: str):
        self.store, self.crawler, self.stage, self.run_id = store, crawler, stage, run_id
        self.rows = 0

    def __enter__(self):
        self.t0 = time.time()
        return self

    def __exit__(self, exc_type, exc, tb):
        status = "complete" if exc_type is None else "failed"
        self.store.log_lineage(
            self.crawler, self.stage, self.rows, time.time() - self.t0,
            status=status, run_id=self.run_id,
        )
        return False
