"""GraphStore — the lake layout + upsert/replace/lineage primitives.

Stands in for an Iceberg catalog. On a real cluster every method below maps
1:1 onto an Iceberg operation (noted per method); locally the tables are
partitioned parquet, and every write is one staged commit (``_commit``):

1. the new rows are written into ``_staging/<uuid>/new/`` under ``root``,
   outside every table, so readers and in-flight inputs see nothing of it;
2. the row count comes from the staged parquet footers (no Spark job);
3. each staged ``label=`` / ``reference_name=`` dir is swapped into its
   table: the live dir is parked under ``_staging/<uuid>/parked/<table>/``,
   the staged dir is renamed in, then the staging tree is removed.

A write's inputs stay readable until its swap, so a method may read the
very partitions it replaces without checkpointing them first. A crash
between the two renames of a swap leaves a parked dir whose live dir is
missing; constructing a ``GraphStore`` moves it back. Each partition thus
holds either its old rows or its new rows, never a mix and never nothing
(the same guarantee an Iceberg snapshot commit gives). Construct a store
when no other writer is committing to the same root.

Reads pin the table schema (``spark.read.schema(...)``), so building a
read DataFrame runs no Spark job: no schema inference over the footers.

Layout under ``root``:
    documents/ crawler=<name>/*.parquet     input corpus (written by fixtures)
    nodes/     label=<label>/*.parquet      node dictionaries
    triples/   reference_name=<c>/*.parquet fact table
    lineage/   *.parquet                    per-stage metrics + checkpoints
    _staging/  <uuid>/                      one in-flight commit each

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
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import DOCUMENTS_SCHEMA, LINEAGE_SCHEMA, NODES_SCHEMA, TRIPLES_SCHEMA

# the partition column of each table a commit writes
_PARTITION_COL = {"nodes": "label", "triples": "reference_name"}
# the columns inside one triples partition's files
_TRIPLE_FILE_SCHEMA = T.StructType(
    [f for f in TRIPLES_SCHEMA.fields if f.name != "reference_name"]
)


def _exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _, _, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    ]


def _footer_rows(path: str) -> int:
    """Rows of every parquet file under ``path``, read from the footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df``'s columns of ``schema`` in its order, each cast to the
    schema's type where its own type differs (nullability aside): every
    file the store writes reads back under the pinned schema."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return df.select([
        F.col(f.name) if have[f.name] == f.dataType.simpleString()
        else F.col(f.name).cast(f.dataType.simpleString()).alias(f.name)
        for f in schema.fields
    ])


def _triple_rows(df: DataFrame) -> DataFrame:
    """A crawler's triples as table rows, ``reference_name`` taken from
    the reference struct."""
    return _conform(
        df.withColumn("reference_name", F.col("reference.reference_name")),
        TRIPLES_SCHEMA,
    )


def _merge_props(old: F.Column, new: F.Column) -> F.Column:
    """``old`` updated by ``new``: ``new`` wins per prop key, NULL counts as
    empty, and the result is key-sorted."""
    empty = F.create_map().cast("map<string,string>")
    old, new = F.coalesce(old, empty), F.coalesce(new, empty)
    return F.map_from_entries(F.array_sort(F.concat(
        F.filter(F.map_entries(old),
                 lambda e: ~F.array_contains(F.map_keys(new), e["key"])),
        F.map_entries(new),
    )))


@dataclass
class GraphStore:
    spark: SparkSession
    root: str

    def __post_init__(self) -> None:
        # finish or roll back the commits a crashed writer left
        staging = os.path.join(self.root, "_staging")
        if os.path.isdir(staging):
            for name in os.listdir(staging):
                self._settle(os.path.join(staging, name))

    # ---------- the one commit behind every write ----------
    def _commit(self, out: DataFrame, table: str, part: str | None = None) -> int:
        """Write ``out`` as new partitions of ``table`` ("nodes" or
        "triples") and return its row count. ``out`` is written partitioned
        by the table's partition column, or, with ``part`` (a
        ``col=value`` dir name), unpartitioned into that one partition.

        The write lands under ``_staging/<uuid>/new/``; each staged
        partition dir then replaces its live dir: the live dir is parked
        under ``_staging/<uuid>/parked/<table>/`` and the staged dir
        renamed in. ``_settle`` removes the staging tree, and on a failure
        puts back every parked dir whose staged dir did not land."""
        stage = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        new = os.path.join(stage, "new")
        try:
            if part is None:
                out.write.partitionBy(_PARTITION_COL[table]).parquet(new)
            else:
                out.write.parquet(os.path.join(new, part))
            n = _footer_rows(new)
            live_root = os.path.join(self.root, table)
            parked = os.path.join(stage, "parked", table)
            os.makedirs(live_root, exist_ok=True)
            os.makedirs(parked)
            for d in sorted(os.listdir(new)):
                if "=" not in d:  # _SUCCESS and its checksum
                    continue
                live = os.path.join(live_root, d)
                if os.path.isdir(live):
                    os.rename(live, os.path.join(parked, d))
                os.rename(os.path.join(new, d), live)
        finally:
            self._settle(stage)
        return n

    def _settle(self, stage: str) -> None:
        """Move every parked dir under ``stage`` whose live dir is missing
        back into its table, then remove ``stage``. A parked dir whose live
        dir exists was replaced by its commit and goes with the tree."""
        parked = os.path.join(stage, "parked")
        for table in os.listdir(parked) if os.path.isdir(parked) else []:
            for d in os.listdir(os.path.join(parked, table)):
                live = os.path.join(self.root, table, d)
                if not os.path.exists(live):
                    os.rename(os.path.join(parked, table, d), live)
        shutil.rmtree(stage, ignore_errors=True)

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
        df = self.spark.read.schema(DOCUMENTS_SCHEMA).parquet(self.documents_path)
        if crawler is not None:
            # partition pruning: only this crawler's directory is scanned
            df = df.filter(F.col("crawler") == crawler)
        return df

    # ---------- nodes ----------
    def read_nodes(self, label: str | None = None) -> DataFrame:
        """S8 seed scan. Empty-store safe."""
        if not _exists(self.nodes_path):
            return self.spark.createDataFrame([], NODES_SCHEMA)
        df = self.spark.read.schema(NODES_SCHEMA).parquet(self.nodes_path)
        df = df.select([f.name for f in NODES_SCHEMA.fields])
        if label is not None:
            df = df.filter(F.col("label") == label)
        return df

    def upsert_nodes(self, df: DataFrame) -> int:
        """K1/K2/K4: MERGE new keys into the dictionary, union labels, and
        merge props of existing ones (last-writer-wins per key, like the
        reference's ``SET a += props``, iyp/__init__.py:326-446).

        Iceberg equivalent: ``MERGE INTO nodes t USING s ON t.label=s.label
        AND t.key=s.key WHEN MATCHED UPDATE SET labels=array_union(..),
        props=map_concat(..) WHEN NOT MATCHED INSERT *``.

        Locally: union + groupBy(label,key), committed over only the touched
        label partitions. Returns the rows of those partitions.
        """
        df = _conform(df, NODES_SCHEMA)
        # the touched labels, to read only their partitions; an empty
        # dictionary has none to read
        touched = ([r["label"] for r in df.select("label").distinct().collect()]
                   if _exists(self.nodes_path) else [])
        existing = self.read_nodes().filter(F.col("label").isin(touched))
        # _ord: monotonic ordinal within the incoming batch — tie-breaker so
        # that two values for the same (label,key,prop) in ONE batch resolve
        # deterministically to the later row (the reference's sequential
        # ``SET a += props`` is last-writer-wins; max_by on _gen alone would
        # pick nondeterministically between same-generation rows)
        incoming = df.withColumn("_gen", F.lit(1)).withColumn(
            "_ord", F.monotonically_increasing_id()
        )
        union = (
            existing.withColumn("_gen", F.lit(0)).withColumn("_ord", F.lit(0).cast("long"))
            .unionByName(incoming)
            .withColumn("labels", F.coalesce(F.col("labels"), F.array(F.col("label"))))
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
        return self._commit(self._node_layout(merged), "nodes")

    @staticmethod
    def _node_layout(df: DataFrame) -> DataFrame:
        # bucket within label so hot labels (AS, Prefix) write in parallel
        return df.select([f.name for f in NODES_SCHEMA.fields]).repartition(
            F.col("label"), F.pmod(F.col("node_id"), F.lit(8))
        )

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
        their entries, the stored map is key-sorted. Duplicate
        ``(label, key)`` rows in one batch merge the same way, in batch
        order: the later row wins per prop key, and a row with NULL props
        sets nothing. Returns the rows of the touched label partitions."""
        props_t = "map<string,string>"
        # one aggregate per (label, key): the batch's prop maps in row
        # order (as entry arrays, which sort; maps do not), folded left
        incoming = (
            df.select("label", "key", "props")
            .withColumn("_ord", F.monotonically_increasing_id())
            .groupBy("label", "key")
            .agg(F.array_sort(F.collect_list(
                F.struct("_ord", F.map_entries("props").alias("e"))
            )).alias("batch"))
            .select(
                "label", "key",
                F.aggregate(
                    "batch", F.lit(None).cast(props_t),
                    lambda acc, x: F.when(x["e"].isNull(), acc).otherwise(
                        _merge_props(acc, F.map_from_entries(x["e"]))),
                ).alias("new_props"),
            )
        )
        touched = [r["label"]
                   for r in incoming.select("label").distinct().collect()]
        if not touched or not _exists(self.nodes_path):
            return 0
        existing = self.read_nodes().filter(F.col("label").isin(touched))
        out = (
            existing.join(incoming, ["label", "key"], "left")
            .select(
                "label", "key", "node_id", "labels",
                F.when(
                    F.col("props").isNull() & F.col("new_props").isNull(),
                    F.lit(None).cast(props_t),
                ).otherwise(
                    _merge_props(F.col("props"), F.col("new_props"))
                ).alias("props"),
            )
        )
        return self._commit(self._node_layout(out), "nodes")

    # ---------- triples ----------
    def read_triples(self, reference_name: str | None = None) -> DataFrame:
        if not _exists(self.triples_path):
            return self.spark.createDataFrame([], TRIPLES_SCHEMA)
        df = self.spark.read.schema(TRIPLES_SCHEMA).parquet(self.triples_path)
        df = df.select([f.name for f in TRIPLES_SCHEMA.fields])
        if reference_name is not None:
            df = df.filter(F.col("reference_name") == reference_name)
        return df

    def replace_triples(self, reference_name: str, df: DataFrame) -> int:
        """K5 with rerun semantics: idempotent replace of one crawler's
        partition (ref: delete-by-reference_name then re-append,
        iyp/__init__.py:660-687, post/ip2prefix.py:113-122). Returns the
        rows written.

        Iceberg equivalent: ``overwritePartitions()`` /
        ``DELETE WHERE reference_name = X`` + append.

        The write is unpartitioned, straight into this crawler's staged
        ``reference_name=<X>/`` dir: each writer owns its own staging dir
        and partition, so concurrent per-crawler writes (the batched
        runner's thread pool) never race on a shared commit.
        """
        out = _triple_rows(df).drop("reference_name")
        return self._commit(
            out.repartition(F.col("pred"), F.pmod(F.col("subj_id"), F.lit(16))),
            "triples", f"reference_name={reference_name}",
        )

    def triple_rows(self, reference_names: list[str]) -> int:
        """Rows in the named triples partitions, from the parquet footers."""
        return sum(
            _footer_rows(os.path.join(self.triples_path, f"reference_name={r}"))
            for r in reference_names
        )

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

        out = _triple_rows(df).drop("reference_name")
        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        out.write.parquet(staging)
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

    def replace_triples_multi(self, df: DataFrame) -> int:
        """Multi-crawler variant of replace_triples: one commit replaces
        every reference_name partition present in ``df``."""
        return self._commit(
            _triple_rows(df).repartition(F.col("reference_name"), F.col("pred"),
                            F.pmod(F.col("subj_id"), F.lit(16))),
            "triples",
        )

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

        One staged commit, like every write here. Iceberg equivalent:
        `rewrite_data_files` (see store_iceberg.rewrite_data_files_sql)."""
        part = f"reference_name={reference_name}"
        part_dir = os.path.join(self.triples_path, part)
        if not _exists(part_dir):
            return (0, 0)
        before = _parquet_files(part_dir)
        total_bytes = sum(os.path.getsize(f) for f in before)
        n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
        df = self.spark.read.schema(_TRIPLE_FILE_SCHEMA).parquet(part_dir)
        self._commit(df.repartition(n_out), "triples", part)
        return (len(before), len(_parquet_files(part_dir)))

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
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

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
