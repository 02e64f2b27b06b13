"""GraphStore's staged commit: crash recovery, the enrich_nodes merge
contract, and reads that start no Spark job."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from iyp_spark.schema import DOCUMENTS_SCHEMA, NODES_SCHEMA, TRIPLES_SCHEMA
from iyp_spark.store import GraphStore

REF = "test.crawler"


def triples_df(spark, n, tag):
    rows = [
        (i, "ORIGINATE", 1000 + i, "AS", str(i), "Prefix", f"10.{i}.0.0/16",
         {"tag": tag}, (REF, "org", None, None, None, None), REF)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, TRIPLES_SCHEMA)


def nodes_df(spark, keys, tag, label="AS"):
    return spark.createDataFrame(
        [(label, k, hash((label, k)), [label], {"tag": tag}) for k in keys],
        NODES_SCHEMA,
    )


def read_state(store, method):
    """The rows of the partition each write method replaces."""
    if method == "replace_triples":
        return sorted((r["subj_key"], r["props"]["tag"])
                      for r in store.read_triples(REF).collect())
    return sorted((r["key"], r["props"]["tag"])
                  for r in store.read_nodes("AS").collect())


def write(store, method, tag, fail=False):
    spark = store.spark
    if method == "replace_triples":
        df = triples_df(spark, 5, tag)
        col = "pred"
    else:
        df = nodes_df(spark, ["1", "2", "3", "4", "5"], tag)
        col = "key"
    if fail:
        df = df.withColumn(col, F.when(F.col(col).isNotNull(),
                                       F.raise_error(F.lit("injected"))))
    if method == "replace_triples":
        return store.replace_triples(REF, df)
    return store.upsert_nodes(df)


def stray_parquet(root):
    """Parquet files under nodes/ or triples/ outside a live partition dir."""
    stray = []
    for table in ("nodes", "triples"):
        base = os.path.join(root, table)
        for d, _, files in os.walk(base):
            for f in files:
                rel = os.path.relpath(os.path.join(d, f), base).split(os.sep)
                if f.endswith(".parquet") and not (len(rel) == 2 and "=" in rel[0]):
                    stray.append(os.path.join(d, f))
    return stray


def fail_from_call(monkeypatch, module, name, k, root):
    """Make ``module.name`` raise on its k-th call on a path under ``root``
    and on every later one, as if the process died there."""
    real = getattr(module, name)
    calls = []

    def fake(path, *args, **kwargs):
        if str(path).startswith(root):
            calls.append(path)
            if len(calls) >= k:
                raise OSError(f"injected {name} failure")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(module, name, fake)


@pytest.mark.parametrize("point", ["staging_write", "after_park", "before_cleanup"])
@pytest.mark.parametrize("method", ["replace_triples", "upsert_nodes"])
def test_commit_survives_failure(spark, monkeypatch, method, point):
    root = tempfile.mkdtemp(prefix="iyp_commit_")
    try:
        store = GraphStore(spark, root)
        assert write(store, method, "old") == 5
        old = read_state(store, method)
        assert {t for _, t in old} == {"old"}

        with pytest.raises(Exception, match="injected"):
            if point == "staging_write":
                write(store, method, "new", fail=True)
            elif point == "after_park":
                # rename 1 parks the live dir; 2 (moving the staged dir in)
                # and the rollback's rename back both fail
                fail_from_call(monkeypatch, os, "rename", 2, root)
                write(store, method, "new")
            else:
                fail_from_call(monkeypatch, shutil, "rmtree", 1, root)
                write(store, method, "new")
        monkeypatch.undo()
        if point == "after_park":
            # the crash state: the live dir is parked, not lost
            assert read_state(store, method) == []
            assert os.listdir(os.path.join(root, "_staging"))

        recovered = GraphStore(spark, root)
        want = (old if point != "before_cleanup"
                else [(k, "new") for k, _ in old])
        assert read_state(recovered, method) == want
        assert stray_parquet(root) == []
        assert os.listdir(os.path.join(root, "_staging")) == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_commit_replaces_partition_and_leaves_no_staging(spark):
    root = tempfile.mkdtemp(prefix="iyp_commit_")
    try:
        store = GraphStore(spark, root)
        store.replace_triples(REF, triples_df(spark, 5, "old"))
        assert store.replace_triples(REF, triples_df(spark, 3, "new")) == 3
        assert read_state(store, "replace_triples") == [
            (str(i), "new") for i in range(3)]
        assert os.listdir(os.path.join(root, "_staging")) == []
        assert stray_parquet(root) == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_enrich_nodes_merges_batch_duplicates_per_prop_key(spark):
    """Duplicate (label, key) rows in one batch merge per prop key, the
    later row winning; rows for absent nodes are ignored; untouched
    labels and nodes keep their props."""
    root = tempfile.mkdtemp(prefix="iyp_enrich_")
    try:
        store = GraphStore(spark, root)
        store.upsert_nodes(spark.createDataFrame([
            ("AS", "1", 1, ["AS"], {"a": "0", "keep": "k"}),
            ("AS", "2", 2, ["AS"], None),
            ("Country", "DE", 3, ["Country"], None),
        ], NODES_SCHEMA))
        batch = spark.createDataFrame([
            ("AS", "1", {"a": "1"}),
            ("AS", "1", {"b": "2"}),
            ("AS", "1", None),
            ("AS", "1", {"a": "3"}),
            ("AS", "999", {"a": "x"}),
        ], "label string, key string, props map<string,string>").coalesce(1)
        assert store.enrich_nodes(batch) == 2  # the rows of label=AS
        got = {(r["label"], r["key"]): r["props"]
               for r in store.read_nodes().collect()}
        assert got == {
            ("AS", "1"): {"a": "3", "b": "2", "keep": "k"},
            ("AS", "2"): None,
            ("Country", "DE"): None,
        }
        # the stored map is key-sorted
        row = store.read_nodes("AS").filter(F.col("key") == "1").collect()[0]
        assert list(row["props"]) == ["a", "b", "keep"]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_reads_start_no_spark_job(spark):
    """The reads pin their schema, so building the DataFrame runs no
    schema-inference job."""
    root = tempfile.mkdtemp(prefix="iyp_reads_")
    try:
        store = GraphStore(spark, root)
        store.write_documents(spark.createDataFrame(
            [("c/1", [("text", "x", None, 0)], "c")], DOCUMENTS_SCHEMA))
        store.replace_triples(REF, triples_df(spark, 5, "t"))
        store.upsert_nodes(nodes_df(spark, ["1", "2"], "n"))
        store.log_lineage(REF, "materialize", 5, 0.1)

        sc = spark.sparkContext
        group = f"reads-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "reads start no job")
        try:
            frames = [store.read_documents(), store.read_nodes(),
                      store.read_triples(), store.read_lineage()]
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(jobs) == []
        assert [f.count() for f in frames] == [1, 2, 5, 1]
    finally:
        shutil.rmtree(root, ignore_errors=True)
