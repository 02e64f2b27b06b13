"""clean_links — drop duplicate (src, dst) edges for selected predicates.

Reference: iyp/post/clean_links.py:58-80 — for COUNTRY / RESOLVES_TO /
PART_OF / CATEGORIZED links with reference_org 'OONI', keep the first edge
per (src, dst) pair and delete the rest (A5 keep-first dedup).

Spark rewrite: per affected reference_name partition, a row_number window
over (subj_id, pred, obj_id) keeps rank 1 ("first" made deterministic by
ordering on the serialized props — the reference's insertion order is not
reproducible from the graph), then the partition is rewritten in place.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..store import GraphStore

NAME = "iyp.clean_links"
PREDS = ["COUNTRY", "RESOLVES_TO", "PART_OF", "CATEGORIZED"]
TARGET_ORG = "OONI"


class CleanLinks:
    NAME = NAME
    EXPECTED_PREDS: list[str] = []

    def __init__(self, store: GraphStore):
        self.store = store

    def run(self) -> dict:
        triples = self.store.read_triples()
        affected = [
            r["reference_name"]
            for r in triples.filter(
                (F.col("reference.reference_org") == TARGET_ORG)
                & F.col("pred").isin(PREDS)
            )
            .select("reference_name")
            .distinct()
            .collect()
        ]
        if not affected:
            self.store.log_lineage(self.NAME, "materialize", 0, 0.0)
            return {"post": self.NAME, "removed": 0}
        # ONE pass over all affected partitions: window keyed by
        # (reference_name, edge) keeps rank 1, one commit rewrites every
        # touched partition together.
        parts = triples.filter(F.col("reference_name").isin(affected))
        target = parts.filter(F.col("pred").isin(PREDS))
        keep_rest = parts.filter(~F.col("pred").isin(PREDS))
        w = W.partitionBy("reference_name", "subj_id", "pred", "obj_id").orderBy(
            F.asc_nulls_last(F.to_json("props"))
        )
        deduped = (
            target.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        # from the footers of the partitions about to be replaced: no job
        before = self.store.triple_rows(affected)
        n = self.store.replace_triples_multi(deduped.unionByName(keep_rest))
        removed_total = before - n
        self.store.log_lineage(self.NAME, "materialize", removed_total, 0.0)
        return {"post": self.NAME, "removed": removed_total}
