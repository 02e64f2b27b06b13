"""SparkCrawler — the universal crawler dataflow as a Spark job.

Reference lifecycle (every crawler, e.g. iyp/crawlers/example/crawler.py:29-76
and create_db.py:158-186): fetch → parse rows → accumulate node sets + link
dicts → batch_get_nodes* (entity linking over Bolt) → rewrite endpoints to
ids → batch_add_links → unit_test. Here:

    documents scan (partition-pruned to this crawler)
      → parse() [native exprs / Arrow pandas UDF]         (subclass hook)
      → mentions DataFrame
      → nodes() / triples() [DataFrame programs]          (subclass hooks)
      → GraphStore.upsert_nodes + replace_triples         (idempotent)
      → unit_test: ≥1 triple per expected predicate       (iyp/__init__.py:760-776)

Entity linking is a pure column computation (node_id = xxhash64(label,key)),
so the reference's write-then-read id round-trip disappears entirely; only
"link-to-existing-only" crawlers (nro.delegated_stats, worldbank, inetintel
orgs) read the dictionary back — as a broadcast semi-join (S8).
"""

from __future__ import annotations

import datetime
import functools
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canon import node_id
from .store import GraphStore, StageTimer

FIXED_FETCH_TIME = datetime.datetime(2026, 1, 1, 0, 0, 0)  # FIXTURES.md seed date


class RelationCountError(Exception):
    """A unit test found zero triples for an expected predicate
    (ref: create_db.py:166-169)."""


class SparkCrawler:
    """Subclasses set ORG/URL/NAME/EXPECTED_PREDS and implement transform()."""

    ORG: str = ""
    URL: str = ""
    NAME: str = ""
    EXPECTED_PREDS: list[str] = []
    # labels whose nodes this crawler may emit without any edge; the batched
    # runner merges these rows from the node frames, as no endpoint has them
    EDGELESS_LABELS: tuple[str, ...] = ()

    def __init__(self, store: GraphStore):
        self.store = store
        self.spark = store.spark
        self.cache_mentions = False  # True only while run() writes
        self._persisted: list[DataFrame] = []

    def m(self, mentions: DataFrame) -> DataFrame:
        """Mark the parsed-mentions DataFrame. Inside ``run()`` it is
        persisted, so the node and triple writes share one parse pass, and
        unpersisted when ``run()`` ends; elsewhere it stays lazy."""
        if not self.cache_mentions:
            return mentions
        mentions = mentions.persist()
        self._persisted.append(mentions)
        return mentions

    # ---------- reference stamping (iyp/__init__.py:701-708) ----------
    def reference_col(self, time_mod: F.Column | None = None) -> F.Column:
        """``time_mod`` lets a crawler stamp a PER-ROW modification time
        (alice_lg's per-routeserver cached_at, alice_lg/__init__.py:390-397);
        default is the corpus-wide fixed fetch stamp."""
        return F.struct(
            F.lit(self.NAME).alias("reference_name"),
            F.lit(self.ORG).alias("reference_org"),
            F.lit(self.URL).alias("reference_url_data"),
            F.lit(None).cast("string").alias("reference_url_info"),
            F.lit(FIXED_FETCH_TIME).alias("reference_time_fetch"),
            (
                time_mod.cast("timestamp")
                if time_mod is not None
                else F.lit(FIXED_FETCH_TIME)
            ).alias("reference_time_modification"),
        )

    # ---------- helpers for subclasses ----------
    def text_span(self, idx: int) -> F.Column:
        """The idx-th *text* span of a document (media spans interleave:
        FIXTURES.md §1), preserving order by offset."""
        return F.try_element_at(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
            F.lit(idx + 1),
        )["text"]

    def make_nodes(
        self, df: DataFrame, label: str, key_col: str,
        extra_labels: list[str] | None = None, props_col: str | None = None,
    ) -> DataFrame:
        """Dictionary rows for one label from a mention column (K1)."""
        labels = [label] + (extra_labels or [])
        base = df.select(F.col(key_col).cast("string").alias("key"))
        if props_col is not None:
            base = df.select(
                F.col(key_col).cast("string").alias("key"),
                F.col(props_col).alias("props"),
            )
        else:
            base = base.withColumn("props", F.lit(None).cast("map<string,string>"))
        # NOTE: no dropDuplicates here — GraphStore.upsert_nodes groups by
        # (label, key) anyway; deduping twice would just add a shuffle.
        return (
            base.filter(F.col("key").isNotNull())
            .select(
                F.lit(label).alias("label"),
                "key",
                node_id(label, F.col("key")).alias("node_id"),
                F.array(*[F.lit(x) for x in labels]).alias("labels"),
                "props",
            )
        )

    def make_triples(
        self, df: DataFrame, pred: str | F.Column,
        subj_label: str, subj_key: str, obj_label: str, obj_key: str,
        props_col: F.Column | None = None,
        time_mod_col: F.Column | None = None,
    ) -> DataFrame:
        """Triple rows from a mention DataFrame (K5), endpoints id-linked
        via deterministic hashes (J1 without the shuffle). ``pred`` may be a
        Column for data-driven predicates (nro status edges,
        nro/delegated_stats.py:189-196)."""
        sk = F.col(subj_key).cast("string")
        ok = F.col(obj_key).cast("string")
        pred_col = F.lit(pred) if isinstance(pred, str) else pred
        return (
            df.filter(sk.isNotNull() & ok.isNotNull())
            .select(
                node_id(subj_label, sk).alias("subj_id"),
                pred_col.alias("pred"),
                node_id(obj_label, ok).alias("obj_id"),
                F.lit(subj_label).alias("subj_label"),
                sk.alias("subj_key"),
                F.lit(obj_label).alias("obj_label"),
                ok.alias("obj_key"),
                (
                    props_col
                    if props_col is not None
                    else F.lit(None).cast("map<string,string>")
                ).alias("props"),
                self.reference_col(time_mod=time_mod_col).alias("reference"),
            )
        )

    def melt_triples(
        self, df: DataFrame, subj_label: str, subj_key: str,
        specs: list[tuple[F.Column | None, str, str, str, F.Column | None]],
    ) -> DataFrame:
        """Multi-predicate emission in ONE pass over the mentions: build an
        array of candidate triple structs (null when the spec's condition
        fails) and explode it. A union of k make_triples branches evaluates
        the parse k times; this evaluates it once — the difference between
        k scans and 1 scan of the document table at scale.

        specs: (condition | None, pred, obj_label, obj_key_col, props | None).
        """
        null_props = F.lit(None).cast("map<string,string>")
        cands = []
        for cond, pred, obj_label, obj_key, props in specs:
            entry = F.struct(
                F.lit(pred).alias("pred"),
                F.lit(obj_label).alias("obj_label"),
                F.col(obj_key).cast("string").alias("obj_key"),
                (props if props is not None else null_props).alias("props"),
            )
            cands.append(entry if cond is None else F.when(cond, entry))
        sk = F.col(subj_key).cast("string")
        exploded = (
            df.filter(sk.isNotNull())
            .select(sk.alias("subj_key"), F.explode(F.array(*cands)).alias("t"))
            .filter(F.col("t").isNotNull() & F.col("t.obj_key").isNotNull())
        )
        return exploded.select(
            node_id(subj_label, F.col("subj_key")).alias("subj_id"),
            F.col("t.pred").alias("pred"),
            F.xxhash64(F.col("t.obj_label"), F.col("t.obj_key")).alias("obj_id"),
            F.lit(subj_label).alias("subj_label"),
            "subj_key",
            F.col("t.obj_label").alias("obj_label"),
            F.col("t.obj_key").alias("obj_key"),
            F.col("t.props").alias("props"),
            self.reference_col().alias("reference"),
        )

    def existing_keys(self, label: str) -> DataFrame:
        """S8: keys already in the dictionary, for link-to-existing-only
        crawlers. Small dimension → broadcast on the join side."""
        return self.store.read_nodes(label).select(F.col("key"))

    # ---------- subclass contract ----------
    def transform(self, docs: DataFrame) -> tuple[list[DataFrame], list[DataFrame]]:
        """docs → (node DataFrames, triple DataFrames)."""
        raise NotImplementedError

    # ---------- driver ----------
    def run(self, run_id: str | None = None) -> dict:
        run_id = run_id or uuid.uuid4().hex[:12]
        docs = self.store.read_documents(crawler=self.NAME)
        self.cache_mentions = True  # share one parse across the subtrees below
        try:
            with StageTimer(self.store, self.NAME, "parse", run_id):
                node_dfs, triple_dfs = self.transform(docs)
                triples = triple_dfs[0]
                for extra in triple_dfs[1:]:
                    triples = triples.unionByName(extra)
                # only transforms that READ the graph (S8 seed scans,
                # NEEDS_EXISTING) must materialize their outputs BEFORE
                # writing — they would otherwise re-read node/triple
                # partitions our own upsert is about to replace. Everyone
                # else skips the eager checkpoint: it doubles I/O for no
                # safety benefit (the persisted mentions already share the
                # parse between the node and triple subtrees).
                if getattr(self, "NEEDS_EXISTING", False):
                    node_dfs = [nd.localCheckpoint(eager=True) for nd in node_dfs]
                    triples = triples.localCheckpoint(eager=True)
            with StageTimer(self.store, self.NAME, "link_nodes", run_id) as t:
                n_nodes = 0
                for nd in node_dfs:
                    n_nodes += self.store.upsert_nodes(nd)
                t.rows = n_nodes
            with StageTimer(self.store, self.NAME, "materialize", run_id) as t:
                n_triples = self.store.replace_triples(self.NAME, triples)
                t.rows = n_triples
        finally:
            self.cache_mentions = False
            for df in self._persisted:
                df.unpersist()
            self._persisted.clear()
        return {"crawler": self.NAME, "nodes": n_nodes, "triples": n_triples}

    def unit_test(self) -> None:
        """≥1 triple of each expected predicate under this reference_name
        (ref iyp/__init__.py:760-776; declared lists per crawler, e.g.
        caida/asrank.py:118-119)."""
        got = {
            r["pred"]
            for r in self.store.read_triples(self.NAME)
            .select("pred")
            .distinct()
            .collect()
        }
        missing = [p for p in self.EXPECTED_PREDS if p not in got]
        if missing:
            raise RelationCountError(f"{self.NAME}: no triples for {missing}")


# subtype labels applied when deriving the node dictionary from triple
# endpoints: primary label → extra labels
SUBTYPE_LABELS = {
    "BGPPrefix": ["Prefix"],
    "RIRPrefix": ["Prefix"],
    "GeoPrefix": ["Prefix"],
    "PeeringLAN": ["Prefix"],
    "RPKIPrefix": ["Prefix"],
    "IANAPrefix": ["Prefix"],
    "RDNSPrefix": ["Prefix"],
}


def endpoint_labels(label: F.Column) -> F.Column:
    """The labels a node derived from a triple endpoint carries: its
    primary label plus its SUBTYPE_LABELS."""
    extra = F.coalesce(
        *[
            F.when(label == lab, F.array(*[F.lit(x) for x in xs]))
            for lab, xs in SUBTYPE_LABELS.items()
        ],
        F.array().cast("array<string>"),
    )
    return F.concat(F.array(label), extra)


def beyond_endpoints(crawler: SparkCrawler, node_dfs: list[DataFrame]) -> DataFrame:
    """The rows of ``crawler``'s node frames that triple endpoints cannot
    reproduce: rows with props, rows with labels beyond
    ``endpoint_labels``, and rows of the labels the crawler declares in
    EDGELESS_LABELS. The filter is pushed into each frame of the union;
    for a make_nodes frame without props or extra labels it is a constant
    false, which the optimizer turns into an empty relation: that frame is
    never scanned. One filter over the union keeps the driver's plan
    analysis per crawler, not per frame."""
    return functools.reduce(DataFrame.unionByName, node_dfs).filter(
        F.col("props").isNotNull()
        | (F.size(F.array_except("labels", endpoint_labels(F.col("label")))) > 0)
        | F.col("label").isin(list(crawler.EDGELESS_LABELS))
    )


def derive_nodes_from_triples(store: GraphStore, reference_names: list[str],
                              crawler_nodes: list[DataFrame]) -> int:
    """Merge into the node dictionary every endpoint of the triples under
    ``reference_names``, labelled by ``endpoint_labels``, together with
    ``crawler_nodes`` (the ``beyond_endpoints`` rows of the same crawlers),
    under the ``upsert_nodes`` rules. One columnar scan of the written
    partitions replaces a second parse pass for every node frame whose
    rows the endpoints already give."""
    spark = store.spark
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    # the endpoint dedup is small relative to the fact table — fewer shuffle
    # partitions means fewer tiny tasks and output files for this one job
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    t = store.read_triples().filter(F.col("reference_name").isin(reference_names))
    subj = t.select(F.col("subj_label").alias("label"), F.col("subj_key").alias("key"))
    obj = t.select(F.col("obj_label").alias("label"), F.col("obj_key").alias("key"))
    nodes = (
        subj.unionByName(obj)
        .dropDuplicates(["label", "key"])
        .select(
            "label", "key",
            F.xxhash64("label", "key").alias("node_id"),
            endpoint_labels(F.col("label")).alias("labels"),
            F.lit(None).cast("map<string,string>").alias("props"),
        )
    )
    # crawler rows after the endpoints, in crawler order: upsert_nodes
    # resolves a prop set twice in one batch to the later row
    for nd in crawler_nodes:
        nodes = nodes.unionByName(nd)
    try:
        return store.upsert_nodes(nodes)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _wave(crawler: type[SparkCrawler]) -> int:
    """Scheduling tier of a crawler: 1 = no graph reads; 2 = reads wave-1
    output (S8 seed scans); 3 = reads output of wave-2 crawlers too (nro
    links ASes that peeringdb.ix creates, worldbank links Countries from
    the same); 4 = reads wave-3 output."""
    return getattr(crawler, "WAVE", 2 if getattr(crawler, "NEEDS_EXISTING", False) else 1)


def run_pipeline_batched(store: GraphStore, crawlers: list[type[SparkCrawler]],
                         nodes_from_triples: bool = True,
                         resume: bool = False,
                         fail_after: int | None = None) -> dict:
    """Throughput path: the production weekly build. Crawlers run in waves
    (``WAVE``); every wave runs the same body:

    1. transform each crawler lazily;
    2. write each crawler's ``reference_name=`` partition from a driver
       thread pool, logging its own 'materialize' lineage row with that
       write's wall seconds as it lands;
    3. merge the wave's nodes once with ``derive_nodes_from_triples``:
       the endpoints of its partitions plus its crawlers'
       ``beyond_endpoints`` rows.

    The result equals the sequential ``run_pipeline``'s triples and
    nodes. ``nodes_from_triples`` is accepted for older callers and must
    be True.

    ``resume=True`` skips the writes of crawlers whose 'materialize'
    lineage record exists, so their partitions are never recomputed or
    rewritten; their waves still merge their nodes, which a crash before
    the merge would otherwise lose (the merge is idempotent).
    ``fail_after`` injects a crash after N partition writes, made one at a
    time, for the kill/resume test."""
    if not nodes_from_triples:
        raise ValueError("run_pipeline_batched always derives nodes from "
                         "triple endpoints; nodes_from_triples must be True")
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    done = store.completed_crawlers()
    all_docs = store.read_documents()  # one listing, filtered per crawler
    written: list[int] = []
    n_nodes = 0

    def _write(item):
        name, df = item
        if fail_after is not None and len(written) >= fail_after:
            raise RuntimeError("injected failure for resume test")
        t = time.time()
        n = store.replace_triples(name, df)
        store.log_lineage(name, "materialize", n, time.time() - t, run_id=run_id)
        written.append(n)

    for w in sorted({_wave(c) for c in crawlers}):
        wave = [cls(store) for cls in crawlers if _wave(cls) == w]
        crawler_nodes = []
        triples: dict[str, DataFrame] = {}
        for crawler in wave:
            node_dfs, triple_dfs = crawler.transform(
                all_docs.filter(F.col("crawler") == crawler.NAME)
            )
            crawler_nodes.append(beyond_endpoints(crawler, node_dfs))
            if resume and crawler.NAME in done:
                continue
            triples[crawler.NAME] = functools.reduce(DataFrame.unionByName, triple_dfs)
        if w > 1 and done.intersection(triples):
            # a rerun into an existing lake: graph-reading transforms listed
            # partitions this wave is about to replace — read them first
            triples = {n: df.localCheckpoint(eager=True) for n, df in triples.items()}
            crawler_nodes = [nd.localCheckpoint(eager=True) for nd in crawler_nodes]
        if triples:
            workers = 1 if fail_after is not None else min(4, len(triples))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                list(ex.map(_write, triples.items()))
        n_nodes += derive_nodes_from_triples(store, [c.NAME for c in wave], crawler_nodes)
    return {
        "nodes": n_nodes,
        "triples": sum(written),
        "seconds": time.time() - t0,
    }


def run_pipeline(
    store: GraphStore,
    crawlers: list[type[SparkCrawler]],
    resume: bool = False,
    fail_after: int | None = None,
) -> dict:
    """Entry point A (create_db.py:158-186): ordered crawler loop with
    per-crawler status capture; ``resume=True`` skips crawlers whose
    materialize stage already completed (S7 checkpoint semantics).
    ``fail_after`` injects a crash for the kill/resume test."""
    run_id = uuid.uuid4().hex[:12]
    done = store.completed_crawlers() if resume else set()
    status: dict[str, str] = {}
    ran = 0
    for cls in crawlers:
        crawler = cls(store)
        if crawler.NAME in done:
            status[crawler.NAME] = "skipped (checkpoint)"
            continue
        if fail_after is not None and ran >= fail_after:
            raise RuntimeError("injected failure for resume test")
        try:
            crawler.run(run_id=run_id)
            crawler.unit_test()
            status[crawler.NAME] = "ok"
        except RelationCountError as e:  # recorded, not fatal (create_db.py:171-179)
            status[crawler.NAME] = f"unit_test failed: {e}"
        ran += 1
    return status
