"""Golden-compare: each Spark crawler's emitted (subj, pred, obj) triples vs
the straight-line Python oracle (golden.py), P/R ≥ 0.95 required, exact
equality expected at fixture scale (FIXTURES.md)."""

from __future__ import annotations

import pytest

from iyp_spark.crawlers import CRAWLER_ORDER, REGISTRY
from iyp_spark.fixtures import GENERATORS
from iyp_spark.framework import run_pipeline
from iyp_spark.golden import GOLDEN, golden_umbrella, precision_recall

SCALE = 0.3


@pytest.fixture(scope="module")
def built(store, corpus):
    """Run the full ordered pipeline once (order matters: umbrella prefers
    DomainName nodes created by tranco, mirroring config.json order)."""
    status = run_pipeline(store, CRAWLER_ORDER)
    assert all(v == "ok" for v in status.values()), status
    return status


def emitted_triples(store, name) -> set:
    rows = (
        store.read_triples(name)
        .select("subj_label", "subj_key", "pred", "obj_label", "obj_key")
        .collect()
    )
    return {tuple(r) for r in rows}


def golden_for(name: str) -> set:
    from iyp_spark.golden import (golden_inetintel, golden_nro_delegated,
                                  golden_peeringdb_ix)

    docs = GENERATORS[name](SCALE)
    if name == "inetintel.as_org":
        existing = {
            d.record["name"].strip()
            for d in GENERATORS["peeringdb.org"](SCALE)
        } | {
            d.record["name"]
            for d in GENERATORS["caida.as2org"](SCALE)
            if d.record["kind"] == "org" and not d.record["org_id"].startswith("@del")
        }
        return golden_inetintel(docs, existing)
    if name == "cisco.umbrella_top1m":
        # names already in the graph when umbrella runs: DomainName /
        # HostName endpoints from every crawler ordered before it
        existing_domains, existing_hosts = set(), set()
        for cls in CRAWLER_ORDER:
            if cls.NAME == name:
                break
            for t in golden_for(cls.NAME):
                sl, sk, _, ol, ok = t
                if sl == "DomainName":
                    existing_domains.add(sk)
                if ol == "DomainName":
                    existing_domains.add(ok)
                if sl == "HostName":
                    existing_hosts.add(sk)
                if ol == "HostName":
                    existing_hosts.add(ok)
        return golden_umbrella(docs, existing_domains, existing_hosts)
    if name == "worldbank.country_pop":
        from iyp_spark.golden import golden_worldbank

        # countries existing when worldbank runs: every crawler EXCEPT nro,
        # which runs after it in CRAWLER_ORDER (and except itself)
        existing_ccs = set()
        for other in GENERATORS:
            if other in (name, "nro.delegated_stats"):
                continue
            for t in golden_for(other):
                sl, sk, _, ol, ok = t
                if sl == "Country":
                    existing_ccs.add(sk)
                if ol == "Country":
                    existing_ccs.add(ok)
        return golden_worldbank(docs, existing_ccs)
    if name == "peeringdb.ix":
        org_map = {
            d.record["id"]: d.record["name"].strip()
            for d in GENERATORS["peeringdb.org"](SCALE)
        }
        return golden_peeringdb_ix(docs, org_map)
    if name == "ripe.atlas_measurements":
        from iyp_spark.golden import golden_atlas_measurements

        abandoned = set()
        for d in GENERATORS["ripe.atlas_probes"](SCALE):
            for p in d.record["results"]:
                if p["status"]["id"] in (0, 3):
                    abandoned.add(p["id"])
        return golden_atlas_measurements(docs, abandoned)
    if name == "peeringdb.fac":
        from iyp_spark.golden import golden_peeringdb_fac

        org_map = {
            d.record["id"]: d.record["name"].strip()
            for d in GENERATORS["peeringdb.org"](SCALE)
        }
        return golden_peeringdb_fac(docs, org_map)
    if name in ("cloudflare.dns_top_ases", "cloudflare.dns_top_locations"):
        from iyp_spark.golden import golden_cloudflare_dns_top

        eligible = set()
        for src in ("tranco.top1m", "cisco.umbrella_top1m",
                    "cloudflare.top100"):
            for t in golden_for(src):
                sl, sk, pred, ol, ok = t
                if sl == "DomainName" and pred == "RANK":
                    eligible.add(sk)
        return golden_cloudflare_dns_top(
            docs, eligible, "ases" if name.endswith("ases") else "locations"
        )
    if name.startswith("alice_lg."):
        from iyp_spark.fixtures import alice_lan_map
        from iyp_spark.golden import golden_alice_lg

        return golden_alice_lg(docs, alice_lan_map(SCALE))
    if name in ("caida.ixs", "caida.ix_asns"):
        from iyp_spark.golden import golden_caida_ix_asns, golden_caida_ixs

        pdb_map = {
            d.record["id"]: d.record["name"]
            for d in GENERATORS["peeringdb.ix"](SCALE)
            if "ixlan_set" in d.record
        }
        if name == "caida.ixs":
            return golden_caida_ixs(docs, pdb_map)
        ixid_map = {
            d.record["ix_id"]: pdb_map.get(d.record.get("pdb_id"),
                                           d.record["name"])
            for d in GENERATORS["caida.ixs"](SCALE)
            if not d.record.get("meta")
        }
        return golden_caida_ix_asns(docs, ixid_map)
    if name == "nro.delegated_stats":
        # every AS key created by crawlers that run before nro (worldbank
        # creates none, but skipping it also breaks the mutual recursion
        # between the two context-dependent goldens)
        existing = set()
        for other in GENERATORS:
            if other in (name, "worldbank.country_pop"):
                continue
            for t in golden_for(other):
                sl, sk, _, ol, ok = t
                if sl == "AS":
                    existing.add(int(sk))
                if ol == "AS":
                    existing.add(int(ok))
        return golden_nro_delegated(docs, existing)
    return GOLDEN[name](docs)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_crawler_matches_golden(store, built, name):
    golden = golden_for(name)
    emitted = emitted_triples(store, name)

    p, r = precision_recall(emitted, golden)
    assert p >= 0.95 and r >= 0.95, (
        f"{name}: P={p:.3f} R={r:.3f}; "
        f"missing={list(golden - emitted)[:5]} extra={list(emitted - golden)[:5]}"
    )
    # at fixture scale we expect exact agreement
    assert emitted == golden, (
        f"{name}: {len(golden - emitted)} missing, {len(emitted - golden)} extra; "
        f"missing={list(golden - emitted)[:5]} extra={list(emitted - golden)[:5]}"
    )


def test_originate_props_carry_entry(store, built):
    """ORIGINATE props include the source entry fields (ref pfx2asn.py:57)."""
    row = (
        store.read_triples("bgpkit.pfx2asn").select("props", "subj_key", "obj_key")
        .first()
    )
    assert row["props"]["asn"] == row["subj_key"]
    assert row["props"]["prefix"] == row["obj_key"]


def test_prefix_nodes_double_labeled(store, built):
    """BGPPrefix nodes carry the Prefix label too (ref pfx2asn.py:47-49)."""
    labels = store.read_nodes("BGPPrefix").select("labels").first()["labels"]
    assert set(labels) >= {"BGPPrefix", "Prefix"}


def test_rank_props_have_layer_and_rank(store, built):
    """Spot-check typed link props survive: asdb layer, tranco rank."""
    asdb = store.read_triples("stanford.asdb").filter("pred = 'CATEGORIZED'").first()
    assert asdb["props"]["layer"] in ("1", "2")
    tranco = store.read_triples("tranco.top1m").first()
    assert int(tranco["props"]["rank"]) >= 1


def node_set(store) -> set:
    """(label, key, labels, props) of every dictionary row, hashable."""
    return {
        (r["label"], r["key"], tuple(sorted(r["labels"])),
         tuple(sorted((r["props"] or {}).items())))
        for r in store.read_nodes().collect()
    }


def test_batched_pipeline_equals_sequential(spark, store, built):
    """The production run_pipeline_batched produces the same triples and
    the same node dictionary (labels and props included) as the sequential
    checkpointed path, and logs each partition write's own wall time."""
    import shutil
    import tempfile

    from iyp_spark.fixtures import write_corpus
    from iyp_spark.framework import run_pipeline_batched
    from iyp_spark.store import GraphStore

    cols = ("subj_label", "subj_key", "pred", "obj_label", "obj_key",
            "reference_name")
    root = tempfile.mkdtemp(prefix="iyp_batched_")
    try:
        st2 = GraphStore(spark, root)
        write_corpus(st2, scale=SCALE)
        run_pipeline_batched(st2, CRAWLER_ORDER)
        a = {tuple(r) for r in st2.read_triples().select(*cols).collect()}
        b = {tuple(r) for r in store.read_triples().select(*cols).collect()}
        assert a == b
        assert node_set(st2) == node_set(store)
        seconds = {
            r["crawler"]: r["seconds"]
            for r in st2.read_lineage().filter("stage = 'materialize'").collect()
        }
        assert set(seconds) == {c.NAME for c in CRAWLER_ORDER}
        assert all(s > 0 for s in seconds.values()), seconds
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_run_unpersists_its_mentions(spark):
    """SparkCrawler.run persists the mentions its node and triple writes
    share, and frees them when it ends."""
    import shutil
    import tempfile

    from pyspark import StorageLevel

    from iyp_spark.fixtures import write_corpus
    from iyp_spark.store import GraphStore

    root = tempfile.mkdtemp(prefix="iyp_unpersist_")
    try:
        st = GraphStore(spark, root)
        write_corpus(st, scale=0.05, crawlers=["bgpkit.pfx2asn"])
        crawler = REGISTRY["bgpkit.pfx2asn"](st)
        marked = []
        mark = crawler.m
        crawler.m = lambda df: marked.append(mark(df)) or marked[-1]
        crawler.run()
        assert marked
        assert all(df.storageLevel == StorageLevel.NONE for df in marked)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_alice_member_of_carries_routeserver_cache_time(store, built):
    """MEMBER_OF reference_time_modification is the per-routeserver
    cached_at (alice_lg/__init__.py:390-397), not the fixed fetch stamp."""
    import datetime

    from pyspark.sql import functions as F

    UTC = datetime.timezone.utc
    rows = (
        store.read_triples("alice_lg.decix")
        .filter(F.col("pred") == "MEMBER_OF")
        .select(
            F.col("props")["routeserver_id"].alias("rs"),
            F.unix_micros(F.col("reference.reference_time_modification"))
            .alias("us"),
        )
        .distinct()
        .collect()
    )
    by_rs = {r["rs"]: r["us"] for r in rows}
    assert by_rs, "no alice_lg MEMBER_OF triples"

    def us(dt):
        return int(dt.timestamp() * 1_000_000)

    expect = {
        "rs0": us(datetime.datetime(2026, 1, 5, 10, 0, 0, 123456, UTC)),
        "rs1": us(datetime.datetime(2026, 1, 5, 9, 30, 0, 500000, UTC)),
        "rs2": us(datetime.datetime(2026, 1, 5, 12, 0, 0, 0, UTC)),
        "rs3": None,  # malformed cached_at → no modification time
    }
    for rs, want in expect.items():
        if rs in by_rs:
            assert by_rs[rs] == want, (rs, by_rs[rs], want)


def test_dnsgraph_alias_cycle_no_spurious_cname(store):
    """ADVICE r2: for A RESOLVES_TO ip with an A<->B alias 2-cycle, the
    reference's recurse_cnames seeds processed with the start name, so A
    never re-derives (A, ip) as a source=CNAME link after two hops; only
    B picks up the CNAME-propagated resolve."""
    import json

    from pyspark.sql import functions as F

    from iyp_spark.crawlers import REGISTRY
    from iyp_spark.fixtures import FixtureDoc, _spans, docs_to_rows
    from iyp_spark.schema import DOCUMENTS_SCHEMA

    name = "openintel.dnsgraph"

    def e(i, rel, ft, fk, tt, tk):
        rec = {"from_nodeType": ft, "from_nodeKey": fk, "to_nodeType": tt,
               "to_nodeKey": tk, "relation_name": rel, "properties": {}}
        return FixtureDoc(
            f"cyc/{i}", name,
            _spans([("text", json.dumps(rec, sort_keys=True))]), rec)

    docs = [
        e(0, "RESOLVES_TO", "HOSTNAME", "a.cyc.example", "IP", "203.0.113.5"),
        e(1, "ALIAS_OF", "HOSTNAME", "b.cyc.example", "HOSTNAME", "a.cyc.example"),
        e(2, "ALIAS_OF", "HOSTNAME", "a.cyc.example", "HOSTNAME", "b.cyc.example"),
    ]
    df = store.spark.createDataFrame(docs_to_rows(docs), DOCUMENTS_SCHEMA)
    _, triples = REGISTRY[name](store).transform(df)
    allt = triples[0]
    for t in triples[1:]:
        allt = allt.unionByName(t)
    got = {
        (r["subj_key"], r["obj_key"], (r["props"] or {}).get("source"))
        for r in allt.filter(F.col("pred") == "RESOLVES_TO").collect()
    }
    assert ("a.cyc.example", "203.0.113.5", "A") in got
    assert ("b.cyc.example", "203.0.113.5", "CNAME") in got
    assert ("a.cyc.example", "203.0.113.5", "CNAME") not in got


def test_ansi_malformed_lines_never_abort(store):
    """ANSI-mode hazard (found by the round-4 verify drive): Catalyst may
    evaluate a projection's cast/element_at BEFORE the comment-line filter
    (CombineFilters + constraint inference reorder predicates), so under
    Spark 4's default ansi.enabled=true a '#'-comment or short line killed
    the whole batched build with CAST_INVALID_INPUT /
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT. All span-derived casts/indexing now
    use try_cast / try_element_at: malformed rows become nulls and are
    dropped by the existing filters — the reference's warn-skip semantics
    (iyp/crawlers/caida/__init__.py:34-38) — regardless of plan order."""
    import pytest as _pytest

    from iyp_spark.crawlers import REGISTRY
    from iyp_spark.fixtures import FixtureDoc, _spans, docs_to_rows
    from iyp_spark.schema import DOCUMENTS_SCHEMA

    spark = store.spark
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    cases = {
        # (crawler, [lines], expected surviving triple count)
        "caida.as_relationships_v4": (
            ["# source: topology inference", "1|2|0", "not-a-line"], 1),
        "manrs.members": (
            ["Organization,Areas,ASNs,a,b,c,d",   # header, skipped
             "short,row",                          # too few columns
             "Acme Corp,Global,65001,Yes,Yes,No,No"], None),
        "ripe.as_names": (["65000 \"Example AS\", FR", "#cmt"], None),
    }
    for name, (lines, want) in cases.items():
        if name not in REGISTRY:
            continue
        docs = [
            FixtureDoc(f"ansi/{i}", name, _spans([("text", ln)]))
            for i, ln in enumerate(lines)
        ]
        df = spark.createDataFrame(docs_to_rows(docs), DOCUMENTS_SCHEMA)
        try:
            _, triples = REGISTRY[name](store).transform(df)
        except NotImplementedError:
            continue
        allt = triples[0]
        for t in triples[1:]:
            allt = allt.unionByName(t)
        n = allt.count()  # must not raise, malformed rows dropped
        if want is not None:
            assert n == want, (name, n)
        else:
            assert n >= 0
