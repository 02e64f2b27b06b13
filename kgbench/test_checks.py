"""Each output check must be able to fail.

A small lake is written straight from the generator's ground truth with
pyarrow (no Spark), so the checks pass on it; then one triple is dropped,
one added, or one node id mislabelled, and the checks must reject it.

    python3 -m pytest kgbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys
import zlib
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from run import Query  # noqa: E402

REF = pa.struct([("reference_name", pa.string()), ("reference_org", pa.string())])


def nid(label: str, key: str) -> int:
    return zlib.crc32(f"{label}\x00{key}".encode())


def write_lake(root: str, rows: list[tuple], nodes: dict[tuple, int] | None = None,
               org: str = "BGPKIT") -> None:
    """rows: (reference_name, subj_label, subj_key, pred, obj_label, obj_key)."""
    by_ref: dict[str, list] = {}
    for r in rows:
        by_ref.setdefault(r[0], []).append(r)
    ends = {}
    for ref, rs in by_ref.items():
        d = os.path.join(root, "triples", f"reference_name={ref}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({
            "subj_id": [nid(r[1], r[2]) for r in rs],
            "pred": [r[3] for r in rs],
            "obj_id": [nid(r[4], r[5]) for r in rs],
            "subj_label": [r[1] for r in rs], "subj_key": [r[2] for r in rs],
            "obj_label": [r[4] for r in rs], "obj_key": [r[5] for r in rs],
            "reference": pa.array([{"reference_name": ref, "reference_org": org}] * len(rs),
                                  REF),
        }), os.path.join(d, "part-0.parquet"))
        for r in rs:
            ends[(r[1], r[2])] = nid(r[1], r[2])
            ends[(r[4], r[5])] = nid(r[4], r[5])
    nodes = ends if nodes is None else nodes
    by_label: dict[str, list] = {}
    for (label, key), i in nodes.items():
        by_label.setdefault(label, []).append((key, i))
    for label, ks in by_label.items():
        d = os.path.join(root, "nodes", f"label={label}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({
            "key": [k for k, _ in ks], "node_id": pa.array([i for _, i in ks], pa.int64()),
            "labels": [[label] for _ in ks],
        }), os.path.join(d, "part-0.parquet"))


@pytest.fixture(scope="module")
def corpus():
    return gen.generate(gen.CorpusSpec(n_docs=3000, n_asns=400, n_prefixes=600), seed=7)


@pytest.fixture()
def con():
    c = checks.connect(threads=2)
    yield c
    c.close()


def truth_rows(corpus) -> list[tuple]:
    t = corpus.truth
    return list(zip(*(t[c].to_pylist() for c in gen.TRUTH_SCHEMA.names)))


def test_generator_is_seeded(corpus):
    again = gen.generate(corpus.spec, seed=7)
    assert again.truth.equals(corpus.truth)
    assert all(again.docs[c].equals(corpus.docs[c]) for c in gen.CRAWLERS)
    other = gen.generate(corpus.spec, seed=8)
    assert not other.truth.equals(corpus.truth)


def test_generator_truth_is_canonical(corpus):
    import ipaddress

    for ref, _, _, pred, _, ok in truth_rows(corpus):
        if pred == "ORIGINATE":
            assert ipaddress.ip_network(ok).compressed == ok
    docs = corpus.docs["bgpkit.pfx2asn"]
    n_ok = sum(1 for r in truth_rows(corpus) if r[0] == "bgpkit.pfx2asn")
    assert 0 < docs.num_rows - n_ok < docs.num_rows * 0.05  # ~2% malformed


def test_bulk_lake_accepted(tmp_path, con, corpus):
    write_lake(str(tmp_path), truth_rows(corpus))
    assert checks.check_bulk_lake(con, str(tmp_path), corpus.truth) == []


def test_dropped_triple_rejected(tmp_path, con, corpus):
    rows = truth_rows(corpus)
    once = [r for r, c in Counter(rows).items() if c == 1]
    rows.remove(once[0])
    write_lake(str(tmp_path), rows)
    problems = checks.check_bulk_lake(con, str(tmp_path), corpus.truth)
    assert any("missing" in p for p in problems)
    assert any("triple rows" in p for p in problems)


def test_duplicate_row_dropped_rejected(tmp_path, con, corpus):
    rows = truth_rows(corpus)
    twice = [r for r, c in Counter(rows).items() if c > 1]
    rows.remove(twice[0])  # distinct set unchanged, row count is not
    write_lake(str(tmp_path), rows)
    assert checks.check_bulk_lake(con, str(tmp_path), corpus.truth)


def test_added_triple_rejected(tmp_path, con, corpus):
    rows = truth_rows(corpus) + [("bgpkit.pfx2asn", "AS", "64512", "ORIGINATE",
                                  "BGPPrefix", "192.0.2.0/24")]
    write_lake(str(tmp_path), rows)
    problems = checks.check_bulk_lake(con, str(tmp_path), corpus.truth)
    assert any("extra" in p for p in problems)


def test_mislabelled_node_id_rejected(tmp_path, con, corpus):
    rows = truth_rows(corpus)
    nodes = {}
    for r in rows:
        nodes[(r[1], r[2])] = nid(r[1], r[2])
        nodes[(r[4], r[5])] = nid(r[4], r[5])
    victim = next(k for k in nodes if k[0] == "BGPPrefix")
    nodes[victim] += 1
    write_lake(str(tmp_path), rows, nodes)
    problems = checks.check_bulk_lake(con, str(tmp_path), corpus.truth)
    assert problems == ["1 triple endpoints do not join exactly one node row"]


def test_missing_node_rejected(tmp_path, con):
    rows = [("x", "AS", "1", "PEERS_WITH", "AS", "2")]
    write_lake(str(tmp_path), rows, {("AS", "1"): nid("AS", "1")})
    assert checks.check_endpoints(con, str(tmp_path))


GRAPH = [("x", "AS", "1", "PEERS_WITH", "AS", "2"), ("x", "AS", "2", "PEERS_WITH", "AS", "3"),
         ("x", "AS", "3", "PEERS_WITH", "AS", "4"), ("x", "AS", "5", "PEERS_WITH", "AS", "1"),
         ("x", "AS", "1", "ORIGINATE", "BGPPrefix", "10.0.0.0/8"),
         ("x", "AS", "2", "COUNTRY", "Country", "JP")]


def test_bfs_formulations_agree(tmp_path, con):
    write_lake(str(tmp_path), GRAPH)
    q = Query("bfs", "1", ("PEERS_WITH",))
    want = Counter([("AS", "1", 0), ("AS", "2", 1), ("AS", "5", 1), ("AS", "3", 2)])
    assert checks.expected_query(con, str(tmp_path), q) == want
    assert checks.python_bfs(con, str(tmp_path), q) == want
    assert checks.check_query(con, str(tmp_path), q, list(want)) == []
    assert checks.check_query(con, str(tmp_path), q, list(want)[:-1])


@pytest.mark.parametrize("q, right", [
    (Query("one_hop", "1", ("PEERS_WITH",)), [("AS", "1", "PEERS_WITH", "AS", "2", "x")]),
    (Query("path2", "1", ("PEERS_WITH", "COUNTRY")), [("AS", "1", "AS", "2", "Country", "JP")]),
    (Query("degree", "1", ("PEERS_WITH",), limit=2),
     [("AS", "1", 1, 1), ("AS", "2", 1, 1)]),
    (Query("neighborhood", "2"), [("PEERS_WITH", "out", "AS", "3", "x"),
                                  ("COUNTRY", "out", "Country", "JP", "x"),
                                  ("PEERS_WITH", "in", "AS", "1", "x")]),
    (Query("by_source", "1", source="x"), [("AS", "1", "PEERS_WITH", "AS", "2"),
                                           ("AS", "1", "ORIGINATE", "BGPPrefix",
                                            "10.0.0.0/8")]),
])
def test_query_checks_fail_on_wrong_rows(tmp_path, con, q, right):
    write_lake(str(tmp_path), GRAPH)
    assert checks.check_query(con, str(tmp_path), q, right) == []
    assert checks.check_query(con, str(tmp_path), q, right[:-1])
    assert checks.check_query(con, str(tmp_path), q, right + [right[0]])


def test_ip2prefix_oracle():
    got = checks.expected_ip2prefix(
        ["10.1.2.3", "2001:db8::1"],
        [("BGPPrefix", "10.0.0.0/8"), ("BGPPrefix", "10.1.0.0/16"),
         ("RIRPrefix", "10.0.0.0/8"), ("BGPPrefix", "2001:db8::/32")])
    assert got == {
        ("IP", "10.1.2.3", "PART_OF", "BGPPrefix", "10.1.0.0/16"),
        ("IP", "10.1.2.3", "PART_OF", "RIRPrefix", "10.0.0.0/8"),
        ("IP", "2001:db8::1", "PART_OF", "BGPPrefix", "2001:db8::/32"),
        ("BGPPrefix", "10.1.0.0/16", "PART_OF", "BGPPrefix", "10.0.0.0/8"),
        ("BGPPrefix", "10.1.0.0/16", "PART_OF", "RIRPrefix", "10.0.0.0/8"),
        ("BGPPrefix", "10.0.0.0/8", "PART_OF", "RIRPrefix", "10.0.0.0/8"),
        ("RIRPrefix", "10.0.0.0/8", "PART_OF", "BGPPrefix", "10.0.0.0/8"),
    }


def test_url2hostname_check(tmp_path, con):
    write_lake(str(tmp_path), [
        ("iyp.url2hostname", "URL", "https://a.example.com:8443/x", "PART_OF",
         "HostName", "a.example.com"),
        ("iyp.url2hostname", "URL", "https://b.example.com/", "PART_OF",
         "HostName", "c.example.com"),
    ])
    assert len(checks.check_url2hostname(con, str(tmp_path))) == 1


def test_clean_links_check():
    before = [("ooni.x", 1, "COUNTRY", 2), ("ooni.x", 1, "COUNTRY", 2), ("ooni.x", 1, "PART_OF", 3)]
    assert checks.check_clean_links(before, before[1:]) == []
    assert checks.check_clean_links(before, before)              # duplicate left
    assert checks.check_clean_links(before, before[:1])          # edge lost


def test_address_family_check(tmp_path, con):
    d = tmp_path / "nodes" / "label=BGPPrefix"
    d.mkdir(parents=True)
    props = pa.array([[("af", "4")], [("af", "4")]], pa.map_(pa.string(), pa.string()))
    pq.write_table(pa.table({
        "key": ["10.0.0.0/8", "2001:db8::/32"], "node_id": pa.array([1, 2], pa.int64()),
        "labels": [["BGPPrefix", "Prefix"]] * 2, "props": props,
    }), str(d / "part-0.parquet"))
    problems = checks.check_address_family(con, str(tmp_path))
    assert len(problems) == 1 and "2001:db8::/32" in problems[0]


def test_golden_diff_reports_both_directions():
    want = {("AS", "1", "NAME", "Name", "a"), ("AS", "2", "NAME", "Name", "b")}
    assert checks.diff_sets("c", set(want), want) == []
    assert "1 missing, 0 extra" in checks.diff_sets("c", {("AS", "1", "NAME", "Name", "a")}, want)[0]
    assert "0 missing, 1 extra" in checks.diff_sets(
        "c", want | {("AS", "3", "NAME", "Name", "c")}, want)[0]


def test_known_fault_exemption_is_narrow():
    want = {("AtlasProbe", "1", "PART_OF", "AtlasMeasurement", "9"),
            ("AtlasMeasurement", "9", "TARGET", "AS", "64500")}
    faulty = want | {("AtlasProbe", "2", "PART_OF", "AtlasMeasurement", "9")}
    assert checks.is_known_fault(faulty, want, faulty)
    assert not checks.is_known_fault(want, want, faulty)  # mended: no fault
    # anything beyond the fault's own output is a failure of its own
    assert not checks.is_known_fault(faulty - {sorted(want)[0]}, want, faulty)
    assert not checks.is_known_fault(
        faulty | {("AtlasMeasurement", "9", "TARGET", "AS", "64501")}, want, faulty)
