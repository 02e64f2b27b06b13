"""Output checks made apart from the program.

The lake is read back with DuckDB straight from its parquet files, never
through Spark or ``GraphStore``; expectations come from the corpus
generator's ground truth, from the straight-line oracle in
``iyp_spark/golden.py``, from brute-force ``ipaddress`` / ``urllib.parse``,
or from DuckDB and plain-Python formulations of each gallery query.

Every check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import ipaddress
import os
from collections import Counter, deque
from urllib.parse import urlsplit

import duckdb
import pyarrow as pa

EDGE = ("subj_label", "subj_key", "pred", "obj_label", "obj_key")


def connect(threads: int = 4) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    return con


def triples_sql(lake: str) -> str:
    return (f"read_parquet('{os.path.join(lake, 'triples', '*', '*.parquet')}', "
            "hive_partitioning = true, union_by_name = true)")


def nodes_sql(lake: str) -> str:
    return (f"read_parquet('{os.path.join(lake, 'nodes', '*', '*.parquet')}', "
            "hive_partitioning = true, union_by_name = true)")


def diff_sets(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [f"{name}: {len(want - got)} missing, {len(got - want)} extra; "
            f"missing={sorted(want - got)[:3]} extra={sorted(got - want)[:3]}"]


def is_known_fault(got: set, want: set, faulty: set) -> bool:
    """True when ``got`` is wrong in exactly the known way: it equals the
    output ``faulty`` the fault produces, and that differs from ``want``.
    Any other difference is a failure of its own."""
    return got != want and got == faulty


def edges_of(con, lake: str, reference_name: str) -> set[tuple]:
    rows = con.execute(
        f"SELECT DISTINCT {', '.join(EDGE)} FROM {triples_sql(lake)} "
        "WHERE reference_name = ?", [reference_name]).fetchall()
    return set(rows)


# ------------------------------------------------------------ bulk lake

def check_bulk_lake(con, lake: str, truth: pa.Table) -> list[str]:
    """Distinct triples per crawler equal the generator's ground truth, row
    counts equal the rows the parseable documents emit, and every triple
    endpoint joins exactly one dictionary row on (label, key, node_id)."""
    con.register("truth", truth)
    t = triples_sql(lake)
    cols = ", ".join(("reference_name",) + EDGE)
    problems = []
    for ref, missing, extra in con.execute(f"""
        WITH got AS (SELECT DISTINCT {cols} FROM {t}),
             want AS (SELECT DISTINCT {cols} FROM truth),
             m AS (SELECT reference_name, count(*) n FROM (FROM want EXCEPT FROM got)
                   GROUP BY ALL),
             x AS (SELECT reference_name, count(*) n FROM (FROM got EXCEPT FROM want)
                   GROUP BY ALL)
        SELECT coalesce(m.reference_name, x.reference_name), coalesce(m.n, 0),
               coalesce(x.n, 0)
        FROM m FULL JOIN x USING (reference_name)""").fetchall():
        problems.append(f"{ref}: {missing} triples missing, {extra} extra")
    for ref, got, want in con.execute(f"""
        WITH g AS (SELECT reference_name, count(*) n FROM {t} GROUP BY ALL),
             w AS (SELECT reference_name, count(*) n FROM truth GROUP BY ALL)
        SELECT coalesce(g.reference_name, w.reference_name), coalesce(g.n, 0),
               coalesce(w.n, 0)
        FROM g FULL JOIN w USING (reference_name)
        WHERE coalesce(g.n, 0) != coalesce(w.n, 0)""").fetchall():
        problems.append(f"{ref}: {got} triple rows, expected {want}")
    problems += check_endpoints(con, lake)
    con.unregister("truth")
    return problems


def check_endpoints(con, lake: str) -> list[str]:
    (bad,) = con.execute(f"""
        WITH t AS (FROM {triples_sql(lake)}),
             ep AS (SELECT DISTINCT subj_label l, subj_key k, subj_id i FROM t
                    UNION SELECT DISTINCT obj_label, obj_key, obj_id FROM t),
             n AS (SELECT label, key, node_id, count(*) c FROM {nodes_sql(lake)}
                   GROUP BY ALL)
        SELECT count(*) FROM ep LEFT JOIN n
          ON n.label = ep.l AND n.key = ep.k AND n.node_id = ep.i
        WHERE n.c IS NULL OR n.c != 1""").fetchone()
    (dup,) = con.execute(f"""
        SELECT count(*) FROM (SELECT label, key FROM {nodes_sql(lake)}
                              GROUP BY ALL HAVING count(*) > 1)""").fetchone()
    problems = []
    if bad:
        problems.append(f"{bad} triple endpoints do not join exactly one node row")
    if dup:
        problems.append(f"{dup} (label, key) pairs have more than one node row")
    return problems


# ------------------------------------------------------------ post passes

def _node_rows(con, lake: str, where: str) -> list[tuple]:
    return con.execute(
        f"SELECT label, key, labels, props FROM {nodes_sql(lake)} WHERE {where}"
    ).fetchall()


def _props(p) -> dict:
    """A MAP value as DuckDB returns it ({'key': [...], 'value': [...]})."""
    return dict(zip(p["key"], p["value"])) if p else {}


def expected_ip2prefix(ips: list[str], prefixes: list[tuple[str, str]]) -> set[tuple]:
    """Brute-force most-specific covering prefix per (IP, prefix label) and
    per (prefix, other prefix) — the semantics of iyp/post/ip2prefix.py."""
    nets = [(lab, p, ipaddress.ip_network(p)) for lab, p in prefixes]
    by_label: dict[str, list] = {}
    for lab, p, n in nets:
        by_label.setdefault(lab, []).append((n, p))
    out = set()
    for ip in ips:
        addr = ipaddress.ip_address(ip)
        for lab, cands in by_label.items():
            best = None
            for n, p in cands:
                if n.version == addr.version and addr in n and (
                        best is None or n.prefixlen > best[0].prefixlen):
                    best = (n, p)
            if best:
                out.add(("IP", ip, "PART_OF", lab, best[1]))
    for lab0, p0, c in nets:
        if c.prefixlen == 0:
            continue
        for lab1, cands in by_label.items():
            best = None
            for n, p in cands:
                if n.version != c.version or not (
                        n.network_address <= c.network_address
                        and n.broadcast_address >= c.broadcast_address):
                    continue
                if n.prefixlen > c.prefixlen or (lab0 == lab1 and n.prefixlen == c.prefixlen):
                    continue
                if best is None or n.prefixlen > best[0].prefixlen:
                    best = (n, p)
            if best:
                out.add((lab0, p0, "PART_OF", lab1, best[1]))
    return out


def check_ip2prefix(con, lake: str) -> list[str]:
    ips = [k for _, k, _, _ in _node_rows(con, lake, "label = 'IP'")]
    prefixes = [(lab, k) for lab, k, labels, _ in _node_rows(
        con, lake, "list_contains(labels, 'Prefix') AND label != 'Prefix'")]
    return diff_sets("iyp.ip2prefix", edges_of(con, lake, "iyp.ip2prefix"),
                 expected_ip2prefix(ips, prefixes))


def check_address_family(con, lake: str) -> list[str]:
    problems = []
    for label, key, _, props in _node_rows(
            con, lake, "label = 'IP' OR list_contains(labels, 'Prefix')"):
        want = str(ipaddress.ip_network(key, strict=False).version)
        got = _props(props).get("af")
        if got != want:
            problems.append(f"{label} {key}: af={got!r}, expected {want}")
    return problems[:5]


def check_url2hostname(con, lake: str) -> list[str]:
    links = edges_of(con, lake, "iyp.url2hostname")
    problems = [f"{u} -> {h}: urllib host is {urlsplit(u).hostname!r}"
                for _, u, _, _, h in links if urlsplit(u).hostname != h]
    if not links:
        problems.append("iyp.url2hostname emitted no links")
    return problems[:5]


def ooni_edges(con, lake: str) -> list[tuple]:
    """(reference_name, subj_id, pred, obj_id) rows clean_links may touch."""
    return con.execute(f"""
        SELECT reference_name, subj_id, pred, obj_id FROM {triples_sql(lake)}
        WHERE reference.reference_org = 'OONI'
          AND pred IN ('COUNTRY', 'RESOLVES_TO', 'PART_OF', 'CATEGORIZED')""").fetchall()


def check_clean_links(before: list[tuple], after: list[tuple]) -> list[str]:
    problems = diff_sets("clean_links distinct edges", set(after), set(before))
    dups = [e for e, c in Counter(after).items() if c > 1]
    if dups:
        problems.append(f"{len(dups)} duplicate edges remain, e.g. {dups[0]}")
    return problems


# ------------------------------------------------------------ gallery queries

def _rows(con, sql: str, params: list) -> Counter:
    return Counter(con.execute(sql, params).fetchall())


def expected_query(con, lake: str, q) -> Counter | list:
    """The gallery query ``q`` (see run.Query) formulated in DuckDB over
    (label, key) columns instead of the program's hashed ids."""
    t = triples_sql(lake)
    if q.kind == "one_hop":
        return _rows(con, f"""SELECT subj_label, subj_key, pred, obj_label, obj_key,
            reference_name FROM {t} WHERE pred = ? AND subj_label = ? AND subj_key = ?""",
                     [q.preds[0], q.label, q.key])
    if q.kind == "neighborhood":
        return _rows(con, f"""
            SELECT pred, 'out', obj_label, obj_key, reference_name FROM {t}
            WHERE subj_label = $1 AND subj_key = $2
            UNION ALL
            SELECT pred, 'in', subj_label, subj_key, reference_name FROM {t}
            WHERE obj_label = $1 AND obj_key = $2""", [q.label, q.key])
    if q.kind == "path2":
        return _rows(con, f"""
            SELECT a.subj_label, a.subj_key, a.obj_label, a.obj_key,
                   b.obj_label, b.obj_key
            FROM {t} a JOIN {t} b
              ON a.obj_label = b.subj_label AND a.obj_key = b.subj_key
            WHERE a.pred = ? AND b.pred = ? AND a.subj_label = ? AND a.subj_key = ?""",
                     [q.preds[0], q.preds[1], q.label, q.key])
    if q.kind == "by_source":
        return _rows(con, f"""SELECT {', '.join(EDGE)} FROM {t}
            WHERE reference_name = ? AND subj_key = ?""", [q.source, q.key])
    if q.kind == "degree":
        return con.execute(f"""
            SELECT subj_label, subj_key, count(*) d, count(DISTINCT reference_name)
            FROM {t} WHERE pred = ? GROUP BY ALL
            ORDER BY d DESC, subj_label, subj_key LIMIT {q.limit}""",
                           [q.preds[0]]).fetchall()
    if q.kind == "bfs":
        return _rows(con, f"""
            WITH e AS (SELECT DISTINCT subj_label sl, subj_key sk, obj_label ol, obj_key ok
                       FROM {t} WHERE list_contains($1, pred)),
                 u AS (SELECT sl, sk, ol, ok FROM e UNION SELECT ol, ok, sl, sk FROM e),
                 h1 AS (SELECT DISTINCT ol l, ok k FROM u WHERE sl = $2 AND sk = $3
                        AND NOT (ol = $2 AND ok = $3)),
                 h2 AS (SELECT DISTINCT u.ol l, u.ok k FROM h1 JOIN u ON u.sl = h1.l
                        AND u.sk = h1.k
                        WHERE NOT (u.ol = $2 AND u.ok = $3)
                        EXCEPT SELECT l, k FROM h1)
            SELECT label, key, 0 FROM {nodes_sql(lake)} WHERE label = $2 AND key = $3
            UNION ALL SELECT l, k, 1 FROM h1
            UNION ALL SELECT l, k, 2 FROM h2""", [list(q.preds), q.label, q.key])
    raise ValueError(q.kind)


def python_bfs(con, lake: str, q) -> Counter:
    """Bounded BFS over the distinct undirected edge list, in plain Python."""
    adj: dict[tuple, set] = {}
    for sl, sk, ol, ok in con.execute(
            f"SELECT DISTINCT subj_label, subj_key, obj_label, obj_key "
            f"FROM {triples_sql(lake)} WHERE list_contains(?, pred)",
            [list(q.preds)]).fetchall():
        adj.setdefault((sl, sk), set()).add((ol, ok))
        adj.setdefault((ol, ok), set()).add((sl, sk))
    start = (q.label, q.key)
    (present,) = con.execute(
        f"SELECT count(*) FROM {nodes_sql(lake)} WHERE label = ? AND key = ?",
        [q.label, q.key]).fetchone()
    if not present:  # the program resolves visited ids through the dictionary
        return Counter()
    hops = {start: 0}
    todo = deque([start])
    while todo:
        v = todo.popleft()
        if hops[v] == q.max_hops:
            continue
        for w in adj.get(v, ()):
            if w not in hops:
                hops[w] = hops[v] + 1
                todo.append(w)
    return Counter((lab, key, h) for (lab, key), h in hops.items())


def check_query(con, lake: str, q, got) -> list[str]:
    want = expected_query(con, lake, q)
    if q.kind == "degree":
        got = [tuple(r) for r in got]
    else:
        got = Counter(tuple(r) for r in got)
    problems = [] if got == want else [
        f"{q.name}: program returned {sum(got.values()) if isinstance(got, Counter) else got}"
        f" rows, DuckDB {sum(want.values()) if isinstance(want, Counter) else want}"]
    if q.kind == "bfs" and want != python_bfs(con, lake, q):
        problems.append(f"{q.name}: DuckDB and Python BFS disagree")
    return problems
