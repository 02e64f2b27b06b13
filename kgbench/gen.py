"""Seeded corpus generator for the bulk workload.

Emits documents in the span shapes the four bulk crawlers parse
(``bgpkit.pfx2asn``, ``ripe.as_names``, ``caida.asrank``,
``bgpkit.as2rel_v4``) and keeps the ground truth by construction: every
record's canonical prefix (rendered with Python ``ipaddress``), ASN, name
and country are known before any text is written, so the expected triples
never come from parsing the text back.

Key cardinality and skew are parameters (``CorpusSpec``). ASNs used as
link endpoints are drawn Zipf-skewed over the ASN pool with the exponent of
the repository's own fixtures (``fixtures.zipf_asns``, weights 1/rank), so a
few hot ASNs carry many edges and the tail is cold. The exponent, the pool
sizes and the malformed shares are assumptions, not fitted to a measured
routing table; see README.md.

The documents land in ``<lake>/documents/crawler=<name>/part-NNNNN.parquet``
with the schema ``GraphStore.read_documents`` expects; the program sees only
those files.
"""

from __future__ import annotations

import ipaddress
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CRAWLERS = ("bgpkit.pfx2asn", "ripe.as_names", "caida.asrank", "bgpkit.as2rel_v4")
# documents per crawler, in the proportions of fixtures.all_docs
SHARES = {"bgpkit.pfx2asn": 1000, "ripe.as_names": 800,
          "caida.asrank": 400, "bgpkit.as2rel_v4": 600}
MALFORMED_PREFIXES = ["300.1.2.0/24", "10.0.0.0/33", "not-a-prefix",
                      "1.2.3.4/-1", "10.1.2.3/24", "2001:db8::/129"]
COUNTRIES = ["JP", "US", "DE", "FR", "NL", "BR", "IN", "AU", "ZA", "GB",
             "IT", "ES", "SE", "NO", "FI", "PL", "CZ", "CH", "AT", "BE",
             "CA", "MX", "AR", "CL", "KR", "SG", "ID", "TH", "VN", "KE"]
WORDS = ["Net", "Telecom", "Fiber", "Cloud", "Link", "Wave", "Core",
         "Edge", "Peak", "Nova", "Delta", "Orbit", "Pulse", "Vertex"]
SUFFIXES = ["Inc", "LLC", "GmbH", "SA", "Ltd"]
FILES_PER_CRAWLER = 16  # GraphStore.write_documents buckets each crawler 16 ways

TRUTH_SCHEMA = pa.schema([
    ("reference_name", pa.string()), ("subj_label", pa.string()),
    ("subj_key", pa.string()), ("pred", pa.string()),
    ("obj_label", pa.string()), ("obj_key", pa.string()),
])


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 400_000
    n_asns: int = 60_000
    n_prefixes: int = 200_000
    zipf_s: float = 1.0          # ASN endpoint skew: P(rank r) ~ 1 / r^s
    malformed_share: float = 0.02    # prefixes no parser may accept
    noncanonical_share: float = 0.10  # valid prefixes written non-canonically
    as_prefix_share: float = 0.10    # "AS123" instead of "123"


@dataclass
class Corpus:
    spec: CorpusSpec
    seed: int
    docs: dict[str, pa.Table]      # crawler -> (doc_id, spans)
    truth: pa.Table                # TRUTH_SCHEMA, one row per emitted triple
    asn_by_rank: np.ndarray        # ASN pool, hottest first

    @property
    def n_docs(self) -> int:
        return sum(t.num_rows for t in self.docs.values())


def _zipf_ranks(rng: np.random.Generator, n_pool: int, s: float, k: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_pool + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(k)), n_pool - 1)


def _prefix_pool(rng: np.random.Generator, n: int) -> list[tuple[int, int, int]]:
    """(version, network int, length) per pool prefix; half v4, half v6,
    distinct. Rendering to text is left to ``_render`` so that only the
    prefixes a corpus uses pay for ``ipaddress``."""
    pool: dict[tuple[int, int, int], None] = {}
    plen4 = rng.choice(np.array([16, 20, 22, 24]), n)
    slots = rng.integers(1 << 16, 224 << 16, n)  # /24 slots in 1.0.0.0-223.255.255.0
    for slot, plen in zip(slots.tolist(), plen4.tolist()):
        if len(pool) >= n // 2:
            break
        pool[(4, (slot << 8) & ~((1 << (32 - plen)) - 1), plen)] = None
    plen6 = rng.choice(np.array([32, 40, 48]), n)
    low = rng.integers(0, 1 << 32, n)
    for v, plen in zip(low.tolist(), plen6.tolist()):
        if len(pool) >= n:
            break
        # 2a00::/16 upward: a random 48-bit network masked to its length
        pool[(6, (((0x2A00 << 32) | v) << 80) & ~((1 << (128 - plen)) - 1), plen)] = None
    return list(pool)


def _render(p: tuple[int, int, int]) -> tuple[str, str]:
    """(canonical text, a valid non-canonical rendering) of one prefix."""
    version, net, plen = p
    if version == 4:
        c = ipaddress.IPv4Network((net, plen)).compressed
        return c, f"  {c}\t"  # surrounding whitespace
    n6 = ipaddress.IPv6Network((net, plen))
    return n6.compressed, n6.exploded.upper()


def _spans(columns: list[list[str]], media: list[str] | None = None) -> pa.Array:
    """list<struct<kind, text, media_ref, offset>>: ``columns[j][i]`` is the
    j-th text span of doc i; ``media`` adds one trailing media span."""
    n = len(columns[0])
    k = len(columns) + (media is not None)
    cols = columns + ([[None] * n] if media is not None else [])
    text = [None] * (n * k)
    for j, col in enumerate(cols):
        text[j::k] = col
    kinds = ["text"] * len(columns) + (["media"] if media is not None else [])
    refs = [None] * (n * k)
    if media is not None:
        refs[k - 1::k] = media
    structs = pa.StructArray.from_arrays(
        [pa.array(kinds * n, pa.string()), pa.array(text, pa.string()),
         pa.array(refs, pa.string()),
         pa.array(np.tile(np.arange(k, dtype=np.int32), n))],
        fields=[pa.field("kind", pa.string(), False), pa.field("text", pa.string()),
                pa.field("media_ref", pa.string()), pa.field("offset", pa.int32(), False)],
    )
    return pa.ListArray.from_arrays(pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)), structs)


class _Truth:
    """Expected triples, accumulated column-wise per crawler."""

    def __init__(self):
        self.cols: dict[str, list] = {f: [] for f in TRUTH_SCHEMA.names}

    def add(self, ref: str, subj_keys: list[str], pred: str, obj_label: str,
            obj_keys: list[str]) -> None:
        n = len(subj_keys)
        self.cols["reference_name"] += [ref] * n
        self.cols["subj_label"] += ["AS"] * n
        self.cols["subj_key"] += subj_keys
        self.cols["pred"] += [pred] * n
        self.cols["obj_label"] += [obj_label] * n
        self.cols["obj_key"] += obj_keys

    def table(self) -> pa.Table:
        return pa.table(self.cols, schema=TRUTH_SCHEMA)


def _json(v) -> str:
    return "null" if v is None else repr(v)


def generate(spec: CorpusSpec, seed: int) -> Corpus:
    rng = np.random.default_rng(seed)
    total = sum(SHARES.values())
    counts = {c: spec.n_docs * SHARES[c] // total for c in CRAWLERS}
    asns = rng.choice(np.arange(1, 400_000), spec.n_asns, replace=False)
    asn_str = [str(a) for a in asns.tolist()]
    name_of = [
        f"{WORDS[a % 14]}{WORDS[b % 14]} {SUFFIXES[c % 5]} {i}"
        for i, (a, b, c) in enumerate(rng.integers(0, 1 << 30, (spec.n_asns, 3)).tolist())
    ]
    cc_of = [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), spec.n_asns).tolist()]
    pool = _prefix_pool(rng, spec.n_prefixes)
    truth = _Truth()
    docs: dict[str, pa.Table] = {}

    # bgpkit.pfx2asn: [prefix text, asn text]; Zipf-hot origin ASNs
    name = "bgpkit.pfx2asn"
    n = counts[name]
    origin = [asn_str[k] for k in _zipf_ranks(rng, spec.n_asns, spec.zipf_s, n).tolist()]
    pidx = rng.integers(0, len(pool), n)
    kind = rng.random(n)
    as_pfx = (rng.random(n) < spec.as_prefix_share).tolist()
    mal = rng.integers(0, len(MALFORMED_PREFIXES), n).tolist()
    rendered = {i: _render(pool[i]) for i in np.unique(pidx).tolist()}
    malformed = (kind < spec.malformed_share).tolist()
    noncanon = (kind < spec.malformed_share + spec.noncanonical_share).tolist()
    pfx_txt, ok_asn, ok_pfx = [], [], []
    for i, p in enumerate(pidx.tolist()):
        if malformed[i]:
            pfx_txt.append(MALFORMED_PREFIXES[mal[i]])
            continue
        c, nc = rendered[p]
        pfx_txt.append(nc if noncanon[i] else c)
        ok_asn.append(origin[i])
        ok_pfx.append(c)
    asn_txt = [f"AS{a}" if x else a for a, x in zip(origin, as_pfx)]
    truth.add(name, ok_asn, "ORIGINATE", "BGPPrefix", ok_pfx)
    docs[name] = _table(name, _spans([pfx_txt, asn_txt]))

    # ripe.as_names: "<asn> <name>, <cc>" with ~3% unparseable lines
    name = "ripe.as_names"
    n = counts[name]
    who = rng.integers(0, spec.n_asns, n).tolist()
    r = rng.random(n).tolist()
    lower = (rng.random(n) < 0.1).tolist()
    lines, ok = [], []
    for i, w in enumerate(who):
        a, nm, cc = asn_str[w], name_of[w], cc_of[w]
        if r[i] < 0.01:
            lines.append(f"{a} {nm}")            # no country
        elif r[i] < 0.02:
            lines.append(f"{a} {nm}, {cc}X")     # 3-letter country
        elif r[i] < 0.03:
            lines.append(f"{a} ")                # no name, no country
        else:
            lines.append(f"{a} {nm}, {cc.lower() if lower[i] else cc}")
            ok.append(w)
    truth.add(name, [asn_str[w] for w in ok], "NAME", "Name", [name_of[w] for w in ok])
    truth.add(name, [asn_str[w] for w in ok], "COUNTRY", "Country", [cc_of[w] for w in ok])
    docs[name] = _table(name, _spans([lines]))

    # caida.asrank: one JSON record per ASN in rank order + a media span
    name = "caida.asrank"
    n = counts[name]
    ranked = (rng.permutation(spec.n_asns)[:n] if n <= spec.n_asns
              else rng.integers(0, spec.n_asns, n)).tolist()
    no_name = (rng.random(n) < 0.10).tolist()
    no_cc = (rng.random(n) < 0.10).tolist()
    no_loc = (rng.random(n) < 0.20).tolist()
    # 4-decimal coordinates kept >= 0.001 in magnitude: the crawler renders
    # them with Spark's double-to-string, which switches to E-notation below
    lat = np.round(rng.uniform(0.001, 70, n) * rng.choice([-1, 1], n), 4).tolist()
    lon = np.round(rng.uniform(0.001, 180, n) * rng.choice([-1, 1], n), 4).tolist()
    recs, media = [], []
    named, in_cc, located = [], [], []
    for i, k in enumerate(ranked):
        a = asn_str[k]
        nm = "" if no_name[i] else name_of[k]
        cc = "" if no_cc[i] else cc_of[k]
        la, lo = (None, None) if no_loc[i] else (lat[i], lon[i])
        recs.append(
            f'{{"asn": "{a}", "asnName": "{nm}", "country": {{"iso": "{cc}"}}, '
            f'"latitude": {_json(la)}, "longitude": {_json(lo)}, "rank": {i + 1}}}'
        )
        media.append(f"blob://logo/{a}")
        if nm:
            named.append(k)
        if cc:
            in_cc.append(k)
        if la is not None:
            located.append(i)
    truth.add(name, [asn_str[k] for k in named], "NAME", "Name", [name_of[k] for k in named])
    truth.add(name, [asn_str[k] for k in in_cc], "COUNTRY", "Country", [cc_of[k] for k in in_cc])
    truth.add(name, [asn_str[k] for k in ranked], "RANK", "Ranking", ["CAIDA ASRank"] * n)
    truth.add(name, [asn_str[ranked[i]] for i in located], "LOCATED_IN", "Point",
              [f"{lon[i]},{lat[i]}" for i in located])
    docs[name] = _table(name, _spans([recs], media))

    # bgpkit.as2rel_v4: JSON {asn1, asn2, rel, peers_count}; both ends Zipf
    name = "bgpkit.as2rel_v4"
    n = counts[name]
    a1 = _zipf_ranks(rng, spec.n_asns, spec.zipf_s, n)
    a2 = _zipf_ranks(rng, spec.n_asns, spec.zipf_s, n)
    a2 = np.where(a1 == a2, (a2 + 1) % spec.n_asns, a2)
    s1 = [asn_str[x] for x in a1.tolist()]
    s2 = [asn_str[y] for y in a2.tolist()]
    recs = [
        f'{{"asn1": {x}, "asn2": {y}, "peers_count": {p}, "rel": {q}}}'
        for x, y, p, q in zip(s1, s2, rng.integers(1, 501, n).tolist(),
                              rng.integers(0, 2, n).tolist())
    ]
    truth.add(name, s1, "PEERS_WITH", "AS", s2)
    docs[name] = _table(name, _spans([recs]))

    return Corpus(spec=spec, seed=seed, docs=docs, truth=truth.table(),
                  asn_by_rank=asns)


def _table(name: str, spans: pa.Array) -> pa.Table:
    ids = pa.array([f"{name}/{i:08d}" for i in range(len(spans))], pa.string())
    return pa.table({"doc_id": ids, "spans": spans})


def write_documents(corpus: Corpus, lake_root: str) -> None:
    """Write the corpus as the lake's hive-partitioned documents table."""
    for name, table in corpus.docs.items():
        d = os.path.join(lake_root, "documents", f"crawler={name}")
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // FILES_PER_CRAWLER)
        for i in range(FILES_PER_CRAWLER):
            part = table.slice(i * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                               compression="snappy")
