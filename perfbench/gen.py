"""Seeded input generator for the benchmark.

Everything here is a pure function of ``(seed, sizes)``: the same pair
always yields byte-identical files. The generator also knows the
ground truth for what it generates (its own CIDR lists nest properly,
so innermost-wins equals longest-prefix match), which the workloads
use to check the program's outputs.

No Spark is imported here; generation runs before the session starts
and is never part of a timed section.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import ipaddress
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# v4 first octets: geo and ASN networks live in [1, 99], ASN-only
# networks in [100, 149]; [150, 199] is never announced (misses).
GEO_A = (1, 100)
ASN_ONLY_A = (100, 150)
MISS_A = (150, 200)

CONTINENTS = {"AF": "Africa", "AS": "Asia", "EU": "Europe",
              "NA": "North America", "OC": "Oceania", "SA": "South America"}
COUNTRIES = [("AU", "OC", "Australia"), ("CN", "AS", "China"),
             ("DE", "EU", "Germany"), ("FR", "EU", "France"),
             ("US", "NA", "United States"), ("BR", "SA", "Brazil"),
             ("NG", "AF", "Nigeria"), ("JP", "AS", "Japan"),
             ("IN", "AS", "India"), ("CA", "NA", "Canada"),
             ("ES", "EU", "Spain"), ("ZA", "AF", "South Africa")]
SYLLABLES = ["ka", "lo", "mi", "ne", "ra", "to", "su", "vi", "de", "on",
             "ba", "ri", "po", "le", "an", "ur"]
# the documents corpus vocabulary (shape of the sf0.1 test corpus)
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# invalid request text; ``{}`` takes a number so a pool of distinct
# invalid strings can be drawn
INVALID_TEXT = ["junk{}", "1.2.{}", "256.1.1.{}", "1.2.3.{}/24", "::g{}", "1..2.{}",
                "2001:db8::zz{}", "hello world {}", "-1.0.0.{}", "1.2.3.4.{}"]

BASE_DATE = dt.date(2024, 1, 1)
SNAPSHOT_STEP_DAYS = 7


def snapshot_date(k: int) -> dt.date:
    """Date of snapshot ``k``; request dates fall strictly between two."""
    return BASE_DATE + dt.timedelta(days=SNAPSHOT_STEP_DAYS * k)


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi))
    return "".join(SYLLABLES[int(i)] for i in rng.integers(0, len(SYLLABLES), n))


def v6_text(hi: int, lo: int) -> str:
    return str(ipaddress.IPv6Address((int(hi) << 64) | int(lo)))


def v4_text(v: int) -> str:
    v = int(v)
    return f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"


def six_to_four_text(v4: int, host: int) -> str:
    hi = (0x2002 << 48) | (int(v4) << 16)
    return v6_text(hi, int(host))


# ---------------------------------------------------------------------------
# Network universe: one seed's CIDR lists, shared by every snapshot
# ---------------------------------------------------------------------------


@dataclass
class Universe:
    """The generated networks. v4 rows are (net, plen) with ``net`` the
    network address as an int; v6 rows keep the top 64 bits only
    (every generated v6 prefix is at most /48)."""

    loc_ids: np.ndarray
    locations: pd.DataFrame
    # geo rows, in file order (parent before child)
    geo4: pd.DataFrame
    geo6: pd.DataFrame
    asn4: pd.DataFrame
    asn6: pd.DataFrame
    asnames: dict[int, str] = field(default_factory=dict)
    asn_only_16: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    geo6_p32: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))

    def __post_init__(self) -> None:
        self.loc_by_id = {int(r.geoname_id): r for r in self.locations.itertuples(index=False)}


def make_universe(seed: int, geo16: int) -> Universe:
    """``geo16`` /16 blocks carry geo rows (a /16 parent for most of
    them, nested /24 children for all); v6 gets /48 geo rows under a
    handful of /32s. ASN rows cover most geo /16s, some /24s inside
    them with a different origin, plus ASN-only /16s."""
    rng = np.random.default_rng([seed, 1])
    n_loc = 400
    loc_ids = 100_000 + 37 * np.arange(n_loc, dtype=np.int64)
    crow = rng.integers(0, len(COUNTRIES), n_loc)
    locs = pd.DataFrame({
        "geoname_id": loc_ids,
        "locale_code": "en",
        "continent_code": [COUNTRIES[i][1] for i in crow],
        "continent_name": [CONTINENTS[COUNTRIES[i][1]] for i in crow],
        "country_iso_code": [COUNTRIES[i][0] for i in crow],
        "country_name": [COUNTRIES[i][2] for i in crow],
        "subdivision_1_iso_code": ["".join(chr(65 + int(c)) for c in rng.integers(0, 26, 2))
                                   if rng.random() < 0.8 else "" for _ in range(n_loc)],
        "subdivision_1_name": [_words(rng, 2, 4).title() for _ in range(n_loc)],
        "subdivision_2_iso_code": "",
        "subdivision_2_name": "",
        "city_name": [_words(rng, 2, 5).title() if rng.random() < 0.9 else ""
                      for _ in range(n_loc)],
        "metro_code": [str(int(rng.integers(500, 900))) if rng.random() < 0.3 else ""
                       for _ in range(n_loc)],
        "time_zone": "Etc/UTC",
    })

    # --- geo v4: /16 parents and /24 children -------------------------
    k16 = rng.choice(np.arange(GEO_A[0] << 8, GEO_A[1] << 8), geo16, replace=False)
    k16.sort()
    nets, plens = [], []
    for k in k16:
        if rng.random() < 0.7:
            nets.append(int(k) << 16)
            plens.append(16)
        for c in np.sort(rng.choice(256, int(rng.integers(1, 5)), replace=False)):
            nets.append((int(k) << 16) | (int(c) << 8))
            plens.append(24)
    geo4 = pd.DataFrame({"net": np.array(nets, np.int64), "plen": np.array(plens, np.int64)})

    # --- geo v6: /48 rows under eight /32s ----------------------------
    p32 = 0x20010000 + np.sort(rng.choice(0x1000, 8, replace=False)).astype(np.int64)
    n48 = max(8, geo16 // 4)
    third = rng.choice(1 << 16, n48, replace=False)
    geo6 = pd.DataFrame({
        "hi": ((p32[np.arange(n48) % 8] << 32) | (third.astype(np.int64) << 16)),
        "plen": 48,
    }).sort_values("hi", kind="stable").reset_index(drop=True)

    for df in (geo4, geo6):
        n = len(df)
        fallback = rng.random(n) < 0.05
        gid = rng.choice(loc_ids, n)
        df["geoname_id"] = np.where(fallback, -1, gid)
        df["registered"] = rng.choice(loc_ids, n)
        df["postal"] = [f"{int(x):05d}" for x in rng.integers(0, 100_000, n)]
        df["lat"] = np.round(rng.uniform(-80, 80, n), 4)
        df["lon"] = np.round(rng.uniform(-179, 179, n), 4)
        df["gid"] = np.where(fallback, df["registered"], gid)

    # --- ASN v4: most geo /16s, some /24s inside them, ASN-only /16s --
    a_nets, a_plens = [], []
    for k in k16:
        if rng.random() < 0.85:
            a_nets.append(int(k) << 16)
            a_plens.append(16)
            if rng.random() < 0.3:
                c = int(rng.integers(0, 256))
                a_nets.append((int(k) << 16) | (c << 8))
                a_plens.append(24)
    only = rng.choice(np.arange(ASN_ONLY_A[0] << 8, ASN_ONLY_A[1] << 8),
                      max(4, geo16 // 10), replace=False)
    only.sort()
    for k in only:
        a_nets.append(int(k) << 16)
        a_plens.append(16)
    asn4 = pd.DataFrame({"net": np.array(a_nets, np.int64), "plen": np.array(a_plens, np.int64)})
    asn4 = asn4.sort_values(["net", "plen"], kind="stable").reset_index(drop=True)

    # --- ASN v6: every /32, plus /48 children under some --------------
    hi6 = [int(p) << 32 for p in p32]
    pl6 = [32] * len(p32)
    for t in rng.choice(1 << 16, 16, replace=False):
        hi6.append((int(p32[int(t) % 8]) << 32) | (int(t) << 16))
        pl6.append(48)
    asn6 = pd.DataFrame({"hi": np.array(hi6, np.int64), "plen": np.array(pl6, np.int64)})
    asn6 = asn6.sort_values(["hi", "plen"], kind="stable").reset_index(drop=True)

    # unique AS strings per row, so no two ranges ever merge
    asnames: dict[int, str] = {}
    for off, df in ((0, asn4), (len(asn4), asn6)):
        n = len(df)
        best = 1000 + 3 * (off + np.arange(n, dtype=np.int64))
        form = rng.random(n)
        strs = []
        for b, f in zip(best, form):
            if f < 0.8:
                strs.append(str(b))
            elif f < 0.9:
                strs.append(f"{b},{b + 1}")  # AS set
            else:
                strs.append(f"{b}_{b + 2},{b + 1}")  # multi-origin
            if rng.random() < 0.75:
                asnames[int(b)] = (f"Net {_words(rng, 2, 4).title()} {b}"
                                   if rng.random() < 0.9
                                   else f"{_words(rng, 2, 3).title()}, Inc.")
        df["best"] = best
        df["as_string"] = strs
    return Universe(loc_ids, locs, geo4, geo6, asn4, asn6, asnames,
                    only.astype(np.int64), p32)


# ---------------------------------------------------------------------------
# Files
# ---------------------------------------------------------------------------


def write_snapshot(u: Universe, out_dir: str, k: int) -> tuple[str, str]:
    """Write snapshot ``k``: a GeoLite2 blocks CSV (postal codes carry
    the snapshot tag, so a wrong as-of choice shows) and a RouteViews
    pfx2as TSV. Returns (blocks_path, pfx2as_path)."""
    d = snapshot_date(k).strftime("%Y%m%d")
    blocks = os.path.join(out_dir, "geo", f"{d}T000000Z-GeoLite2-City-Blocks.csv")
    pfx = os.path.join(out_dir, "asn", f"routeviews-rv2-{d}-1200.pfx2as")
    os.makedirs(os.path.dirname(blocks), exist_ok=True)
    os.makedirs(os.path.dirname(pfx), exist_ok=True)
    lines = ["network,geoname_id,registered_country_geoname_id,"
             "represented_country_geoname_id,is_anonymous_proxy,"
             "is_satellite_provider,postal_code,latitude,longitude,accuracy_radius"]
    for fam, df in (("4", u.geo4), ("6", u.geo6)):
        for r in df.itertuples(index=False):
            if fam == "4":
                net = f"{v4_text(r.net)}/{r.plen}"
            else:
                net = f"{v6_text(r.hi, 0)}/{r.plen}"
            gid = "" if r.geoname_id < 0 else str(r.geoname_id)
            lines.append(f"{net},{gid},{r.registered},,0,0,{r.postal}-{k},"
                         f"{r.lat:.4f},{r.lon:.4f},100")
    _write_text(blocks, "\n".join(lines) + "\n")
    rows = [f"{v4_text(r.net)}\t{r.plen}\t{r.as_string}" for r in u.asn4.itertuples(index=False)]
    rows += [f"{v6_text(r.hi, 0)}\t{r.plen}\t{r.as_string}" for r in u.asn6.itertuples(index=False)]
    _write_text(pfx, "\n".join(rows) + "\n")
    return blocks, pfx


def write_dims(u: Universe, out_dir: str) -> tuple[str, str]:
    locs = os.path.join(out_dir, "locations.csv")
    names = os.path.join(out_dir, "asnames.csv")
    _write_text(locs, u.locations.to_csv(index=False, lineterminator="\n"))
    lines = ["asn,name,country,registry"]
    for a in sorted(u.asnames):
        n = u.asnames[a]
        lines.append(f'AS{a},"{n}",US,arin' if "," in n else f"AS{a},{n},US,arin")
    _write_text(names, "\n".join(lines) + "\n")
    return locs, names


def _write_text(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", newline="") as fh:
        fh.write(text)
    os.replace(tmp, path)


def _write_parquet(path: str, df: pd.DataFrame) -> None:
    tmp = path + ".tmp"
    # fixed writer settings: byte-identical output for the same frame
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp,
                   compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Request IPs and their truth
# ---------------------------------------------------------------------------

# kind → share of generated request IPs (sums to 1)
IP_MIX = {
    "v4_geo": 0.66, "v4_asn_only": 0.03, "v4_miss": 0.05,
    "six_to_four": 0.10, "v6_geo": 0.10, "v6_asn_only": 0.01,
    "v6_miss": 0.01, "invalid": 0.04,
}


def _host_in(rng, net: np.ndarray, plen: np.ndarray) -> np.ndarray:
    span = np.left_shift(1, 32 - plen).astype(np.int64)
    return net + (rng.random(len(net)) * span).astype(np.int64)


def make_ips(u: Universe, seed: int, n: int, stream: int) -> pd.DataFrame:
    """``n`` request IPs with the ``IP_MIX`` shares, in seeded random
    order. Columns: ip (text), kind, v4 (int or -1), hi/lo (v6 halves
    or -1)."""
    rng = np.random.default_rng([seed, 2, stream])
    counts = {k: int(n * s) for k, s in IP_MIX.items()}
    counts["v4_geo"] += n - sum(counts.values())
    parts = []

    def v4_rows(kind, vals):
        parts.append(pd.DataFrame({"kind": kind, "v4": vals, "hi": -1, "lo": -1}))

    idx = rng.integers(0, len(u.geo4), counts["v4_geo"])
    v4_rows("v4_geo", _host_in(rng, u.geo4.net.to_numpy()[idx], u.geo4.plen.to_numpy()[idx]))
    k = rng.choice(u.asn_only_16, counts["v4_asn_only"])
    v4_rows("v4_asn_only", (k << 16) | rng.integers(0, 1 << 16, len(k)))
    v4_rows("v4_miss", rng.integers(MISS_A[0] << 24, MISS_A[1] << 24, counts["v4_miss"]))
    # 6to4: nine in ten embed a geo-covered v4, the rest a miss
    m = counts["six_to_four"]
    idx = rng.integers(0, len(u.geo4), m)
    emb = _host_in(rng, u.geo4.net.to_numpy()[idx], u.geo4.plen.to_numpy()[idx])
    miss = rng.random(m) < 0.1
    emb = np.where(miss, rng.integers(MISS_A[0] << 24, MISS_A[1] << 24, m), emb)
    parts.append(pd.DataFrame({"kind": "six_to_four", "v4": emb,
                               "hi": -2, "lo": rng.integers(1, 1 << 16, m)}))
    idx = rng.integers(0, len(u.geo6), counts["v6_geo"])
    parts.append(pd.DataFrame({
        "kind": "v6_geo", "v4": -1,
        "hi": u.geo6.hi.to_numpy()[idx] | rng.integers(0, 1 << 16, len(idx)),
        "lo": rng.integers(1, 1 << 62, len(idx))}))
    # inside an ASN /32 but a third hextet no geo /48 uses
    geo48 = set((u.geo6.hi.to_numpy() >> 16).tolist())
    hi = []
    while len(hi) < counts["v6_asn_only"]:
        h = (int(rng.choice(u.geo6_p32)) << 32) | (int(rng.integers(0, 1 << 16)) << 16)
        if (h >> 16) not in geo48:
            hi.append(h | int(rng.integers(0, 1 << 16)))
    parts.append(pd.DataFrame({"kind": "v6_asn_only", "v4": -1, "hi": np.array(hi, np.int64),
                               "lo": rng.integers(1, 1 << 62, len(hi))}))
    parts.append(pd.DataFrame({
        "kind": "v6_miss", "v4": -1,
        "hi": (0x2A000000 << 32) | rng.integers(0, 1 << 32, counts["v6_miss"]),
        "lo": rng.integers(1, 1 << 62, counts["v6_miss"])}))
    parts.append(pd.DataFrame({"kind": "invalid", "v4": -1, "hi": -1,
                               "lo": rng.integers(0, 1000 * len(INVALID_TEXT), counts["invalid"])}))
    df = pd.concat(parts, ignore_index=True)
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    text = []
    for kind, v4, h, lo in zip(df.kind, df.v4, df.hi, df.lo):
        if kind == "invalid":
            text.append(INVALID_TEXT[int(lo) % len(INVALID_TEXT)].format(int(lo) // len(INVALID_TEXT)))
        elif kind == "six_to_four":
            text.append(six_to_four_text(v4, lo))
        elif v4 >= 0:
            text.append(v4_text(v4))
        else:
            text.append(v6_text(h, lo))
    df["ip"] = text
    return df


def _lpm(keys_by_len: list[tuple[np.ndarray, np.ndarray]]):
    """Longest-prefix match over nested prefixes: ``keys_by_len`` holds
    (probe_keys, table_keys) pairs, most specific first. Returns the
    matched row per probe (first level that hits), or -1."""
    out = None
    for probe, table in keys_by_len:
        order = np.argsort(table, kind="stable")
        st = table[order]
        pos = np.clip(np.searchsorted(st, probe), 0, max(len(st) - 1, 0))
        hit = (st[pos] == probe) if len(st) else np.zeros(len(probe), bool)
        row = np.where(hit, order[pos] if len(st) else -1, -1)
        out = row if out is None else np.where(out >= 0, out, row)
    return out


def truth_rows(u: Universe, ips: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(geo_row, asn_row) per request IP, indexing the v4 table for v4
    and 6to4 addresses and ``len(v4 table) + i`` for v6 rows; -1 = miss."""
    v4 = ips.v4.to_numpy()
    hi = ips.hi.to_numpy()
    is4 = v4 >= 0
    is6 = (~is4) & (hi >= 0)
    geo = np.full(len(ips), -1, np.int64)
    asn = np.full(len(ips), -1, np.int64)

    def levels(table_net, table_plen, probe, shift_for):
        return [(probe >> shift_for(p), np.where(table_plen == p, table_net >> shift_for(p), -7))
                for p in sorted(set(table_plen.tolist()), reverse=True)]

    s4 = lambda p: 32 - p  # noqa: E731
    s6 = lambda p: 64 - p  # noqa: E731
    for table, out in ((u.geo4, geo), (u.asn4, asn)):
        r = _lpm(levels(table.net.to_numpy(), table.plen.to_numpy(), v4[is4], s4))
        out[is4] = r
    base = {id(geo): len(u.geo4), id(asn): len(u.asn4)}
    for table, out in ((u.geo6, geo), (u.asn6, asn)):
        r = _lpm(levels(table.hi.to_numpy(), table.plen.to_numpy(), hi[is6], s6))
        out[is6] = np.where(r >= 0, r + base[id(out)], -1)
    return geo, asn


def _segment_cidr(u: Universe, row: int, ip_v4: int, hi: int) -> str:
    """CIDR text of the flattened range holding the address: the
    matched row's span minus the nearest carved-out children on
    either side, formatted the way ``range_to_cidr`` formats it
    (low address / width − popcount(low xor high))."""
    if row < len(u.asn4):
        t, v, width = u.asn4, ip_v4, 32
        net = int(t.net.iloc[row])
        plen = int(t.plen.iloc[row])
        nets = t.net.to_numpy()
        plens = t.plen.to_numpy()
    else:
        t, width = u.asn6, 64
        row -= len(u.asn4)
        v = hi
        net = int(t.hi.iloc[row])
        plen = int(t.plen.iloc[row])
        nets = t.hi.to_numpy()
        plens = t.plen.to_numpy()
    low, high = net, net | ((1 << (width - plen)) - 1)
    inside = (plens > plen) & (nets >= low) & (nets <= high)
    for cn, cp in zip(nets[inside], plens[inside]):
        ch = int(cn) | ((1 << (width - int(cp))) - 1)
        if ch < v:
            low = max(low, ch + 1)
        elif int(cn) > v:
            high = min(high, int(cn) - 1)
    mask = width - bin(low ^ high).count("1")
    if width == 32:
        return f"{v4_text(low)}/{mask}"
    # v6 bounds here differ only in the top 64 bits (low half 0 vs all
    # ones), so 128 − popcount over 128 bits equals 64 − popcount(hi)
    return f"{v6_text(low, 0)}/{mask}"


def expected(u: Universe, ips: pd.DataFrame, geo: np.ndarray, asn: np.ndarray,
             i: int, snapshot: int) -> dict:
    """The v2 annotation the program must produce for request IP ``i``
    when snapshot ``snapshot`` serves its date."""
    g, a = int(geo[i]), int(asn[i])
    out: dict = {"geo_missing": g < 0, "asn_missing": a < 0}
    if g >= 0:
        t, j = (u.geo4, g) if g < len(u.geo4) else (u.geo6, g - len(u.geo4))
        r = t.iloc[j]
        loc = u.loc_by_id[int(r.gid)]
        out.update({
            "country_code": loc.country_iso_code, "continent_code": loc.continent_code,
            "city": loc.city_name, "region": loc.subdivision_1_iso_code,
            "metro_code": int(loc.metro_code) if loc.metro_code else 0,
            "postal_code": f"{r.postal}-{snapshot}",
            "latitude": float(f"{r.lat:.4f}"), "longitude": float(f"{r.lon:.4f}"),
        })
    if a >= 0:
        t, j = (u.asn4, a) if a < len(u.asn4) else (u.asn6, a - len(u.asn4))
        r = t.iloc[j]
        v4 = int(ips.v4.iloc[i])
        out.update({
            "as_number": int(r.best),
            "as_name": u.asnames.get(int(r.best), ""),
            "cidr": _segment_cidr(u, a, v4, int(ips.hi.iloc[i])),
            "systems": [[int(x) for x in s.split(",")] for s in r.as_string.split("_")],
        })
    return out


# ---------------------------------------------------------------------------
# Documents corpus
# ---------------------------------------------------------------------------


def make_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A corpus shaped like the sf0.1 documents table: 31-word
    vocabulary, 8–100 words per doc, 5 languages, 20 sources, and one
    doc in twenty a near-copy of an earlier doc with one word replaced
    by ``dup``."""
    rng = np.random.default_rng([seed, 3])
    words = np.array(WORDS)
    texts: list[str] = []
    dup_of = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup_of[i] and i > 0:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    lang = np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n_docs)]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })


def make_embeddings(seed: int, n: int, dim: int = 16) -> pd.DataFrame:
    """A small embeddings table. Building ``oracle_sql()`` derives
    literals for other gates (k-means and IVF centroids) from one; the
    curation stages never read it."""
    rng = np.random.default_rng([seed, 4])
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(emb),
                         "label": rng.integers(0, 4, n).astype(np.int32)})


# ---------------------------------------------------------------------------
# Input sets on disk
# ---------------------------------------------------------------------------


def input_dir(root: str, workload: str, seed: int, sizes: dict) -> str:
    tag = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(root, f"{workload}-s{seed}-{tag}")


def ensure_inputs(root: str, workload: str, seed: int, sizes: dict) -> str:
    """Write the workload's input files once per (seed, sizes) and
    return their directory. A ``_DONE`` marker makes a half-written
    directory (an interrupted run) regenerate."""
    out = input_dir(root, workload, seed, sizes)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    if workload == "curation_docs":
        _write_parquet(os.path.join(out, "documents.parquet"),
                       make_documents(seed, sizes["docs"]))
        _write_parquet(os.path.join(out, "embeddings.parquet"),
                       make_embeddings(seed, sizes["embeddings"]))
    else:
        u = make_universe(seed, sizes["geo16"])
        write_dims(u, out)
        for k in range(sizes["snapshots"]):
            write_snapshot(u, out, k)
    _write_text(os.path.join(out, "_DONE"), json.dumps(sizes, sort_keys=True) + "\n")
    return out


def digest_tree(path: str) -> str:
    """sha256 over every file's relative path and bytes under ``path``."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
