"""IP / CIDR column-expression library.

Canonical representation: every address is a 16-byte ``BinaryType``
value in v4-in-v6 mapped form (``::ffff:a.b.c.d`` for IPv4), matching
the reference's ``net.IP`` 16-byte form so byte-wise unsigned
comparison gives the same total order the reference's
``bytes.Compare`` does (reference: iputils/iputils.go:341-343).
Spark compares BinaryType byte-wise unsigned natively, so range
predicates (``BETWEEN``) and sorts on the canonical form need no UDF.

Only text→bytes parsing and CIDR math require Python (Arrow-batched
pandas UDFs); family tests, 6to4 rewrite, v4 long math, ASN decode,
and site network keys are pure built-in expressions (JVM codegen).

Reference parity notes (file:line cites are into /root/reference):
- parse+validate          iputils/iputils.go:96-108     (P3)
- CIDR → [low,high]       iputils/iputils.go:270-290    (P1)
- [low,high] → CIDR       iputils/iputils.go:295-315    (P2)
- plus/minus one          iputils/iputils.go:318-337    (P5)
- byte compare            iputils/iputils.go:341-343    (P6)
- 6to4 rewrite            handler/handler.go:179-190    (P4)
- ASN string decode       asn/asn-annotator.go:63-81    (P8)
- BestASN                 api/api.go:118-127            (P9)
- site network key        site/site.go:130-139          (P16)
- base36 response key     handler/handler.go:169-170    (P17)
"""

from __future__ import annotations

import ipaddress
import socket

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

V4_MAPPED_PREFIX = b"\x00" * 10 + b"\xff\xff"
V4_MAPPED_PREFIX_HEX = V4_MAPPED_PREFIX.hex().upper()

_inet_pton, _AF_INET, _AF_INET6 = socket.inet_pton, socket.AF_INET, socket.AF_INET6


# ---------------------------------------------------------------------------
# Python-side scalar helpers (shared by the pandas UDFs and by tests)
# ---------------------------------------------------------------------------

def py_ip_to_bytes16(text: str | None) -> bytes | None:
    """Parse an address to canonical 16 bytes; None on invalid/empty.

    The accept set and the bytes are those of
    ``ipaddress.ip_address(text.strip())``. C-level ``inet_pton``
    answers first (about 10x faster per row): every string it accepts —
    a strict dotted quad without leading zeros, or RFC 4291 v6 text —
    ipaddress accepts with the same bytes. Only its rejects (surrounding
    whitespace, zone-scoped v6 like ``fe80::1%eth0``, embedded NULs,
    garbage) pay for the ipaddress parse, so both paths answer alike."""
    try:
        return V4_MAPPED_PREFIX + _inet_pton(_AF_INET, text)
    except (OSError, TypeError, ValueError):
        pass
    try:
        return _inet_pton(_AF_INET6, text)
    except (OSError, TypeError, ValueError):
        pass
    if not text:
        return None
    try:
        addr = ipaddress.ip_address(text.strip())
    except ValueError:
        return None
    if addr.version == 4:
        return V4_MAPPED_PREFIX + addr.packed
    return addr.packed


def py_ip6to4(b: bytes | None) -> bytes | None:
    """P4 on canonical bytes: 2002:xxyy:zzww::/16 → the embedded v4
    address, else unchanged (the scalar twin of ``ip6to4``)."""
    if b is not None and b[:2] == b"\x20\x02":
        return V4_MAPPED_PREFIX + b[2:6]
    return b


def parse_ip_series(s: pd.Series, six_to_four: bool = False) -> pd.Series:
    """P3 (and P4 when ``six_to_four``) over a Series of address text:
    canonical 16 bytes, None where invalid. The one parser behind both
    the ``ip_to_bytes`` UDF and ``range_join_broadcast(parse_ips=True)``."""
    if six_to_four:
        return s.map(lambda t: py_ip6to4(py_ip_to_bytes16(t)), na_action="ignore")
    return s.map(py_ip_to_bytes16, na_action="ignore")


def py_bytes16_to_ip(b: bytes | None) -> str | None:
    """Canonical 16 bytes → text (dotted quad for v4-mapped)."""
    if b is None or len(b) != 16:
        return None
    if b[:12] == V4_MAPPED_PREFIX:
        return str(ipaddress.IPv4Address(b[12:]))
    return str(ipaddress.IPv6Address(b))


def py_cidr_to_range(cidr: str | None) -> tuple[bytes, bytes] | None:
    """CIDR text → (low16, high16); None on invalid.

    Mirrors rangeCIDR (iputils/iputils.go:270-290) exactly: low is the
    LITERAL address as written (NOT masked to the network base — Go's
    ParseCIDR returns the unmasked ip and the reference keeps it:
    ``192.0.2.1/24 → [192.0.2.1, 192.0.2.255]``, truth table
    iputils_test.go:130-157), high = addr | ~mask. A bare address
    without '/' is invalid, like Go's ParseCIDR.
    """
    if not cidr or "/" not in cidr:
        return None
    addr_text, _, _ = cidr.strip().partition("/")
    try:
        net = ipaddress.ip_network(cidr.strip(), strict=False)
        addr = ipaddress.ip_address(addr_text)
    except ValueError:
        return None
    if addr.version != net.version:
        return None
    bits = 32 if net.version == 4 else 128
    host = bits - net.prefixlen
    lo_i = int(addr)
    hi_i = lo_i | ((1 << host) - 1)
    nbytes = 4 if net.version == 4 else 16
    lo_b = lo_i.to_bytes(nbytes, "big")
    hi_b = hi_i.to_bytes(nbytes, "big")
    if net.version == 4:
        return (V4_MAPPED_PREFIX + lo_b, V4_MAPPED_PREFIX + hi_b)
    return (lo_b, hi_b)


def py_range_to_cidr(low: bytes | None, high: bytes | None) -> str | None:
    """Mirrors CIDRRange (iputils/iputils.go:295-315) exactly: mask
    length = 32/128 − popcount(low XOR high), formatted from the low
    address. Like the reference, performs NO validation that [low,high]
    is actually one aligned block — callers feed it proper blocks.
    """
    if low is None or high is None or len(low) != 16 or len(high) != 16:
        return None
    v4 = low[:12] == V4_MAPPED_PREFIX
    x = int.from_bytes(low, "big") ^ int.from_bytes(high, "big")
    c = x.bit_count()
    mask = (32 if v4 else 128) - c
    base = ipaddress.IPv4Address(low[12:]) if v4 else ipaddress.IPv6Address(low)
    return f"{base}/{mask}"


def py_plus_one(b: bytes) -> bytes:
    """16-byte +1 with carry (iputils/iputils.go:318-327); saturates at max."""
    i = int.from_bytes(b, "big")
    if i >= (1 << 128) - 1:
        return b
    return (i + 1).to_bytes(16, "big")


def py_minus_one(b: bytes) -> bytes:
    """16-byte -1 with borrow (iputils/iputils.go:329-337); saturates at 0."""
    i = int.from_bytes(b, "big")
    if i <= 0:
        return b
    return (i - 1).to_bytes(16, "big")


# ---------------------------------------------------------------------------
# Pandas UDFs (Arrow-batched) — the unavoidable Python path
# ---------------------------------------------------------------------------

@F.pandas_udf(T.BinaryType())
def ip_to_bytes(s: pd.Series) -> pd.Series:
    """P3: text → canonical 16-byte binary; NULL on invalid (caller
    counts/filters NULLs, mirroring the reference's error metric)."""
    return parse_ip_series(s)


@F.pandas_udf(T.StringType())
def bytes_to_ip(s: pd.Series) -> pd.Series:
    return s.map(py_bytes16_to_ip, na_action="ignore")


_range_schema = T.StructType(
    [
        T.StructField("ip_low", T.BinaryType()),
        T.StructField("ip_high", T.BinaryType()),
    ]
)


@F.pandas_udf(_range_schema)
def cidr_to_range(s: pd.Series) -> pd.DataFrame:
    """P1: CIDR text → struct(ip_low, ip_high) 16-byte bounds."""
    pairs = s.map(py_cidr_to_range, na_action="ignore")
    return pd.DataFrame(
        {
            "ip_low": pairs.map(lambda p: p[0] if p else None, na_action="ignore"),
            "ip_high": pairs.map(lambda p: p[1] if p else None, na_action="ignore"),
        }
    )


@F.pandas_udf(T.StringType())
def range_to_cidr(low: pd.Series, high: pd.Series) -> pd.Series:
    """P2: [low,high] → CIDR string (None when not one block)."""
    return pd.Series(
        [py_range_to_cidr(lo, hi) for lo, hi in zip(low, high)], dtype="object"
    )


# ---------------------------------------------------------------------------
# Native (JVM/codegen) expressions — no Python in these paths
# ---------------------------------------------------------------------------

def is_v4(ip_bytes: Column) -> Column:
    """Address-family test on canonical bytes (geolite2v2/geo-ip.go:134-137
    uses ip.To4() != nil). Pure built-in: hex prefix compare."""
    return F.hex(ip_bytes).startswith(V4_MAPPED_PREFIX_HEX)


def ip6to4(ip_bytes: Column) -> Column:
    """P4 (handler/handler.go:179-190): 2002:xxyy:zzww::/16 → the
    embedded v4 address xx.yy.zz.ww, else pass through. Native: hex
    prefix test + byte slice, no UDF."""
    h = F.hex(ip_bytes)
    embedded_v4_hex = F.concat(F.lit(V4_MAPPED_PREFIX_HEX), F.substring(h, 5, 8))
    return F.when(h.startswith("2002"), F.unhex(embedded_v4_hex)).otherwise(ip_bytes)


def long_to_ipv4(v: Column) -> Column:
    """uint32 long → dotted quad, pure SQL."""
    return F.concat_ws(
        ".",
        (v / 16777216).cast("long") % 256,
        (v / 65536).cast("long") % 256,
        (v / 256).cast("long") % 256,
        v % 256,
    )


def bytes16_to_v4_long(ip_bytes: Column) -> Column:
    """Canonical 16 bytes (v4-mapped) → uint32 long; NULL for v6.
    Native: conv() on the trailing 8 hex chars."""
    return F.when(
        is_v4(ip_bytes),
        F.conv(F.substring(F.hex(ip_bytes), 25, 8), 16, 10).cast("long"),
    )


ASN_SYSTEM_TYPE = T.ArrayType(
    T.StructType([T.StructField("asns", T.ArrayType(T.LongType()))])
)


def asn_decode(asn_str: Column) -> Column:
    """P8 (asn/asn-annotator.go:63-81): RouteViews AS string →
    array<struct<asns: array<long>>>. ``_`` separates multi-origin
    systems, ``,`` separates ASes within one system. Pure SQL
    (transform/split/cast), no UDF."""
    return F.transform(
        F.split(asn_str, "_"),
        lambda s: F.struct(
            F.transform(F.split(s, ","), lambda x: F.coalesce(x.try_cast("long"), F.lit(0))).alias("asns")
        ),
    )


def best_asn(systems: Column) -> Column:
    """P9 (api/api.go:118-127): first ASN of the first system."""
    return F.element_at(F.element_at(systems, 1)["asns"], 1)


def site_network_key_v4(ip_v4_long: Column) -> Column:
    """P16 (site/site.go:130-139), v4 side: mask to /26, render
    'a.b.c.d/26'. Native bitwise on the uint32 long."""
    masked = ip_v4_long.bitwiseAND(F.lit(0xFFFFFFC0))
    return F.concat(long_to_ipv4(masked), F.lit("/26"))


def site_network_key_v6(ip_bytes: Column) -> Column:
    """P16, v6 side: mask to /64. Native: keep first 16 hex chars."""
    h = F.concat(F.substring(F.hex(ip_bytes), 1, 16), F.lit("0" * 16))
    return F.unhex(h)


def base36_key(ip_text: Column, unix_ts: Column) -> Column:
    """P17 (handler/handler.go:169-170): v1 response key =
    ip + base36(epoch seconds), lowercase like Go's FormatInt."""
    return F.concat(ip_text, F.lower(F.conv(unix_ts.cast("string"), 10, 36)))
