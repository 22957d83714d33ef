"""The generator's own checks (no Spark needed):

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import ipaddress
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import serve  # noqa: E402

SMALL = {
    "serve_refresh": {"geo16": 40, "snapshots": 3, "pool": 500},
    "curation_docs": {"docs": 300, "embeddings": 32},
}


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    for workload, sizes in SMALL.items():
        a = gen.ensure_inputs(str(tmp_path / "a"), workload, 7, sizes)
        b = gen.ensure_inputs(str(tmp_path / "b"), workload, 7, sizes)
        c = gen.ensure_inputs(str(tmp_path / "c"), workload, 8, sizes)
        assert gen.digest_tree(a) == gen.digest_tree(b), workload
        assert gen.digest_tree(a) != gen.digest_tree(c), workload


def test_inputs_are_written_once_per_seed_and_sizes(tmp_path):
    sizes = SMALL["curation_docs"]
    d = gen.ensure_inputs(str(tmp_path), "curation_docs", 3, sizes)
    stamp = os.stat(os.path.join(d, "documents.parquet")).st_mtime_ns
    assert gen.ensure_inputs(str(tmp_path), "curation_docs", 3, sizes) == d
    assert os.stat(os.path.join(d, "documents.parquet")).st_mtime_ns == stamp
    other = gen.ensure_inputs(str(tmp_path), "curation_docs", 3, {**sizes, "docs": 301})
    assert other != d


def _lpm_by_scan(u: gen.Universe, text: str):
    """Brute-force longest-prefix match over the universe's own CIDRs."""
    try:
        addr = ipaddress.ip_address(text)
    except ValueError:
        return None, None
    if addr.version == 6 and addr in ipaddress.ip_network("2002::/16"):
        addr = ipaddress.IPv4Address((int(addr) >> 80) & 0xFFFFFFFF)

    def best(rows_v4, rows_v6):
        nets = []
        if addr.version == 4:
            for i, r in enumerate(rows_v4.itertuples(index=False)):
                nets.append((ipaddress.ip_network(f"{gen.v4_text(r.net)}/{r.plen}"), i))
        else:
            for i, r in enumerate(rows_v6.itertuples(index=False)):
                nets.append((ipaddress.ip_network(f"{gen.v6_text(r.hi, 0)}/{r.plen}"),
                             len(rows_v4) + i))
        hits = [(n.prefixlen, i) for n, i in nets if addr in n]
        return max(hits)[1] if hits else -1

    return best(u.geo4, u.geo6), best(u.asn4, u.asn6)


def test_truth_matches_brute_force_longest_prefix_match():
    u = gen.make_universe(5, 30)
    ips = gen.make_ips(u, 5, 400, stream=0)
    geo, asn = gen.truth_rows(u, ips)
    for i, text in enumerate(ips.ip):
        g, a = _lpm_by_scan(u, text)
        if g is None:
            assert ips.kind[i] == "invalid"
            assert geo[i] == -1 and asn[i] == -1
        else:
            assert (geo[i], asn[i]) == (g, a), text


def test_every_ip_kind_is_present_and_request_batches_have_no_repeats():
    import numpy as np

    u = gen.make_universe(9, 60)
    pool = serve.Pool(u, 9, 2000)
    assert set(pool.ips.kind) == set(gen.IP_MIX)
    rng = np.random.default_rng(1)
    for _ in range(20):
        idx = pool.batch(rng)
        assert serve.BATCH_MIN <= len(idx) <= serve.BATCH_MAX
        assert len(set(pool.ips.ip[idx])) == len(idx)


def test_benchmark_json_lists_what_the_harness_reports():
    import json
    import re

    import run
    import tracing

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == tracing.PER_LAYER
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert set(e2e) == {"setup_s", "op_p50_ms", "throughput_per_s"}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + list(run.WORKLOADS)
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in b["workloads"])
