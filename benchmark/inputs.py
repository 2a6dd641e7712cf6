"""Seeded input generation: the star-schema tables the KG pipeline reads,
and the SHACL request stream.

Everything the program under test receives is written here, from the seed
alone, into the run's temp dir.

KG tables (`orders`, `customer`, `nation`, `documents`) follow the shape
of the repo's sf-scaled test data: 1.5M orders, 150k customers and 50k
documents per unit of scale (sf0.1 = 150,000 orders). The seed draws a
key offset for orders and for customers, the order→customer assignment,
prices, dates and document text. Row counts stay fixed, while the page
surface classes (o%5, o%7, o%11, o%25), hash placement and text change.
The offsets stay below the replica strides of `pages._replicated_orders`
(10⁹ on orders, 10⁷ on customers), so replicated key spaces stay disjoint.

Requests: a cost-stratified sample of the conformance corpus. The seed
draws the order of the sample; the cold request before it is the same
case on every seed.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_PER_SF = 1_500_000
CUSTOMERS_PER_SF = 150_000
DOCUMENTS_PER_SF = 50_000

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "fr", "es", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# The request traffic is the approved conformance corpus, less
# `shacl-shacl-data-shapes` (one request of it costs more than all others
# combined). CASE_COSTS holds each case's warm latency (case_costs.py);
# sorted by it, the cases fall into STRATA strata of near-equal size, and
# the sample is each stratum's middle case, so it follows the corpus's cost
# mix. The whole corpus takes ~10 min per pass on 4 cores; the sample
# ~20 s. A seeded draw per stratum was rejected: data-graph sizes (2 to 282
# triples) and report sizes differ so much between cases that the
# triples/s and bytes/triple of a 4-case draw would change with the seed.
EXCLUDED_CASES = ("core/complex/shacl-shacl-data-shapes.ttl",)
CASE_COSTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "case_costs.json")
STRATA = 4


def write_kg_inputs(out_dir: str, seed: int, scale: float) -> dict:
    """Write orders/customer/nation/documents parquet into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = int(ORDERS_PER_SF * scale)
    n_cust = int(CUSTOMERS_PER_SF * scale)
    n_docs = max(50, int(DOCUMENTS_PER_SF * scale))
    order_offset = int(rng.integers(0, 500_000_000))
    cust_offset = int(rng.integers(0, 9_000_000))

    custkeys = cust_offset + np.arange(n_cust, dtype=np.int64)
    day0 = np.datetime64("1992-01-01", "us")
    orders = pa.table({
        "o_orderkey": order_offset + np.arange(n_orders, dtype=np.int64),
        "o_custkey": custkeys[rng.integers(0, n_cust, n_orders)],
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": day0 + rng.integers(0, 2400, n_orders).astype(
            "timedelta64[D]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders),
    })
    customer = pa.table({
        "c_custkey": custkeys,
        "c_name": [f"Customer#{k:09d}" for k in custkeys],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    lengths = rng.integers(8, 64, n_docs)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(_WORDS[w] for w in words[pos:pos + n]))
        pos += n
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    for name, table in (("orders", orders), ("customer", customer),
                        ("nation", nation), ("documents", documents)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {"orders": n_orders, "customers": n_cust, "documents": n_docs,
            "order_offset": order_offset, "customer_offset": cust_offset}


def request_cases() -> dict:
    """Approved conformance cases, by data-graph file under tests/resources,
    less EXCLUDED_CASES."""
    from tests.conformance_util import ROOT_MANIFEST, load_test_cases

    resources = os.path.dirname(ROOT_MANIFEST)
    cases = {os.path.relpath(c.data_graph_file, resources): c
             for c in load_test_cases()}
    for name in EXCLUDED_CASES:
        cases.pop(name)
    return cases


def request_entry(n: int, name: str, case) -> dict:
    """A `ToolServer.handle_request` request for `case`, plus the harness
    fields `case`, `expected_conforms` (None = sht:Failure) and
    `data_triples`."""
    from shacl_rust_spark.rdf import parse_rdf

    with open(case.data_graph_file) as f:
        data = f.read()
    with open(case.shapes_graph_file) as f:
        shapes = f.read()
    return {
        "id": n,
        "tool": "validate_graphs",
        "args": {"data_graph": data, "shapes_graph": shapes,
                 "output_format": "json"},
        "case": name,
        "expected_conforms": case.expected_conforms,
        "data_triples": len(parse_rdf(data, "ttl")),
    }


def write_requests(path: str, seed: int, limit: int | None = None) -> list[dict]:
    """Write the request stream as JSON lines and return it: first the cold
    request, the corpus's median-cost case, then the sample in seeded
    order, cut to `limit` requests."""
    cases = request_cases()
    with open(CASE_COSTS) as f:
        costs = json.load(f)
    if set(costs) != set(cases):
        raise RuntimeError(f"{CASE_COSTS} does not list the request cases; "
                           "rerun case_costs.py")
    ranked = sorted(cases, key=lambda name: (costs[name], name))
    n = len(ranked)
    sample = [ranked[(2 * i + 1) * n // (2 * STRATA)] for i in range(STRATA)]
    random.Random(seed).shuffle(sample)
    names = [ranked[len(ranked) // 2]] + sample[:limit]
    entries = [request_entry(i, name, cases[name])
               for i, name in enumerate(names)]
    with open(path, "w") as f:
        for e in entries:
            f.write(json.dumps(e) + "\n")
    return entries


def read_requests(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]

