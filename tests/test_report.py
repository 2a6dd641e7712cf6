"""The validation report executes once and all its sinks agree.

``Report`` collects its violations once; ``conforms``, JSON, text and
the RDF graph (report.rs:100-390) all render from those rows. On corpus
cases with results, the RDF report carries exactly one
sh:ValidationResult per JSON result, with the same fields.
"""

import json
import re
from collections import Counter

import pytest

from shacl_rust_spark import vocab as V
from shacl_rust_spark.engine import validate_graphs, validate_strings
from shacl_rust_spark.rdf import parse_rdf, parse_turtle_file, serialize_graph
from shacl_rust_spark.term import iri

from .conformance_util import load_test_cases

DATA = """
@prefix ex: <http://example.org/> .
ex:a a ex:T ; ex:p "x" .
ex:b a ex:T ; ex:p "y" , "z" .
"""
SHAPES = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:p ; sh:minCount 2 ; sh:datatype ex:D ] .
"""

# DataFrame methods that run a Spark job and bring rows to the driver
_ACTIONS = ("collect", "count", "isEmpty", "take", "head", "first", "tail",
            "toLocalIterator", "toPandas", "toArrow", "show", "foreach",
            "foreachPartition")


def _record_actions(monkeypatch, cls) -> list[str]:
    """Wrap the action methods of ``cls``; returns the list of outermost
    action calls (an action implemented by another counts once)."""
    calls: list[str] = []
    depth = [0]
    for name in _ACTIONS:
        orig = getattr(cls, name, None)
        if orig is None:
            continue

        def wrapped(self, *args, _orig=orig, _name=name, **kwargs):
            if not depth[0]:
                calls.append(_name)
            depth[0] += 1
            try:
                return _orig(self, *args, **kwargs)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(cls, name, wrapped)
    return calls


def test_report_executes_once(spark, monkeypatch):
    report = validate_strings(spark, DATA, SHAPES)
    actions = _record_actions(monkeypatch, type(report.violations))
    assert report.conforms is False
    rep = report.to_json()
    assert "does NOT conform" in report.to_text()
    graph = report.to_graph()
    assert report.conforms is False
    assert len(actions) == 1, actions
    assert len(rep["results"]) == 4
    assert len(graph.triples_for_predicate(V.SH + "detail")) == 4


def _has_literal_value(rs):
    return any(r.get("value", "").startswith('"') for r in rs)


# corpus data file → a check that its JSON results exercise what the
# parity test needs: blank-node source shapes, non-IRI paths (no
# sh:resultPath), literal values, multiple messages, identical rows
PARITY_CASES = {
    "core/complex/personexample.ttl": lambda rs: _has_literal_value(rs) and any(
        r["sourceShape"].startswith("_:") for r in rs),
    "core/path/path-inverse-001.ttl": lambda rs: all(
        r["resultPath"].startswith("^") for r in rs),
    "core/path/path-sequence-duplicate-001.ttl": _has_literal_value,
    "core/misc/message-001.ttl": lambda rs: any(
        len(r.get("messages", ())) > 1 for r in rs),
    "core/validation-reports/shared-data.ttl": lambda rs: len(
        {json.dumps(r, sort_keys=True) for r in rs}) < len(rs),
}
CASES = load_test_cases()


def _json_key(res: dict) -> tuple:
    # sh:resultPath is emitted only for a single-IRI path (report.rs:177-185)
    path = res.get("resultPath")
    return (res["focusNode"], res.get("value"), res["sourceShape"],
            res["sourceConstraintComponent"], res["severity"],
            path if path and re.fullmatch(r"<[^>]+>", path) else None,
            tuple(res.get("messages", ())))


def _graph_keys(g, report) -> list[tuple]:
    details = g.objects(report, V.SH + "detail")
    assert len(set(details)) == len(details)
    assert set(g.subjects(V.RDF_TYPE, iri(V.SH + "ValidationResult"))) == set(details)
    keys = []
    for node in details:
        def one(p, node=node):
            objs = g.objects(node, p)
            assert len(objs) <= 1, (p, objs)
            return objs[0] if objs else None

        value, path, msg = (one(V.SH + "value"), one(V.SH + "resultPath"),
                            one(V.SH + "resultMessage"))
        keys.append((
            one(V.SH + "focusNode").n3(), value and value.n3(),
            one(V.SH + "sourceShape").n3(),
            one(V.SH + "sourceConstraintComponent").value,
            one(V.SH + "resultSeverity").value, path and path.n3(),
            tuple(msg.value.split("; ")) if msg else (),
        ))
    return keys


@pytest.mark.parametrize("data_file", sorted(PARITY_CASES))
def test_rdf_report_matches_json_results(spark, data_file):
    (case,) = [c for c in CASES if c.data_graph_file.endswith("/" + data_file)]
    report = validate_graphs(spark, parse_turtle_file(case.data_graph_file),
                             parse_turtle_file(case.shapes_graph_file))
    rep = report.to_json()
    assert rep["results"] and PARITY_CASES[data_file](rep["results"])
    g = parse_rdf(serialize_graph(report.to_graph(), "nt"), "nt")
    (node,) = g.subjects(V.RDF_TYPE, iri(V.SH_VALIDATION_REPORT))
    assert g.object(node, V.SH_CONFORMS).value == "false"
    assert (Counter(_graph_keys(g, node))
            == Counter(_json_key(r) for r in rep["results"]))
