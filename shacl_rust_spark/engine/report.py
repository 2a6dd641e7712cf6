"""Validation-report rendering: RDF graph / JSON / text.

Driver-side mirrors of the reference's ValidationReport sinks
(src/validation/report.rs). Every sink renders from the
same collected violation rows, so a report executes its violations plan
once whichever sinks are asked for: `report_graph` emits the
sh:ValidationReport / sh:ValidationResult vocabulary (report.rs:100-217)
as a driver Graph, `report_json` the nested JSON (report.rs:288-317)
and `report_text` the human-readable rendering (report.rs:327-390).
"""

from __future__ import annotations

import hashlib
import re

from .. import vocab as V
from ..rdf.graph import Graph
from ..term import Term, Triple, bnode, iri, literal

_SINGLE_IRI_PATH = re.compile(r"<[^>]+>")


def report_graph(violations_rows: list, conforms: bool) -> Graph:
    """sh:ValidationReport triples (report.rs:100-217). Each result gets
    its own bnode, labelled by a content hash plus its row index: the
    labels are deterministic, identical rows stay distinct, and a label
    cannot plausibly equal a shapes-graph bnode used as sh:sourceShape."""
    report = bnode("report")
    triples = [
        Triple(report, V.RDF_TYPE, iri(V.SH + "ValidationReport")),
        Triple(report, V.SH + "conforms",
               literal("true" if conforms else "false", V.XSD_BOOLEAN)),
    ]
    for idx, r in enumerate(violations_rows):
        digest = hashlib.md5(repr(tuple(r)).encode()).hexdigest()
        node = bnode(f"r{digest}-{idx}")
        # source_shape holds the shape node's n3 form: _:x or <iri>
        shape = r.source_shape
        triples += [
            Triple(report, V.SH + "detail", node),
            Triple(node, V.RDF_TYPE, iri(V.SH + "ValidationResult")),
            Triple(node, V.SH + "focusNode", Term(*r.focus)),
            Triple(node, V.SH + "resultSeverity", iri(r.severity)),
            Triple(node, V.SH + "sourceShape",
                   bnode(shape[2:]) if shape.startswith("_:")
                   else iri(shape[1:-1])),
            Triple(node, V.SH + "sourceConstraintComponent",
                   iri(r.component)),
        ]
        if r.value is not None:
            triples.append(Triple(node, V.SH + "value", Term(*r.value)))
        # resultPath only for single-IRI paths, bare IRI (report.rs:177-185)
        if r.path is not None and _SINGLE_IRI_PATH.fullmatch(r.path):
            triples.append(Triple(node, V.SH + "resultPath", iri(r.path[1:-1])))
        if r.message is not None:
            triples.append(Triple(node, V.SH + "resultMessage",
                                  literal(r.message, V.XSD_STRING)))
    return Graph(triples)


def report_json(violations_rows: list, conforms: bool) -> dict:
    """Nested JSON report (report.rs:219-224, 288-317)."""
    results = []
    for r in violations_rows:
        obj = {
            "focusNode": _term_str(r.focus),
            "sourceShape": r.source_shape,
            "severity": r.severity,
            "sourceConstraintComponent": r.component,
        }
        if r.path is not None:
            obj["resultPath"] = r.path
        if r.value is not None:
            obj["value"] = _term_str(r.value)
        if r.message:
            obj["messages"] = r.message.split("; ")
        results.append(obj)
    return {"conforms": conforms, "results": results}


def report_text(violations_rows: list, conforms: bool) -> str:
    """Text rendering (report.rs:327-390)."""
    lines = ["", "=" * 80, "SHACL Validation Report", "=" * 80]
    if conforms:
        lines.append("\n✓ Data conforms to all shapes")
        return "\n".join(lines)
    lines.append("\n✗ Data does NOT conform to all shapes")
    lines.append(f"Violations: {len(violations_rows)}")
    by_sev = {}
    for r in violations_rows:
        by_sev[r.severity] = by_sev.get(r.severity, 0) + 1
    for label, sev in (("Violations", V.SH + "Violation"),
                       ("Warnings", V.SH + "Warning"),
                       ("Info", V.SH + "Info")):
        if by_sev.get(sev):
            lines.append(f"  - {label}: {by_sev[sev]}")
    lines += ["", "-" * 80, "Validation Results:", "-" * 80]
    for idx, r in enumerate(violations_rows):
        lines.append(f"\n[{idx + 1}] Severity: <{r.severity}>")
        lines.append(f"  Focus Node: {_term_str(r.focus)}")
        lines.append(f"  Source Shape: {r.source_shape}")
        lines.append(f"  Constraint: <{r.component}>")
        if r.path is not None:
            lines.append(f"  Result Path: {r.path}")
        if r.value is not None:
            lines.append(f"  Value: {_term_str(r.value)}")
        if r.message:
            lines.append(f"  Message: {r.message}")
    return "\n".join(lines)


def _term_str(t) -> str:
    from ..term import Term

    return Term(*t).n3()
