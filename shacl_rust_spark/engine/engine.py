"""Validation orchestrator.

Spark inversion of the reference's per-focus-node loop
(/root/reference/src/validation/mod.rs:57-135): instead of rayon
iteration over shapes × focus nodes, each (shape, constraint) compiles
into one set-oriented DataFrame job over ALL focus nodes; per-shape
violation frames union into a single lazy plan, so one Spark action
evaluates the whole report and Catalyst parallelizes across partitions.

Quirks preserved:
- deactivated shapes are skipped only at the TOP level and for
  sh:node/qualifiedValueShape nested reports (validate_node_report);
  sh:and/or/xone/not ignore the flag (they call validate_focus_node);
- nested property shapes are validated on the parent shape's VALUE
  NODES, not its focus nodes (validation/mod.rs:256-270);
- a property shape whose qualifiedValueShape is disjoint validates via
  the sibling-exclusion walker (validation/mod.rs:226-352);
- sh:closed only exists on node shapes (parser) and checks every triple
  of each focus subject against the direct property-shape predicates ∪
  ignoredProperties (validation/mod.rs:354-398).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf.graph import Graph
from ..schema import TERM_TYPE, VIOLATIONS_TYPE
from ..shapes.ir import QualifiedValueShapeC, Shape
from ..shapes.parser import parse_shapes
from .. import vocab as V
from .constraints import constraint_violations, qualified_count_violations
from .dataset import Dataset
from .paths import resolve_path
from .targets import resolve_targets


class Validator:
    def __init__(self, ds: Dataset):
        self.ds = ds
        self.target_cache: dict = {}
        # small-dataset memo: shape node → checkpointed DF of ALL graph
        # terms that do not conform to that shape (see nonconforming()).
        self._nc_cache: dict = {}
        self._nc_in_progress: set = set()

    # --- violation row construction ------------------------------------
    def vio(
        self,
        df: DataFrame,
        shape: Shape,
        component: str,
        message,
        value: bool = False,
    ) -> DataFrame:
        """Project a frame containing `focus` (and optionally `v`) to the
        standard violations schema.

        `message` is a string, a Column (per-row rendered text, e.g.
        SPARQL message templates), or a list mixing both. Constraint
        messages come first, then the shape's sh:message values,
        deduplicated keeping first occurrence (build_validation_result,
        src/validation/mod.rs:655-666) — for Column messages the dedup
        runs row-side via array_distinct (same keep-first order).
        """
        value_col = (
            F.col("v") if value else F.lit(None).cast(TERM_TYPE)
        )
        parts = message if isinstance(message, list) else [message]
        parts = [*parts, *shape.messages]
        if any(not isinstance(m, str) for m in parts):
            cols = [m if not isinstance(m, str) else F.lit(m) for m in parts]
            message_col = F.array_join(F.array_distinct(F.array(*cols)), "; ")
        else:
            msgs, seen = [], set()
            for m in parts:
                if m not in seen:
                    seen.add(m)
                    msgs.append(m)
            message_col = F.lit("; ".join(msgs))
        return df.select(
            F.col("focus"),
            F.lit(shape.node.n3()).alias("source_shape"),
            F.lit(component).alias("component"),
            F.lit(shape.severity).alias("severity"),
            F.lit(shape.path.display() if shape.path else None)
            .cast("string")
            .alias("path"),
            value_col.alias("value"),
            message_col.alias("message"),
        )

    def empty_violations(self) -> DataFrame:
        return self.ds.spark.createDataFrame([], VIOLATIONS_TYPE)

    def _union(self, parts: list[DataFrame]) -> DataFrame:
        parts = [p for p in parts if p is not None]
        if not parts:
            return self.empty_violations()
        return reduce(DataFrame.unionByName, parts)

    # --- top level -------------------------------------------------------
    def _fusion_hint(self, shape: Shape) -> dict | None:
        """Target-path fusion (table-scale only): when a shape's single
        target is sh:targetSubjectsOf(P) with no subproperty expansion,
        the (focus, value) pairs of any property shape whose path is the
        direct hop P are exactly the P-triples — one predicate-filtered
        scan, no target-distinct-then-join round trip. The pairs frame
        is checkpointed once; the focus set and every constraint branch
        then read the narrow materialized pairs instead of re-scanning
        the whole graph (the scan-per-union-branch trap)."""
        if self.ds.small or len(shape.targets) != 1:
            return None
        t = shape.targets[0]
        if t.kind != "subjectsOf":
            return None
        if self.ds.subproperties(t.term) != [t.term.value]:
            return None
        p_iri = t.term.value
        # graph = SET of triples: dedup (focus, v) exactly as resolve_path
        # does for a single Hop, so a table-backed source with duplicate
        # (s,P,o) rows can't inflate count/qualified semantics. Skipped
        # when the Dataset asserts distinct_triples (the pipeline dedups
        # candidates on (s,p,o) upstream) — the extra exchange costs ~50%
        # of the validate stage at 9.6M pages for nothing.
        pairs = self.ds.pred(p_iri).select(
            F.col("s").alias("focus"), F.col("o").alias("v")
        )
        if not self.ds.distinct_triples:
            pairs = pairs.dropDuplicates(["focus", "v"])
        if not self.ds.cheap_pred:
            # defensive cut: without a pruned columnar source every
            # constraint branch would re-run the full upstream scan
            pairs = pairs.localCheckpoint(eager=True)
        return {p_iri: pairs}

    def validate(self, shapes: list[Shape]) -> DataFrame:
        parts = []
        for shape in shapes:
            if shape.deactivated:
                continue
            hint = self._fusion_hint(shape)
            if hint:
                pairs = next(iter(hint.values()))
                focus = pairs.select("focus").dropDuplicates(["focus"])
            else:
                focus = resolve_targets(self.ds, shape, self.target_cache)
            parts.append(self.validate_focus_node(shape, focus, hint))
        return self._union(parts)

    # --- core recursion ----------------------------------------------------
    def get_value_nodes(
        self, shape: Shape, focus_df: DataFrame, hint: dict | None = None
    ) -> DataFrame:
        if shape.path is not None:
            if hint is not None:
                elems = shape.path.elements
                from ..shapes.ir import Hop

                if (len(elems) == 1 and isinstance(elems[0], Hop)
                        and elems[0].iri in hint):
                    return hint[elems[0].iri]
            values = resolve_path(self.ds, shape.path, focus_df)
            if not self.ds.small:
                # Table scale: materialize the path-resolution result so
                # the per-constraint union branches read the narrow
                # (focus, v) pairs instead of each re-running the scan +
                # join (each branch re-reads the full graph otherwise).
                values = values.localCheckpoint(eager=True)
            return values
        return focus_df.select("focus", F.col("focus").alias("v"))

    def validate_focus_node(
        self, shape: Shape, focus_df: DataFrame, hint: dict | None = None
    ) -> DataFrame:
        values = self.get_value_nodes(shape, focus_df, hint)
        parts: list[DataFrame] = []
        for c in shape.constraints:
            parts.extend(constraint_violations(self, shape, c, focus_df, values))
        parts.append(self._nested_property_shapes(shape, values, hint))
        if shape.closed is not None:
            parts.append(self._closed_check(shape, focus_df))
        return self._union(parts)

    def nonconforming(
        self, shape: Shape, nodes_df: DataFrame, respect_deactivated: bool
    ) -> DataFrame:
        """Distinct focus terms that do NOT conform to the shape.

        respect_deactivated=True mirrors validate_node_report
        (deactivated nested shape ⇒ everything conforms); False mirrors
        the direct validate_focus_node calls in sh_and/or/xone/not.
        """
        if respect_deactivated and shape.deactivated:
            return nodes_df.limit(0)

        # Small datasets: evaluate each distinct nested shape ONCE over the
        # whole term universe (memoized by shape node), then serve every
        # call site as a lazy semi-join — constraints are strictly
        # per-focus, so superset evaluation + restriction is semantically
        # identical, and the compile-time-unrolled plan stops re-running
        # the same sub-shape per call site (shacl-shacl went from ~8 min to
        # seconds). At table scale the focus-restricted path below is the
        # right plan, so this is gated on ds.small.
        key = shape.node
        if self.ds.small and key not in self._nc_in_progress:
            cached = self._nc_cache.get(key)
            if cached is None:
                self._nc_in_progress.add(key)
                try:
                    cached = (
                        self.validate_focus_node(shape, self.ds.all_terms_df())
                        .select("focus")
                        .dropDuplicates(["focus"])
                        .localCheckpoint(eager=True)
                    )
                finally:
                    self._nc_in_progress.discard(key)
                self._nc_cache[key] = cached
            return (
                nodes_df.select("focus")
                .dropDuplicates(["focus"])
                .join(cached, "focus", "left_semi")
            )

        out = (
            self.validate_focus_node(shape, nodes_df)
            .select("focus")
            .dropDuplicates(["focus"])
        )
        # Materialize at the nested-shape recursion boundary: conformance
        # sets are reused by every parent constraint referencing them, and
        # without a cut the compile-time-unrolled plan grows exponentially
        # with nesting depth (Catalyst analysis on shacl-shacl's meta-shapes
        # took minutes). localCheckpoint truncates lineage the same way the
        # Kleene-closure fixpoint does (paths.py).
        return out.localCheckpoint(eager=True)

    def _nested_property_shapes(
        self, shape: Shape, parent_values: DataFrame, hint: dict | None = None
    ) -> DataFrame:
        if not shape.property_shapes:
            return self.empty_violations()
        # The fusion hint maps predicate → (focus, v) pairs valid only
        # when the focus set is exactly the target's subjects — true for
        # the node shape's identity values (path None), not for deeper
        # nesting where focus becomes the parent path's objects.
        child_hint = hint if shape.path is None else None

        # Sibling map for disjoint qualified shapes (validation/mod.rs:227-254).
        siblings_for: dict[int, list[Shape]] = {}
        for idx, ps in enumerate(shape.property_shapes):
            if any(
                isinstance(c, QualifiedValueShapeC) and c.disjoint
                for c in ps.constraints
            ):
                sibs: list[Shape] = []
                for jdx, other in enumerate(shape.property_shapes):
                    if jdx == idx:
                        continue
                    sibs.extend(
                        c.shape
                        for c in other.constraints
                        if isinstance(c, QualifiedValueShapeC)
                    )
                siblings_for[idx] = sibs

        new_focus = parent_values.select(F.col("v").alias("focus"))
        if shape.path is not None:
            # identity values of a node shape are already a distinct
            # focus set; only real path results need the dedup
            new_focus = new_focus.dropDuplicates(["focus"])
        parts = []
        for idx, ps in enumerate(shape.property_shapes):
            if idx in siblings_for:
                parts.append(
                    self._validate_property_shape_with_disjoint(
                        ps, new_focus, siblings_for[idx]
                    )
                )
            else:
                parts.append(self.validate_focus_node(ps, new_focus, child_hint))
        return self._union(parts)

    def _validate_property_shape_with_disjoint(
        self, ps: Shape, focus_df: DataFrame, siblings: list[Shape]
    ) -> DataFrame:
        values = self.get_value_nodes(ps, focus_df)
        parts: list[DataFrame] = []
        for c in ps.constraints:
            if isinstance(c, QualifiedValueShapeC) and c.disjoint:
                parts.extend(
                    qualified_count_violations(self, ps, c, focus_df, values, siblings)
                )
            else:
                parts.extend(constraint_violations(self, ps, c, focus_df, values))
        parts.append(self._nested_property_shapes(ps, values))
        if ps.closed is not None:
            parts.append(self._closed_check(ps, focus_df))
        return self._union(parts)

    def _closed_check(self, shape: Shape, focus_df: DataFrame) -> DataFrame:
        allowed = set(shape.closed.ignored_properties)
        for ps in shape.property_shapes:
            if ps.path is not None:
                allowed.update(ps.path.direct_predicates())
        node_focus = focus_df.where(F.col("focus.kind") != "lit")
        t = self.ds.triples.select(
            F.col("s").alias("_cs"), F.col("p").alias("_cp"), F.col("o").alias("_co")
        )
        joined = node_focus.join(t, node_focus["focus"] == F.col("_cs"))
        bad = joined.where(~F.col("_cp").isin(list(allowed)) if allowed else F.lit(True))
        bad = bad.select("focus", F.col("_co").alias("v"))
        return self.vio(
            bad, shape, V.SH_CLOSED_CC, "Property is not allowed (closed shape)",
            value=True,
        )


class Report:
    """Spark analog of ValidationReport (src/validation/report.rs:10-16).

    ``violations`` is the lazy violations DataFrame; ``results()``
    collects it once and caches the rows. ``conforms`` means no results
    (as in the reference), and every sink — JSON, text, RDF graph —
    renders from the cached rows, so the plan executes once per report.
    """

    def __init__(self, violations: DataFrame):
        self.violations = violations
        self._rows: list | None = None

    def results(self) -> list:
        if self._rows is None:
            self._rows = self.violations.collect()
        return self._rows

    @property
    def conforms(self) -> bool:
        return not self.results()

    def to_graph(self) -> Graph:
        """sh:ValidationReport vocabulary as a Graph (report.rs:100-217)."""
        from .report import report_graph

        return report_graph(self.results(), self.conforms)

    def to_json(self) -> dict:
        """Nested JSON report (report.rs:219-224, 288-317)."""
        from .report import report_json

        return report_json(self.results(), self.conforms)

    def to_text(self) -> str:
        """Human-readable rendering (report.rs:327-390)."""
        from .report import report_text

        return report_text(self.results(), self.conforms)


def validate_dataset(ds: Dataset, shapes: list[Shape] | None = None) -> Report:
    if shapes is None:
        shapes = parse_shapes(ds.shapes_graph)
    return Report(Validator(ds).validate(shapes))


def validate_graphs(spark, data_graph: Graph, shapes_graph: Graph) -> Report:
    """Small-graph entry point (fixtures / conformance corpus)."""
    ds = Dataset.from_graphs(spark, data_graph, shapes_graph)
    return validate_dataset(ds)


def validate_strings(spark, data_text: str, shapes_text: str) -> Report:
    """String-in entry point — the analog of the reference's WASM/MCP
    validate_graphs (crates/shacl-wasm/src/lib.rs:13-55)."""
    from ..rdf.turtle import parse_turtle

    return validate_graphs(spark, parse_turtle(data_text), parse_turtle(shapes_text))


def lint_data_text(data_text: str, fmt: str = "ttl") -> None:
    """Syntax-check a data graph — the analog of the WASM/MCP
    lint_data_graph endpoint (crates/shacl-wasm/src/lib.rs:79-84):
    raises the format's parse error on bad input, returns None on
    success. Driver-side only; no Spark session involved."""
    from ..rdf import parse_rdf

    parse_rdf(data_text, fmt)


def lint_shapes_text(shapes_text: str, fmt: str = "ttl") -> None:
    """Syntax- and shape-check a shapes graph — the analog of
    lint_shapes_graph (crates/shacl-wasm/src/lib.rs:86-94): parses the
    RDF text, then runs the shapes compiler over it; raises on either
    failure."""
    from ..rdf import parse_rdf

    parse_shapes(parse_rdf(shapes_text, fmt))
