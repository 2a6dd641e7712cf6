"""JSON-lines stdio tool server — the analog of the reference's MCP
front-end (/root/reference/crates/shacl-mcp/src/main.rs).

The reference exposes four tools over MCP stdio; this module exposes
the same four tools with the same argument names and result payloads
over a dependency-free JSON-lines protocol (one request object per
line in, one response object per line out):

    {"id": 1, "tool": "validate_graphs",
     "args": {"data_graph": "...", "shapes_graph": "...",
              "data_format": "ttl", "shapes_format": "ttl",
              "output_format": "json"}}
    -> {"id": 1, "ok": true, "result": "<report string>"}

Tools (main.rs:85-188):
- validate_graphs          -> report rendered as text / json / any RDF
                              format (ttl, nt, nq, trig, rdf)
- validate_graphs_conforms -> '{"conforms": bool}'
- lint_graph(graph,format) -> '{"valid": true}' or error
- parse_shapes_graph       -> ShapesInfo detailed text

Errors return {"ok": false, "error": "<message>"} with the reference's
message prefixes ("Failed to parse data graph: ...", "Graph syntax
error: ...", "SHACL shapes error: ..."). A SparkSession is created
lazily on the first validate call; lint/parse tools stay driver-side.

    python -m shacl_rust_spark.server [--cpus 8]
"""

from __future__ import annotations

import argparse
import json
import sys


def _render_report(report, output_format: str) -> str:
    if output_format == "json":
        return json.dumps(report.to_json())
    if output_format == "text":
        return report.to_text()
    from .rdf import normalize_format, serialize_graph

    try:
        return serialize_graph(report.to_graph(),
                               normalize_format(output_format))
    except Exception:
        raise ValueError(
            f"Unsupported output format: '{output_format}'. "
            "Supported: text, json, ttl, nt, nq, rdf, jsonld, trig"
        )


class ToolServer:
    def __init__(self, spark=None, cpus: int = 8):
        self._spark = spark
        self._cpus = cpus

    def _ensure_spark(self):
        if self._spark is None:
            from pyspark.sql import SparkSession

            self._spark = (
                SparkSession.builder.master(f"local[{self._cpus}]")
                .appName("shacl-tool-server")
                .config("spark.sql.shuffle.partitions", str(max(self._cpus, 8)))
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    def _validate(self, data_graph: str, shapes_graph: str,
                  data_format: str, shapes_format: str):
        from .engine.engine import validate_graphs
        from .rdf import parse_rdf

        try:
            data = parse_rdf(data_graph, data_format)
        except Exception as e:
            raise ValueError(f"Failed to parse data graph: {e}")
        try:
            shapes = parse_rdf(shapes_graph, shapes_format)
        except Exception as e:
            raise ValueError(f"Failed to parse shapes graph: {e}")
        return validate_graphs(self._ensure_spark(), data, shapes)

    # --- tools (names + args mirror shacl-mcp) ---------------------------
    def validate_graphs(
        self,
        data_graph: str,
        shapes_graph: str,
        data_format: str = "ttl",
        shapes_format: str = "ttl",
        output_format: str = "text",
    ) -> str:
        report = self._validate(data_graph, shapes_graph, data_format,
                                shapes_format)
        return _render_report(report, output_format)

    def validate_graphs_conforms(
        self,
        data_graph: str,
        shapes_graph: str,
        data_format: str = "ttl",
        shapes_format: str = "ttl",
    ) -> str:
        report = self._validate(data_graph, shapes_graph, data_format,
                                shapes_format)
        return json.dumps({"conforms": report.conforms})

    def lint_graph(self, graph: str, format: str = "ttl") -> str:
        from .rdf import parse_rdf

        try:
            parse_rdf(graph, format)
        except Exception as e:
            raise ValueError(f"Graph syntax error: {e}")
        return json.dumps({"valid": True})

    def parse_shapes_graph(
        self, shapes_graph: str, shapes_format: str = "ttl"
    ) -> str:
        from .rdf import parse_rdf
        from .shapes.describe import shapes_info
        from .shapes.parser import parse_shapes

        try:
            g = parse_rdf(shapes_graph, shapes_format)
        except Exception as e:
            raise ValueError(f"Shapes graph syntax error: {e}")
        try:
            shapes = parse_shapes(g)
        except Exception as e:
            raise ValueError(f"SHACL shapes error: {e}")
        return shapes_info(shapes, len(g), detailed=True)

    _TOOLS = (
        "validate_graphs",
        "validate_graphs_conforms",
        "lint_graph",
        "parse_shapes_graph",
    )

    def handle_request(self, req: dict) -> dict:
        """One request → one response (never raises)."""
        rid = req.get("id")
        tool = req.get("tool")
        out: dict = {"id": rid}
        if tool not in self._TOOLS:
            out.update(ok=False, error=f"Unknown tool: {tool!r}. "
                                       f"Available: {', '.join(self._TOOLS)}")
            return out
        try:
            result = getattr(self, tool)(**(req.get("args") or {}))
            out.update(ok=True, result=result)
        except TypeError as e:  # bad/missing argument names
            out.update(ok=False, error=f"Bad arguments for {tool}: {e}")
        except Exception as e:
            out.update(ok=False, error=str(e))
        return out

    def serve(self, lines, write) -> None:
        for line in lines:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except ValueError as e:
                write(json.dumps({"id": None, "ok": False,
                                  "error": f"Bad request JSON: {e}"}) + "\n")
                continue
            write(json.dumps(self.handle_request(req)) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="shacl-tool-server")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args(argv)
    server = ToolServer(cpus=args.cpus)

    def write(s: str) -> None:
        sys.stdout.write(s)
        sys.stdout.flush()

    server.serve(sys.stdin, write)
    return 0


if __name__ == "__main__":
    sys.exit(main())
