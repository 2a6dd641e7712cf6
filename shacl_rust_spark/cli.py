"""CLI — the analog of the reference's `shacl-validator` binary
(/root/reference/crates/shacl-cli/src/main.rs).

    python -m shacl_rust_spark.cli [-v...] validate SHAPES_FILE \
        [DATA_FILE ...] [--data-parquet triples_dir ...] \
        [--data-format ttl|nt|nq|rdf|jsonld|trig] [--shapes-format ...] \
        [--output-format text|json|ttl|nt|nq|rdf|jsonld|trig] \
        [--output report.ttl] [--quiet] [--cpus 8]
    python -m shacl_rust_spark.cli parse SHAPES_FILE \
        [--format ttl|...] [--output pretty|json|compact]
    python -m shacl_rust_spark.cli info SHAPES_FILE \
        [--format ttl|...] [--detailed]

`validate` (main.rs:118-137, 273-385): the shapes file is the first
positional and every following positional is a data file (the `--data`/
`--shapes` flag spelling from earlier revisions still works); multiple
data files are parsed and unioned into one graph (main.rs:286-320;
graph = SET of triples, so the union dedups). Input format defaults to
each file's extension (rdf.rs RdfFormat::from_extension semantics) and
can be forced with --data-format / --shapes-format. --output-format
text/json render the report directly; anything else goes through the
format registry exactly like the reference's
RdfFormat::from_extension(output_format) (main.rs:350-366): ttl =
Turtle with prefix compaction (rdf.rs:59-81), rdf = RDF/XML, plus
nt/nq/jsonld/trig; an unknown name — including `yaml`, which the
reference advertises in its own error text but from_extension rejects —
fails with the reference's message. --output writes the report to a
file instead of stdout (main.rs:66-68, 340-366). -v raises log
verbosity (info lines on stderr, main.rs info!/debug! macros); --quiet
(visible alias --quite, main.rs:74) silences them. Exit code 1 when the
data does not conform (main.rs:379-382).

`parse` (main.rs:110-116, 150-252) and `info` (main.rs:139-145,
255-268) inspect the shapes graph driver-side — no Spark session is
started for either.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_command(args) -> int:
    from .rdf import parse_rdf_file
    from .shapes.describe import shapes_compact, shapes_json, shapes_pretty
    from .shapes.parser import parse_shapes

    graph = parse_rdf_file(args.shapes_file, args.format)
    shapes = parse_shapes(graph)
    if args.output == "pretty":
        print(shapes_pretty(shapes))
    elif args.output == "json":
        print(json.dumps(shapes_json(shapes), indent=2))
    elif args.output == "compact":
        print(shapes_compact(shapes))
    else:
        print(
            f"Unknown output format: {args.output}. "
            "Use 'pretty', 'json', or 'compact'",
            file=sys.stderr,
        )
        return 2
    return 0


def _info_command(args) -> int:
    from .rdf import parse_rdf_file
    from .shapes.describe import shapes_info
    from .shapes.parser import parse_shapes

    graph = parse_rdf_file(args.shapes_file, args.format)
    shapes = parse_shapes(graph)
    print(shapes_info(shapes, len(graph), args.detailed))
    return 0


def _validate_command(args) -> int:
    from pyspark.sql import SparkSession

    from .engine.engine import validate_graphs
    from .rdf import parse_rdf_file
    from .rdf.graph import Graph

    def info(msg: str) -> None:
        if args.verbose and not args.quiet:
            print(msg, file=sys.stderr)

    # positional spelling (reference): validate SHAPES DATA...; flag
    # spelling: validate --shapes S --data D [--data D2]
    if args.shapes is None and not args.files:
        print("error: SHAPES_FILE is required", file=sys.stderr)
        return 2
    shapes_path = args.shapes if args.shapes else args.files[0]
    data_paths = list(args.data or [])
    data_paths += args.files[1:] if args.shapes is None else args.files
    parquet_paths = list(args.data_parquet or [])
    if not data_paths and not parquet_paths:
        print("error: at least one DATA_FILE or --data-parquet is required",
              file=sys.stderr)
        return 2

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("shacl-validator")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    data = Graph()
    for path in data_paths:
        g = parse_rdf_file(path, args.data_format)
        info(f"Data graph {path} loaded with {len(g)} triples")
        data = data.union(g)
        info(f"Merged data graph {path} "
             f"({len(g)} triples, total now {len(data)})")
    shapes = parse_rdf_file(shapes_path, args.shapes_format)
    info(f"Shapes graph loaded with {len(shapes)} triples")

    if parquet_paths:
        # Table-backed validation — the scale path the reference has no
        # analog for: the data graph is a parquet table of TRIPLES_TYPE
        # rows (s/o TERM structs, p string — e.g. this repo's pipeline
        # sink), validated distributed without driver materialization.
        from .engine.dataset import Dataset
        from .engine.engine import validate_dataset
        from .schema import TRIPLES_TYPE, graph_to_df

        frames = []
        for path in parquet_paths:
            df = spark.read.parquet(path)
            missing = {f.name for f in TRIPLES_TYPE.fields} - set(df.columns)
            if missing:
                print(
                    f"error: {path} is not a triples table "
                    f"(missing columns: {sorted(missing)}; expected "
                    "s/p/o per schema.TRIPLES_TYPE)",
                    file=sys.stderr,
                )
                return 2
            frames.append(df.select("s", "p", "o"))
            info(f"Triples table {path} opened")
        triples = frames[0]
        for f in frames[1:]:
            triples = triples.unionByName(f)
        if len(data):
            triples = triples.unionByName(graph_to_df(spark, data))
        # cheap_pred only when every source is columnar parquet (filter
        # pushdown makes per-predicate scans cheap); a driver-graph union
        # branch keeps the defensive materialization
        ds = Dataset(spark, triples, shapes,
                     cheap_pred=not len(data))
        report = validate_dataset(ds)
    else:
        report = validate_graphs(spark, data, shapes)

    if args.output_format == "text":
        rendered = report.to_text()
    elif args.output_format == "json":
        rendered = json.dumps(report.to_json(), indent=2)
    else:
        from .rdf import serialize_graph

        try:
            rendered = serialize_graph(report.to_graph(), args.output_format)
        except ValueError:
            # main.rs:353-358 — from_extension failure (note: the
            # reference lists yaml as supported here but rejects it too)
            print(
                f"Unsupported output format: '{args.output_format}'. "
                "Supported: text, json, yaml, ttl, nt, nq, rdf, jsonld, "
                "trig",
                file=sys.stderr,
            )
            return 1

    if args.output:
        with open(args.output, "w") as f:
            f.write(rendered if rendered.endswith("\n") else rendered + "\n")
        info(f"Report written to {args.output}")
    elif args.output_format in ("text", "json"):
        print(rendered)
    else:
        print(rendered, end="")

    return 0 if report.conforms else 1


def _induce_command(args) -> int:
    """Draft SHACL shapes FROM data (shapes/induce.py) — the authoring
    inverse of `validate`, with no reference analog: profile a typed
    triples table (and/or parsed RDF files), emit one conservative
    NodeShape per predicate, ready to tighten by hand and feed back to
    `validate`. Every induced constraint is an invariant the profiled
    data already satisfies, so `validate` with the induced shapes over
    the same data always conforms."""
    from pyspark.sql import SparkSession

    from .rdf import parse_rdf_file, serialize_graph
    from .schema import TRIPLES_TYPE, graph_to_df
    from .shapes.induce import induce_shapes_graph

    data_paths = list(args.files or [])
    parquet_paths = list(args.data_parquet or [])
    if not data_paths and not parquet_paths:
        print("error: at least one DATA_FILE or --data-parquet is "
              "required", file=sys.stderr)
        return 2

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("shacl-induce")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    frames = []
    for path in parquet_paths:
        df = spark.read.parquet(path)
        missing = {f.name for f in TRIPLES_TYPE.fields} - set(df.columns)
        if missing:
            print(
                f"error: {path} is not a triples table "
                f"(missing columns: {sorted(missing)}; expected "
                "s/p/o per schema.TRIPLES_TYPE)",
                file=sys.stderr,
            )
            return 2
        frames.append(df.select("s", "p", "o"))
    for path in data_paths:
        frames.append(graph_to_df(spark, parse_rdf_file(path,
                                                        args.data_format)))
    triples = frames[0]
    for f in frames[1:]:
        triples = triples.unionByName(f)

    g = induce_shapes_graph(triples, in_threshold=args.in_threshold)
    rendered = serialize_graph(g, args.format)
    if args.output:
        with open(args.output, "w") as f:
            f.write(rendered if rendered.endswith("\n") else
                    rendered + "\n")
    else:
        print(rendered, end="")
    return 0


def _export_command(args) -> int:
    """Table-lane N-Triples export: TRIPLES_TYPE parquet →
    rdf/serialize.ntriples_lines_terms → distributed text write (or a
    stdout stream via toLocalIterator — partition-bounded memory, for
    piping small extracts). The at-scale counterpart of
    `validate --output-format nt` (which serializes the driver-side
    report graph)."""
    from pyspark.sql import SparkSession

    from .rdf.serialize import ntriples_lines_terms
    from .schema import TRIPLES_TYPE

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = None
    for path in args.data_parquet:
        part = spark.read.parquet(path)
        missing = {f.name for f in TRIPLES_TYPE.fields} - set(part.columns)
        if missing:
            print(f"error: {path} is missing columns {sorted(missing)} "
                  "(need s/p/o per schema.TRIPLES_TYPE)",
                  file=sys.stderr)
            return 1
        part = part.select("s", "p", "o")
        df = part if df is None else df.unionByName(part)
    lines = ntriples_lines_terms(df)
    if args.output:
        lines.write.mode("overwrite").text(args.output)
    else:
        for row in lines.toLocalIterator():
            print(row.line)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="shacl-validator",
        description="SHACL (Shapes Constraint Language) validator and toolkit",
    )
    # main.rs:17-20 — global -v count flag, before the subcommand
    ap.add_argument("-v", "--verbose", action="count", default=0,
                    help="verbosity (-v, -vv, -vvv)")
    sub = ap.add_subparsers(dest="command", required=True)

    val = sub.add_parser("validate")
    # main.rs:46-52 — positional SHAPES_FILE then DATA_FILE... ; the
    # flag spelling from earlier revisions of this repo still works.
    val.add_argument("files", nargs="*", metavar="FILE",
                     help="SHAPES_FILE DATA_FILE [DATA_FILE ...]")
    val.add_argument("--data", action="append", default=None,
                     help=argparse.SUPPRESS)
    val.add_argument("--shapes", default=None, help=argparse.SUPPRESS)
    val.add_argument("--data-parquet", action="append", default=None,
                     metavar="DIR",
                     help="validate a parquet triples table (s/p/o per "
                          "schema.TRIPLES_TYPE, e.g. the pipeline sink) "
                          "table-backed at scale; repeatable, unions "
                          "with any parsed DATA_FILEs")
    val.add_argument("-d", "--data-format", default=None,
                     help="force input format for every data file "
                          "(default: per-file extension)")
    val.add_argument("-s", "--shapes-format", default=None)
    val.add_argument("--output-format", default="text",
                     help="text | json | ttl | nt | nq | rdf | jsonld | trig")
    val.add_argument("-o", "--output", default=None,
                     help="write the report to this file instead of stdout")
    # main.rs:74 — visible_alias "quite"
    val.add_argument("--quiet", "--quite", action="store_true",
                     dest="quiet", help="disable progress output")
    val.add_argument("--cpus", type=int, default=8)

    par = sub.add_parser("parse")
    par.add_argument("shapes_file")
    par.add_argument("--format", "-f", default=None)
    par.add_argument("--output", "-o", default="pretty",
                     help="pretty | json | compact")

    inf = sub.add_parser("info")
    inf.add_argument("shapes_file")
    inf.add_argument("--format", "-f", default=None)
    inf.add_argument("--detailed", "-d", action="store_true")

    ind = sub.add_parser(
        "induce",
        help="draft conservative SHACL shapes FROM data "
             "(profile → shapes.ttl → validate)")
    ind.add_argument("files", nargs="*", metavar="DATA_FILE")
    ind.add_argument("--data-parquet", action="append", default=None,
                     metavar="DIR",
                     help="typed triples table (schema.TRIPLES_TYPE)")
    ind.add_argument("-d", "--data-format", default=None)
    ind.add_argument("--in-threshold", type=int, default=10,
                     help="suggest sh:in when a predicate has at most "
                          "this many distinct objects")
    ind.add_argument("--format", default="ttl",
                     help="output shapes format (ttl | nt | ...)")
    ind.add_argument("-o", "--output", default=None)
    ind.add_argument("--cpus", type=int, default=8)

    exp = sub.add_parser(
        "export",
        help="serialize a parquet triples table (schema.TRIPLES_TYPE) "
             "to N-Triples at scale — one codegen'd scan-project, "
             "no driver materialization")
    exp.add_argument("--data-parquet", action="append", required=True,
                     metavar="DIR",
                     help="TRIPLES_TYPE parquet dir; repeatable, unioned")
    exp.add_argument("-o", "--output", default=None,
                     metavar="OUT_DIR",
                     help="write partitioned .nt text here (distributed); "
                          "omit to stream lines to stdout")
    exp.add_argument("--cpus", type=int, default=8)

    args = ap.parse_args(argv)
    if args.command == "parse":
        return _parse_command(args)
    if args.command == "info":
        return _info_command(args)
    if args.command == "induce":
        return _induce_command(args)
    if args.command == "export":
        return _export_command(args)
    return _validate_command(args)


if __name__ == "__main__":
    sys.exit(main())
