"""Spark schemas for the triples data model (SURVEY.md §1.1, §1.4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .rdf.graph import Graph
from .term import Term

TERM_TYPE = StructType([
    StructField("kind", StringType(), False),      # 'iri' | 'bnode' | 'lit'
    StructField("value", StringType(), False),     # IRI / bnode id / lexical form
    StructField("datatype", StringType(), False),  # '' unless kind='lit'
    StructField("lang", StringType(), False),      # '' unless lang-tagged literal
])

TRIPLES_TYPE = StructType([
    StructField("s", TERM_TYPE, False),
    StructField("p", StringType(), False),  # predicates are always IRIs
    StructField("o", TERM_TYPE, False),
])

VIOLATIONS_TYPE = StructType([
    StructField("focus", TERM_TYPE, False),
    StructField("source_shape", StringType(), False),
    StructField("component", StringType(), False),
    StructField("severity", StringType(), False),
    StructField("path", StringType(), True),
    StructField("value", TERM_TYPE, True),
    StructField("message", StringType(), True),
])


def term_lit(t: Term):
    """A constant TERM struct column for a driver-side term."""
    return F.struct(
        F.lit(t.kind).alias("kind"),
        F.lit(t.value).alias("value"),
        F.lit(t.datatype).alias("datatype"),
        F.lit(t.lang).alias("lang"),
    )


def graph_to_df(spark: SparkSession, graph: Graph) -> DataFrame:
    rows = [(tuple(t.s), t.p, tuple(t.o)) for t in graph]
    return spark.createDataFrame(rows, TRIPLES_TYPE)


def terms_to_df(spark: SparkSession, terms: list[Term], colname: str = "focus") -> DataFrame:
    schema = StructType([StructField(colname, TERM_TYPE, False)])
    return spark.createDataFrame([(tuple(t),) for t in terms], schema)
