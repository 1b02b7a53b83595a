"""Canonical per-graph serialization (K1).

The reference writes canonically-sorted TriG with explicit predicate
sort priorities so output is deterministic and diffable
(MigrationHelpers.setupSTTL:528-552, modelToOutputStream:587-641).  Here
each named graph serializes to sorted N-Quads-style lines in plain Spark
SQL expressions, with no Python worker: one `groupBy(graph)` collects and
sorts the rows, and the body and its sha256 are built in the JVM.  Line
order is a pure sort of row content, so output is safe under retries.

`serialize_row` and `_PRIORITY` are the same rules in Python, the
reference that tests and benchmark pins check against.  Spark orders
strings by UTF-8 bytes, which is Python's code-point order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the reference's predicate sort priorities put types and labels first
_PRIORITY = {
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type": 0,
    "http://www.w3.org/2004/02/skos/core#prefLabel": 1,
    "http://www.w3.org/2000/01/rdf-schema#label": 2,
}

# literal escapes, applied in this order
_ESCAPES = (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"))


def _escape(s: str) -> str:
    for a, b in _ESCAPES:
        s = s.replace(a, b)
    return s


def serialize_row(s: str, p: str, kind: str, value: str, lang, dt) -> str:
    if kind == "iri":
        obj = f"<{value}>"
    elif lang:
        obj = f'"{_escape(value)}"@{lang}'
    elif dt:
        obj = f'"{_escape(value)}"^^<{dt}>'
    else:
        obj = f'"{_escape(value)}"'
    return f"<{s}> <{p}> {obj} ."


def serialize_graphs(triples: DataFrame) -> DataFrame:
    """graph table -> one row per named graph: canonical text + sha256.

    The sha256 column is the per-graph content hash used for diffable
    output and idempotent re-publication (the Spark analog of the
    reference's git-diffable TriG files).  Rows with a NULL graph are
    dropped; a NULL subject, predicate or o_value fails the job."""
    value = F.col("o_value")
    for a, b in _ESCAPES:
        value = F.replace(value, F.lit(a), F.lit(b))
    quoted = F.concat(F.lit('"'), value, F.lit('"'))
    obj = (
        F.when(F.col("o_kind") == "iri", F.concat(F.lit("<"), "o_value", F.lit(">")))
        .when(F.length("o_lang") > 0, F.concat(quoted, F.lit("@"), "o_lang"))
        .when(F.length("o_datatype") > 0, F.concat(quoted, F.lit("^^<"), "o_datatype", F.lit(">")))
        .otherwise(quoted)
    )
    null = F.col("subject").isNull() | F.col("predicate").isNull() | F.col("o_value").isNull()
    msg = F.concat(F.lit("NULL subject, predicate or o_value in graph "), "graph")
    head = F.concat(F.lit("<"), "subject", F.lit("> <"), "predicate", F.lit("> "))
    line = F.when(null, F.raise_error(msg)).otherwise(F.concat(head, obj, F.lit(" .")))
    prio = F.lit(9)
    for pred, rank in _PRIORITY.items():
        prio = F.when(F.col("predicate") == pred, rank).otherwise(prio)
    # sort key as the reference's: (subject, priority, predicate), then the line
    keyed = F.struct("subject", prio.alias("prio"), "predicate", line.alias("line"))
    lines = F.transform(F.array_sort(F.collect_list(keyed)), lambda x: x["line"])
    body = F.concat(F.array_join(lines, "\n"), F.lit("\n"))
    out = triples.filter(F.col("graph").isNotNull()).groupBy("graph").agg(body.alias("body"))
    return out.withColumn("sha256", F.sha2("body", 256))
