"""K1 canonical serialization: the Spark expression form against the
Python reference form (`serialize_row` + `_PRIORITY`), folded in plain
Python one graph at a time.

Reference-free: every input is generated here or comes from the synthetic
corpus, so these tests run without the golden fixture corpus."""

from __future__ import annotations

import hashlib
import random
from collections import defaultdict

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xmltoldmigration_spark.kg.model import TRIPLE_COLUMNS, TRIPLE_SCHEMA_DDL
from xmltoldmigration_spark.kg.serialize import _PRIORITY, serialize_graphs, serialize_row


def reference_graphs(rows) -> dict:
    """graph -> (body, sha256), serialized in plain Python by the reference
    form; rows with a NULL graph are dropped."""
    keyed = defaultdict(list)
    for g, s, p, kind, value, lang, dt in rows:
        if g is not None:
            line = serialize_row(s, p, kind, value, lang, dt)
            keyed[g].append(((s, _PRIORITY.get(p, 9), p), line))
    out = {}
    for g, items in keyed.items():
        body = "\n".join(line for _, line in sorted(items)) + "\n"
        out[g] = (body, hashlib.sha256(body.encode("utf-8")).hexdigest())
    return out


def spark_graphs(spark, rows, partitions: int) -> dict:
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA_DDL).repartition(partitions)
    return {r.graph: (r.body, r.sha256) for r in serialize_graphs(df).collect()}


def canonical_keys(body: str) -> list:
    keys = []
    for line in body.splitlines():
        subj = line[1 : line.index(">")]
        rest = line[line.index(">") + 2 :]
        pred = rest[1 : rest.index(">")]
        keys.append((subj, _PRIORITY.get(pred, 9), pred))
    return keys


# escapes, sort-relevant ASCII, non-ASCII BMP (Tibetan, the last BMP code
# points) and non-BMP code points: UTF-8 byte order must match code-point
# order across all of them
SPECIALS = ["\\", '"', "\n", "\r", " ", "<", ">", "!", "a", "b", "\u00e9", "\u0f40",
            "\ufffd", "\uffff", "\U00010000", "\U0001d11e", "\U0001f600"]
chars = st.one_of(st.sampled_from(SPECIALS), st.characters(exclude_categories=("Cs",)))
text = st.text(chars, max_size=6)
predicates = st.one_of(
    st.sampled_from(list(_PRIORITY) + ["http://ex/a", "http://ex/z", "http://ex/p"]), text
)
optional = st.one_of(st.none(), st.just(""), st.sampled_from(["bo-x-ewts", "http://ex/dt"]))
row = st.tuples(
    st.sampled_from(["G1", "G2", "G3"]),
    st.one_of(st.sampled_from(["s", "s\U0001d11e", "s\ufffd", "s\u00e9"]), text),
    predicates,
    st.sampled_from(["iri", "lit", None]),
    text,
    optional,
    optional,
)
# every row list carries some exact duplicates of its own rows
rows_with_dups = st.lists(row, min_size=1, max_size=40).flatmap(
    lambda rs: st.lists(st.sampled_from(rs), max_size=10).map(lambda d: rs + d)
)


@settings(max_examples=25, deadline=None)
@given(rows_with_dups)
def test_serialize_matches_reference(spark, rows):
    want = reference_graphs(rows)
    for partitions in (1, 13):
        assert spark_graphs(spark, rows, partitions) == want


@settings(max_examples=3, deadline=None)
@given(st.lists(row, min_size=5, max_size=30), st.integers(0, 2**32 - 1))
def test_serialize_mega_graph_matches_reference(spark, template, seed):
    """One graph of 12k triples built from a drawn template: subjects vary
    by a suffix, and every template row also recurs as a duplicate."""
    rng = random.Random(seed)
    cycled = (template[i % len(template)] for i in range(12_000))
    rows = [("MEGA", f"{s}{rng.randrange(500)}", *rest) for _, s, *rest in cycled]
    rows += [("MEGA", *r[1:]) for r in template]
    want = reference_graphs(rows)
    for partitions in (1, 13):
        assert spark_graphs(spark, rows, partitions) == want


def test_null_graph_rows_are_dropped(spark):
    rows = [
        (None, "s1", "http://ex/p", "lit", "x", None, None),
        (None, None, None, "lit", None, None, None),
        ("G1", "s1", "http://ex/p", "iri", "http://ex/o", None, None),
    ]
    got = spark_graphs(spark, rows, 2)
    assert set(got) == {"G1"} and got == reference_graphs(rows)


@pytest.mark.parametrize("null_at", [1, 2, 4])
@pytest.mark.parametrize("kind", ["iri", "lit"])
def test_null_subject_predicate_or_value_fails(spark, null_at, kind):
    """The reference form writes `<None>` or raises for these; the Spark
    form must fail the job, never emit `<None>` or drop the line."""
    bad = ["G1", "s1", "http://ex/p", kind, "v", None, None]
    bad[null_at] = None
    rows = [tuple(bad), ("G1", "s2", "http://ex/p", "lit", "ok", None, None)]
    with pytest.raises(Exception, match="NULL subject, predicate or o_value in graph G1"):
        spark_graphs(spark, rows, 2)


def test_canonical_serialization_synthetic(spark, tmp_path):
    """Sibling of test_kg_pipeline's fixture-corpus test on the synthetic
    corpus: sha256 per graph is partition-invariant, every body is in
    canonical (subject, priority, predicate) order and equals the
    reference form's body."""
    from xmltoldmigration_spark.plans.pipeline import Pipeline
    from xmltoldmigration_spark.sources.corpus import load_synthetic_src

    src = load_synthetic_src(spark, 300, num_partitions=2)
    final = Pipeline(spark, str(tmp_path / "ser")).run(src, resume=False)
    got = {r.graph: (r.body, r.sha256) for r in serialize_graphs(final).collect()}
    again = {r.graph: r.sha256 for r in serialize_graphs(final.repartition(13)).collect()}
    assert again == {g: sha for g, (_, sha) in got.items()} and len(got) > 100
    for body, _ in got.values():
        keys = canonical_keys(body)
        assert keys == sorted(keys)
    assert got == reference_graphs(final.select(*TRIPLE_COLUMNS).collect())
