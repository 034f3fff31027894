"""S1–S4 source readers: N-Triples regex parse + TSV triples."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_tensors_spark.io.readers import (
    TABLES,
    read_ntriples,
    read_tsv_triples,
)

NT = """\
<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .
<http://ex.org/b> <http://ex.org/knows> <http://ex.org/c> .
<http://ex.org/a> <http://ex.org/name> "Alice" .
<http://ex.org/c> <http://ex.org/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
malformed line without triple
"""


@pytest.fixture(scope="module")
def nt_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("nt") / "g.nt"
    p.write_text(NT)
    return str(p)


def test_ntriples_uri_only_matches_scala_semantics(spark, nt_file):
    """`RDFDatasetReader.scala:22-25` keeps all-URI triples; the rdflib
    path inverted this (`rdfio.py:46-47`) — we follow the Scala side."""
    rows = {
        (r.s, r.p, r.o) for r in read_ntriples(spark, nt_file).collect()
    }
    assert rows == {
        ("http://ex.org/a", "http://ex.org/knows", "http://ex.org/b"),
        ("http://ex.org/b", "http://ex.org/knows", "http://ex.org/c"),
    }


def test_ntriples_with_literals(spark, nt_file):
    rows = read_ntriples(spark, nt_file, uri_only=False).collect()
    assert len(rows) == 4  # malformed line dropped
    objs = {r.o for r in rows}
    assert '"Alice"' in objs
    assert any(o.startswith('"42"^^') for o in objs)


def _nt_escape(value: str) -> str:
    """Canonical N-Triples STRING_LITERAL_QUOTE escaping (the form
    rdflib/Jena serializers emit): backslash, quote, and the control
    ECHARs; everything else verbatim."""
    out = []
    for ch in value:
        if ch == "\\":
            out.append("\\\\")
        elif ch == '"':
            out.append('\\"')
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        else:
            out.append(ch)
    return '"' + "".join(out) + '"'


# printable-ish unicode plus every character that stresses the regex:
# quotes, backslashes, angle brackets, dots, spaces, tabs/newlines
# (escaped into the term), non-ASCII
_NASTY = st.text(
    alphabet=st.one_of(
        st.sampled_from(list('"\\<>. \t\n\r^@\'')),
        st.characters(min_codepoint=33, max_codepoint=0x2FF),
    ),
    min_size=0,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_NASTY, min_size=1, max_size=8), st.randoms())
def test_ntriples_literal_escapes_property(spark, tmp_path_factory,
                                           values, rnd):
    """Escape-aware literal-path property (VERDICT r3 item 10): for any
    literal VALUE — embedded quotes, backslashes, '>', ' .', unicode —
    the rendered line parses to exactly the rendered term, the term
    unescapes back to the value, and uri_only mode excludes it."""
    from spark_tensors_spark.io.readers import unescape_ntriples_literal

    lines, expect = [], {}
    for i, v in enumerate(values):
        term = _nt_escape(v)
        suffix = rnd.choice(
            ["", "@en", "^^<http://www.w3.org/2001/XMLSchema#string>"]
        )
        lines.append(f"<http://ex.org/s{i}> <http://ex.org/p> "
                     f"{term}{suffix} .")
        expect[f"http://ex.org/s{i}"] = (term + suffix, v, suffix)
    p = tmp_path_factory.mktemp("ntprop") / "g.nt"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")

    rows = read_ntriples(spark, str(p), uri_only=False).collect()
    assert len(rows) == len(values)
    for r in rows:
        term, value, suffix = expect[r.s]
        assert r.o == term, (r.o, term)
        lex, suf = unescape_ntriples_literal(r.o)
        assert lex == value and suf == suffix
    assert read_ntriples(spark, str(p), uri_only=True).count() == 0


def test_unescape_literal_uchar_and_errors():
    from spark_tensors_spark.io.readers import unescape_ntriples_literal

    assert unescape_ntriples_literal(r'"A\U0001F600"') == ("A\U0001F600", "")
    assert unescape_ntriples_literal(r'"a\tb"@en') == ("a\tb", "@en")
    assert unescape_ntriples_literal(
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer>'
    ) == ("42", "^^<http://www.w3.org/2001/XMLSchema#integer>")
    for bad in ['no-quote', '"unterminated', '"bad\\x"', '"trail\\']:
        with pytest.raises(ValueError):
            unescape_ntriples_literal(bad)


def test_ntriples_literals_match_rdflib():
    """Cross-parser check against rdflib itself where available (the
    reference's own literal parser); skipped in containers without it."""
    rdflib = pytest.importorskip("rdflib")
    from spark_tensors_spark.io.readers import unescape_ntriples_literal

    nasty = ['a"b', "back\\slash", "tab\there", "multi\nline",
             "unié中", "dot . dot", "gt > lt <"]
    for v in nasty:
        term = _nt_escape(v)
        g = rdflib.Graph()
        g.parse(
            data=f"<http://e/s> <http://e/p> {term} .", format="nt"
        )
        (_, _, o) = next(iter(g))
        lex, _suf = unescape_ntriples_literal(term)
        assert str(o) == lex == v


# Expected (subject-localname → (object lexical value, suffix)) for the
# vendored W3C-grammar vector file, derived BY HAND from the RDF 1.1
# N-Triples spec (not from this repo's parser) — the standing
# cross-check for containers without rdflib (the rdflib test below
# still runs wherever it is installed).
W3C_VECTORS = {
    "s2": ("plain", ""),
    "s3": ("tab\there", ""),
    "s4": ('quote:" backslash:\\ cr:\r lf:\n ff:\f bs:\b', ""),
    "s5": ("uchar:A wide:\U0001F600", ""),
    "s6": ("lang", "@en"),
    "s7": ("lang-region", "@en-US"),
    "s8": ("42", "^^<http://www.w3.org/2001/XMLSchema#integer>"),
    "s9": ("euro € and mixed é", ""),
    "s11": ("sep:\u2028 nel:\x85 end", ""),
}


def test_ntriples_w3c_vector_sweep(spark):
    """Vendored W3C-grammar vectors (tests/data/ntriples_w3c_vectors.nt)
    through the REAL scan path: read_ntriples over the file, then
    unescape_ntriples_literal on every literal — every ECHAR, both UCHAR
    widths, langtags, datatype suffixes, raw U+2028/U+0085 (the r4
    DOTALL silent-drop class), comments and URI-only filtering."""
    import os

    from spark_tensors_spark.io.readers import unescape_ntriples_literal

    path = os.path.join(os.path.dirname(__file__), "data",
                        "ntriples_w3c_vectors.nt")
    rows = read_ntriples(spark, path, uri_only=False).collect()
    by_s = {r.s.rsplit("/", 1)[-1]: r.o for r in rows}
    # 11 triples total; comments/blank lines ignored
    assert len(rows) == 11 and len(by_s) == 11
    # URI objects unwrapped verbatim (incl. percent-encoding and query)
    assert by_s["s1"] == "http://example/o1"
    assert by_s["s10"] == "http://example/o%20enc?q=1&r=2#frag"
    for name, (want_lex, want_suf) in W3C_VECTORS.items():
        lex, suf = unescape_ntriples_literal(by_s[name])
        assert (lex, suf) == (want_lex, want_suf), name
    # uri_only=True keeps exactly the two all-URI triples
    uris = {r.s.rsplit("/", 1)[-1]
            for r in read_ntriples(spark, path, uri_only=True).collect()}
    assert uris == {"s1", "s10"}


def test_tsv_triples_named_schema(spark, tmp_path):
    p = tmp_path / "t.tsv"
    p.write_text("e1\tr1\te2\ne2\tr1\te3\n")
    df = read_tsv_triples(spark, str(p), columns=("head", "rel", "tail"))
    assert df.columns == ["head", "rel", "tail"]
    assert df.count() == 2
    # TransE.scala:89-91 layout (head, tail, relation) is a caller-side
    # column naming, not a positional convention baked into the reader
    df2 = read_tsv_triples(spark, str(p), columns=("h", "t", "r"))
    assert {tuple(r) for r in df2.collect()} == {
        ("e1", "r1", "e2"), ("e2", "r1", "e3")
    }


def test_load_table_normalizes_every_events_ts_layout(spark, tmp_path):
    """Round-2 regression class: the driver has shipped events.ts as
    TIMESTAMP(NANOS) (read as raw-nanos long) and as TIMESTAMP(MICROS)
    without timezone (read as TIMESTAMP_NTZ).  load_table must
    normalize EVERY layout to a session-tz TIMESTAMP with identical
    wall-clock values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from spark_tensors_spark.io.readers import load_table

    wall = [
        datetime.datetime(2024, 3, 1, 12, 0, 0, 250_000),
        datetime.datetime(2024, 3, 1, 12, 0, 1, 0),
    ]
    layouts = {
        "ntz_us": pa.timestamp("us"),
        "tz_us": pa.timestamp("us", tz="UTC"),
        "nanos": pa.timestamp("ns"),
    }
    got = {}
    for name, ty in layouts.items():
        d = tmp_path / name
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(wall, ty),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
            name, df.schema["ts"].dataType,
        )
        got[name] = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got["ntz_us"] == got["tz_us"] == got["nanos"], got


@pytest.fixture(scope="module")
def gen_scale_dir(tmp_path_factory):
    """A small ``scripts/gen_scale.py`` output (sf0.0001-sized tables)."""
    import os
    import subprocess
    import sys

    from tests.conftest import REPO

    out = tmp_path_factory.mktemp("gen_scale")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "gen_scale.py"),
         "0.001", str(out)],
        check=True, stdout=subprocess.DEVNULL, timeout=120,
    )
    return str(out)


@pytest.mark.parametrize("name", [t for t in TABLES if t != "events"])
def test_load_table_declared_schema_matches_files(spark, gen_scale_dir,
                                                  name):
    """Each declared table schema is exactly what Spark infers from the
    shipped files and from gen_scale's, and a declared read runs no
    Spark job (schema inference would run one)."""
    import os

    from spark_tensors_spark.io.readers import load_table
    from tests.conftest import SF_SMOKE

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for sf_dir in (SF_SMOKE, gen_scale_dir):
        before = scheduler.nextJobId()
        df = load_table(spark, sf_dir, name)
        assert scheduler.nextJobId() == before, sf_dir
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert df.schema == spark.read.parquet(path).schema, sf_dir
