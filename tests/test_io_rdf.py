"""N-Triples codec: roundtrip identity on hostile strings, sorted
deterministic layout, lenient parse."""

import os
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgforge.io_rdf import read_ntriples, write_ntriples

NASTY = [
    ("João Silva", "works at", "Acme Corp"),
    ("a<b>c", 'quo"te', "back\\slash"),
    ("new\nline", "tab\there", "plus+percent%20"),
    ("ángstrøm Å", "ücher", "日本語エンティティ"),
    ("trailing space ", " leading", "dot.end."),
    ("", "empty_subject_ok", "x"),
    ("<kg:e/injected> <kg:p/fake> <kg:e/row> .", "p", "o"),
]


def test_roundtrip_identity_on_hostile_strings(spark, tmp_path):
    df = spark.createDataFrame(NASTY, "s string, p string, o string")
    out = os.path.join(str(tmp_path), "nt")
    write_ntriples(df, out, n_partitions=3)
    back = read_ntriples(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(NASTY)


#: any UTF-8 text (no lone surrogate), with the characters
#: percent-encoding has to get right (``%``, ``+``, space, tab, line
#: breaks, the IRI delimiters) drawn often
_TERM = st.text(st.characters(codec="utf-8") | st.sampled_from("%+ \t\n\r<>\"\\."), max_size=12)


@settings(max_examples=25, deadline=None)
@given(rows=st.lists(st.tuples(_TERM, _TERM, _TERM), min_size=1, max_size=8))
def test_roundtrip_identity_property(spark, rows):
    """Any Unicode ``(s, p, o)`` names write as N-Triples and parse back
    exactly: url_encode with ``+`` rewritten to ``%20`` is inverted by
    url_decode, and ``%`` and a literal ``+`` survive."""
    df = spark.createDataFrame(rows, "s string, p string, o string")
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "nt")
        write_ntriples(df, out, n_partitions=2)
        back = read_ntriples(spark, out)
        assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_export_is_sorted_and_deterministic(spark, tmp_path):
    rows = [(f"e{i % 7}", f"p{i % 3}", f"e{(i * 5) % 11}") for i in range(200)]
    df = spark.createDataFrame(rows, "s string, p string, o string")
    texts = []
    for rep in range(2):
        out = os.path.join(str(tmp_path), f"nt{rep}")
        write_ntriples(df, out, n_partitions=4)
        parts = sorted(
            f for f in os.listdir(out)
            if f.startswith("part-") and not f.endswith(".crc")
        )
        texts.append("".join(open(os.path.join(out, p)).read() for p in parts))
    assert texts[0] == texts[1]
    lines = texts[0].splitlines()
    assert all(l.endswith(" .") for l in lines)
    # file order follows the RAW (s, p, o) sort — note encoded-line byte
    # order can invert around the '>' delimiter when one key prefixes
    # another, so decode before comparing
    from urllib.parse import unquote_plus

    def decode(line):
        s, p, o, _dot = line.split(" ")
        return tuple(
            unquote_plus(t[1:-1].split("/", 1)[1]) for t in (s, p, o)
        )

    assert [decode(l) for l in lines] == sorted(rows)


def test_parse_is_lenient_to_comments_and_blanks(spark, tmp_path):
    out = os.path.join(str(tmp_path), "hand.nt")
    with open(out, "w") as f:
        f.write("# a comment line\n\n")
        f.write("<kg:e/a> <kg:p/r> <kg:e/b> .\n")
        f.write("not a triple\n")
        f.write("<kg:e/x+y> <kg:p/z> <kg:e/%C3%A9> .\n")
    back = sorted(map(tuple, read_ntriples(spark, out).collect()))
    assert back == [("a", "r", "b"), ("x y", "z", "é")]


def test_reader_gates_on_configured_base(spark, tmp_path):
    """Terms must start with the configured base: a file written under
    different bases (or a foreign N-Triples file) is dropped line by
    line — not silently mangled by positional prefix-stripping."""
    out = os.path.join(str(tmp_path), "hand.nt")
    with open(out, "w") as f:
        f.write("<kg:e/a> <kg:p/r> <kg:e/b> .\n")            # ours
        f.write("<ex:e/a> <ex:p/r> <ex:e/b> .\n")            # foreign base
        f.write("<http://x.org/a> <kg:p/r> <kg:e/b> .\n")    # mixed: one bad term
    assert sorted(map(tuple, read_ntriples(spark, out).collect())) == [("a", "r", "b")]
    # reading with a different configured base sees only ITS lines
    assert read_ntriples(spark, out, entity_base="ex:e/", predicate_base="ex:p/") \
        .collect() == [("a", "r", "b")]


def test_writer_emits_rfc3986_space(spark, tmp_path):
    """Spaces encode as %20 (not form-encoding's '+'), and a literal
    '+' as %2B, so standards-compliant RDF consumers recover the exact
    canonical strings."""
    df = spark.createDataFrame([("a b", "p+q", "c d")], "s string, p string, o string")
    out = os.path.join(str(tmp_path), "nt")
    write_ntriples(df, out, n_partitions=1)
    parts = [f for f in os.listdir(out) if f.startswith("part-") and not f.endswith(".crc")]
    text = "".join(open(os.path.join(out, p)).read() for p in parts)
    assert text.strip() == "<kg:e/a%20b> <kg:p/p%2Bq> <kg:e/c%20d> ."
    assert sorted(map(tuple, read_ntriples(spark, out).collect())) == [("a b", "p+q", "c d")]


def test_roundtrip_matches_openke_materialize_output(spark, tmp_path):
    """The intended use: export the pipeline's canonical string triples
    and get the identical set back."""
    from kgforge.fixtures import ensure_fixtures

    fdir = ensure_fixtures("unit")
    golden = spark.read.parquet(os.path.join(fdir, "golden_triples.parquet"))
    df = golden.select(
        golden.subj_canon.alias("s"), golden.pred.alias("p"),
        golden.obj_canon.alias("o"),
    ).dropDuplicates()
    out = os.path.join(str(tmp_path), "kg_nt")
    write_ntriples(df, out)
    back = read_ntriples(spark, out)
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0
    assert df.exceptAll(back).count() == 0


def test_nquads_roundtrip_and_format_isolation(spark, tmp_path):
    """Quad roundtrip is exact on hostile strings, and the two parsers
    don't cross-match: a triples reader pointed at quads (or vice
    versa) yields nothing rather than mis-parsed terms."""
    from kgforge.io_rdf import read_nquads, write_nquads

    quads = [(s, p, o, f"conv {i}") for i, (s, p, o) in enumerate(NASTY)]
    df = spark.createDataFrame(quads, "s string, p string, o string, g string")
    out = os.path.join(str(tmp_path), "nq")
    write_nquads(df, out, n_partitions=3)
    back = read_nquads(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(quads)
    assert read_ntriples(spark, out).count() == 0
    t_out = os.path.join(str(tmp_path), "nt")
    write_ntriples(
        spark.createDataFrame(NASTY, "s string, p string, o string"), t_out
    )
    assert read_nquads(spark, t_out).count() == 0
