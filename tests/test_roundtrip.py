"""Round-trip tests (reference layer 2, rdf/roundtrip_test.go):
encode→decode→encode byte determinism for NT/NQ, and graph-isomorphism
round-trips across all six formats using W3C-derived graphs."""

import glob
import os

import pytest

from rdf_go_spark.encoders import (
    encode_jsonld, encode_nquads, encode_ntriples, encode_rdfxml,
    encode_trig, encode_turtle,
)
from rdf_go_spark.isomorphism import isomorphic
from rdf_go_spark.parsers.jsonld import parse_jsonld
from rdf_go_spark.parsers.ntriples import parse_document
from rdf_go_spark.parsers.rdfxml import parse_rdfxml
from rdf_go_spark.parsers.trig import parse_trig
from rdf_go_spark.parsers.turtle import parse_turtle
from rdf_go_spark.terms import IRI, BlankNode, Literal, Quad, TripleTerm
from tests.w3c_harness import fixture_ids

SAMPLE = [
    Quad(IRI("http://e/s"), IRI("http://e/p"), IRI("http://e/o")),
    Quad(IRI("http://e/s"), IRI("http://e/p"), Literal("plain")),
    Quad(IRI("http://e/s"), IRI("http://e/p2"), Literal("chat", lang="en")),
    Quad(IRI("http://e/s"), IRI("http://e/p3"),
         Literal("1", datatype="http://www.w3.org/2001/XMLSchema#integer")),
    Quad(BlankNode("b1"), IRI("http://e/p"), Literal('esc "x"\n\t\\')),
    Quad(IRI("http://e/s2"), IRI("http://e/p"), BlankNode("b1")),
]
SAMPLE_QUADS = SAMPLE + [
    Quad(IRI("http://e/s"), IRI("http://e/p"), IRI("http://e/o"),
         IRI("http://e/g")),
]


class TestByteDeterminism:
    def test_ntriples_fixpoint(self):
        enc1 = encode_ntriples(SAMPLE)
        stmts, errs = parse_document(enc1)
        assert not errs
        assert encode_ntriples(stmts) == enc1

    def test_nquads_fixpoint(self):
        enc1 = encode_nquads(SAMPLE_QUADS)
        stmts, errs = parse_document(enc1, quads=True)
        assert not errs
        assert encode_nquads(stmts) == enc1

    def test_turtle_sorted_prefix_header(self):
        # rdf/turtle_encoder.go:222-229: prefixes alphabetical
        out = encode_turtle(SAMPLE, prefixes={"z": "http://z/", "a": "http://a/"})
        lines = out.splitlines()
        assert lines[0] == "@prefix a: <http://a/> ."
        assert lines[1] == "@prefix z: <http://z/> ."

    def test_turtle_statement_order_preserved(self):
        # README.md:864-866: statements stay in input order
        out = encode_turtle(SAMPLE)
        body = [ln for ln in out.splitlines() if ln and not ln.startswith("@")]
        assert body[0].startswith("<http://e/s> <http://e/p> <http://e/o>")


class TestIsomorphicRoundTrips:
    def test_turtle(self):
        out = encode_turtle(SAMPLE, prefixes={"e": "http://e/"})
        back, errs = parse_turtle(out)
        assert not errs
        assert isomorphic(SAMPLE, back)

    def test_trig(self):
        out = encode_trig(SAMPLE_QUADS, prefixes={"e": "http://e/"})
        back, errs = parse_trig(out)
        assert not errs
        assert isomorphic(SAMPLE_QUADS, back)

    def test_jsonld(self):
        out = encode_jsonld(SAMPLE)
        back, errs = parse_jsonld(out)
        assert not errs
        assert isomorphic(SAMPLE, back)

    def test_rdfxml(self):
        out = encode_rdfxml(SAMPLE)
        back, errs = parse_rdfxml(out)
        assert not errs
        assert isomorphic(SAMPLE, back)

    def test_triple_term_nt_round_trip(self):
        q = [Quad(IRI("http://e/r"),
                  IRI("http://www.w3.org/1999/02/22-rdf-syntax-ns#reifies"),
                  TripleTerm(IRI("http://e/s"), IRI("http://e/p"),
                             Literal("o")))]
        enc = encode_ntriples(q)
        back, errs = parse_document(enc)
        assert not errs
        assert encode_ntriples(back) == enc


w3c_eval_ttls = sorted(
    glob.glob("/root/reference/w3c-tests/turtle/eval/*.ttl"))[:30]


@pytest.mark.skipif(not w3c_eval_ttls, reason="rdf-tests unavailable")
@pytest.mark.parametrize("path", w3c_eval_ttls,
                         ids=fixture_ids(os.path.basename))
def test_w3c_graph_survives_all_formats(path):
    """Parse a W3C turtle graph, push it through every encoder/decoder
    pair, assert isomorphism is preserved (quoted-triple graphs are
    format-dependent → compared only through NT)."""
    src = open(path, encoding="utf-8", newline="").read()
    g, errs = parse_turtle(src, base="http://example/base/")
    if errs:
        pytest.skip("not a clean positive case")
    g = list(set(g))
    nt = encode_ntriples(g)
    back, e2 = parse_document(nt, allow_star=True)
    assert not e2 and isomorphic(g, list(set(back)))
    has_tt = any("<<(" in line for line in nt.splitlines())
    if has_tt:
        return  # XML/JSON-LD encoders don't carry triple terms (by design)
    out_x = encode_rdfxml(g)
    back_x, ex = parse_rdfxml(out_x)
    assert not ex and isomorphic(g, list(set(back_x)))
    out_j = encode_jsonld(g)
    back_j, ej = parse_jsonld(out_j)
    assert not ej and isomorphic(g, list(set(back_j)))


from hypothesis import given, settings, strategies as st

_iri = st.from_regex(r"http://e/[A-Za-z0-9_]{1,10}", fullmatch=True)
_lex = st.text(max_size=40)
_lang = st.sampled_from(["en", "en-US", "de", "ar--rtl"])
_term_obj = st.one_of(
    _iri.map(IRI),
    st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,8}", fullmatch=True).map(BlankNode),
    _lex.map(Literal),
    st.tuples(_lex, _lang).map(lambda t: Literal(t[0], lang=t[1])),
    st.tuples(_lex, _iri).map(lambda t: Literal(t[0], datatype=t[1])),
)
_quad = st.builds(
    Quad,
    st.one_of(_iri.map(IRI),
              st.from_regex(r"[A-Za-z][A-Za-z0-9]{0,8}", fullmatch=True)
              .map(BlankNode)),
    _iri.map(IRI),
    _term_obj,
    st.one_of(st.none(), _iri.map(IRI)),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_quad, min_size=1, max_size=12))
def test_property_nquads_roundtrip(quads):
    """Any generated statement list survives encode→parse→encode exactly."""
    enc = encode_nquads(quads)
    back, errs = parse_document(enc, quads=True)
    assert not errs, (errs[0], enc)
    assert encode_nquads(back) == enc


@settings(max_examples=80, deadline=None)
@given(st.lists(_quad.filter(lambda q: q.g is None), min_size=1, max_size=8))
def test_property_turtle_roundtrip_isomorphic(quads):
    out = encode_turtle(quads)
    back, errs = parse_turtle(out)
    assert not errs, (errs[0], out)
    assert isomorphic(list(set(quads)), list(set(back)))


class TestCgStarRoundTrip:
    def test_cg_graph_roundtrips_through_ntriples(self):
        """CG-mode graphs (quoted triples as direct terms, incl. as
        SUBJECTS) must survive encode → reparse: the encoder's
        star_semantics='cg' renders << s p o >> instead of the RDF 1.2
        object-only triple term."""
        from rdf_go_spark.encoders import encode_ntriples
        from rdf_go_spark.parsers.ntriples import parse_document
        from rdf_go_spark.parsers.turtle import parse_turtle
        src = ("@prefix ex: <http://e/> . "
               "<<ex:s ex:p ex:o>> ex:q ex:z . "
               "ex:a ex:b <<ex:s2 ex:p2 <<ex:i ex:j ex:k>> >> . "
               "ex:s ex:p ex:o {| ex:r ex:note |} .")
        g1, errs = parse_turtle(src, star_semantics="cg")
        assert not errs and len(g1) == 4
        nt = encode_ntriples(g1, star_semantics="cg")
        assert "<<(" not in nt and "<< <http://e/s>" in nt
        g2, errs2 = parse_document(nt, allow_star=True)
        assert not errs2
        assert set(g1) == set(g2)

    def test_cg_graph_roundtrips_through_turtle_and_trig(self):
        from rdf_go_spark.encoders import encode_trig, encode_turtle
        from rdf_go_spark.parsers.trig import parse_trig
        from rdf_go_spark.parsers.turtle import parse_turtle
        src = ("@prefix ex: <http://e/> . "
               "<<ex:s ex:p ex:o>> ex:q ex:z . "
               "ex:a ex:b <<ex:s2 ex:p2 ex:o2>> .")
        g1, errs = parse_turtle(src, star_semantics="cg")
        assert not errs
        ttl = encode_turtle(g1, star_semantics="cg")
        g2, e2 = parse_turtle(ttl, star_semantics="cg")
        assert not e2 and set(g1) == set(g2)
        trig = encode_trig(g1, star_semantics="cg")
        g3, e3 = parse_trig(trig, star_semantics="cg")
        assert not e3 and set(g1) == set(g3)
