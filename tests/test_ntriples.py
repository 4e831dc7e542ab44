"""N-Triples / N-Quads kernel tests driven by the W3C fixture corpus at
/root/reference/w3c-tests (read-only; inputs + expected canonical outputs).

Mirrors the reference's conformance strategy (rdf/compliance_test.go:112-157):
positive files must parse cleanly, ``bad`` files must error, and the c14n
paired files must round-trip byte-for-byte through our canonical encoder.
"""

import glob
import os

import pytest

from rdf_go_spark.encoders import encode_nquads, encode_ntriples
from rdf_go_spark.parsers.ntriples import (
    parse_document, parse_nquads_line, parse_ntriples_line,
)
from tests.w3c_harness import fixture_ids

W3C = "/root/reference/w3c-tests"

nt_files = sorted(glob.glob(f"{W3C}/ntriples/*.nt"))
nq_files = sorted(glob.glob(f"{W3C}/nquads/*.nq"))
c14n_pairs = [
    (p.replace("-c14n.nt", ".nt"), p)
    for p in sorted(glob.glob(f"{W3C}/ntriples/c14n/*-c14n.nt"))
    if os.path.exists(p.replace("-c14n.nt", ".nt"))
]


@pytest.mark.skipif(not nt_files, reason="rdf-tests unavailable")
class TestW3CNTriples:
    @pytest.mark.parametrize("path", nt_files,
                             ids=fixture_ids(os.path.basename))
    def test_syntax(self, path):
        src = open(path, encoding="utf-8").read()
        stmts, errs = parse_document(src)
        if "bad" in os.path.basename(path):
            assert errs, f"negative case parsed cleanly: {path}"
        else:
            assert not errs, f"positive case failed: {errs[0]}"

    @pytest.mark.parametrize("inp,exp", c14n_pairs,
                             ids=fixture_ids(os.path.basename))
    def test_c14n_byte_parity(self, inp, exp):
        stmts, errs = parse_document(open(inp, encoding="utf-8").read())
        assert not errs
        assert encode_ntriples(stmts) == open(exp, encoding="utf-8").read()


@pytest.mark.skipif(not nq_files, reason="rdf-tests unavailable")
class TestW3CNQuads:
    @pytest.mark.parametrize("path", nq_files,
                             ids=fixture_ids(os.path.basename))
    def test_syntax(self, path):
        src = open(path, encoding="utf-8").read()
        stmts, errs = parse_document(src, quads=True)
        if "bad" in os.path.basename(path):
            assert errs
        else:
            assert not errs, f"positive case failed: {errs[0]}"


class TestUnitCases:
    def test_plain_triple(self):
        q = parse_ntriples_line(
            "<http://a.example/s> <http://a.example/p> <http://a.example/o> .")
        assert q is not None and q.g is None

    def test_comment_and_blank(self):
        assert parse_ntriples_line("# comment") is None
        assert parse_ntriples_line("   ") is None

    def test_quad_graph(self):
        q = parse_nquads_line(
            "<http://e/s> <http://e/p> <http://e/o> <http://e/g> .")
        assert q.g is not None and q.g.value == "http://e/g"

    def test_nt_rejects_graph_term(self):
        from rdf_go_spark.terms import ParseError
        with pytest.raises(ParseError):
            parse_ntriples_line(
                "<http://e/s> <http://e/p> <http://e/o> <http://e/g> .")

    def test_quarantine_errors_carry_lines(self):
        stmts, errs = parse_document(
            "<http://e/s> <http://e/p> <http://e/o> .\n<bad> <x> <y> .\n")
        assert len(stmts) == 1 and len(errs) == 1 and errs[0].line == 2

    def test_round_trip_quads(self):
        src = ('<http://e/s> <http://e/p> "v\\n"@en-US <http://e/g> .\n'
               '_:a <http://e/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> .\n')
        stmts, errs = parse_document(src, quads=True)
        assert not errs
        out = encode_nquads(stmts)
        stmts2, errs2 = parse_document(out, quads=True)
        assert not errs2
        assert encode_nquads(stmts2) == out  # fixpoint


nq_c14n_pairs = [
    (p.replace("-c14n.nq", ".nq"), p)
    for d in (f"{W3C}/nquads/c14n",
              f"{W3C}/rdf-tests/rdf/rdf12/rdf-n-quads/c14n")
    for p in sorted(glob.glob(f"{d}/*-c14n.nq"))
    if os.path.exists(p.replace("-c14n.nq", ".nq"))
]


@pytest.mark.skipif(not nq_c14n_pairs, reason="rdf-tests unavailable")
@pytest.mark.parametrize("inp,exp", nq_c14n_pairs,
                         ids=fixture_ids(os.path.basename))
def test_nq_c14n_byte_parity(inp, exp):
    stmts, errs = parse_document(
        open(inp, encoding="utf-8", newline="").read(), quads=True)
    assert not errs
    assert encode_nquads(stmts) == open(exp, encoding="utf-8",
                                        newline="").read()
