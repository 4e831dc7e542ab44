"""Randomized cross-engine equivalence: hypothesis generates small
graphs and random (valid-by-construction) BGPs with optionals, numeric
filters, and MINUS blocks; the Spark DataFrame result must equal the
DuckDB result of the generated SQL twin as a multiset — the strongest
guard against twin drift (every operator addition re-tested under
random composition)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import example, given, settings, strategies as st

from rdf_go_spark.operators.query import bgp_match, bgp_sql

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
SUBJECTS = [f"<s{i}>" for i in range(4)]
PREDS = [f"<p{i}>" for i in range(3)]
OBJECTS = SUBJECTS + ['"a"', '"b"',
                      f'"3"^^<{XSD_INT}>', f'"7"^^<{XSD_INT}>']

EDGES = st.lists(
    st.tuples(st.sampled_from(SUBJECTS), st.sampled_from(PREDS),
              st.sampled_from(OBJECTS)),
    min_size=3, max_size=14)


@st.composite
def bgps(draw):
    """A connected BGP: subjects are variables from a growing pool (so
    every pattern shares a variable), predicates mostly constant,
    objects a mix of constants and fresh/bound variables."""
    pool = ["x"]
    pats = []
    for i in range(draw(st.integers(1, 3))):
        s = "?" + draw(st.sampled_from(pool))
        # include path-expression predicates (seq/alt) so the twin's
        # DISTINCT set semantics for paths inside BGPs stays pinned;
        # zero-length forms (?, {0,1}, *) only once the subject pool is
        # seeded by an earlier pattern (their identity component needs a
        # bound endpoint — unrestricted evaluation raises by design)
        path_choices = (
            [f"{a}/{b}" for a in PREDS[:2] for b in PREDS[:2]]
            + [f"{a}|{b}" for a, b in zip(PREDS, PREDS[1:])])
        if i > 0:
            path_choices += [f"{a}?" for a in PREDS[:2]] \
                + [f"{PREDS[0]}{{0,2}}", f"{PREDS[1]}*"]
        p = draw(st.sampled_from(PREDS + [f"?pv{i}"] + path_choices))
        o = draw(st.sampled_from(
            OBJECTS + ["?" + v for v in pool] + [f"?o{i}"]))
        pats.append((s, p, o))
        for t in (s, p, o):
            if t.startswith("?") and t[1:] not in pool:
                pool.append(t[1:])
    optionals = []
    if draw(st.booleans()):
        optionals.append(("?" + draw(st.sampled_from(pool)),
                          draw(st.sampled_from(PREDS)), "?opt"))

    def atom():
        kind = draw(st.sampled_from(["int", "term", "str"]))
        v = "?" + draw(st.sampled_from(pool))
        if kind == "int":
            return (v, draw(st.sampled_from(["<", "<=", ">", ">=",
                                             "=", "!="])),
                    draw(st.integers(2, 8)))
        if kind == "term":
            return (v, draw(st.sampled_from(["=", "!="])),
                    draw(st.sampled_from(OBJECTS)))
        return (v, draw(st.sampled_from(
            ["strstarts", "!strstarts", "contains", "!contains"])),
            draw(st.sampled_from(["s", "a", "3", "x"])))

    filters = []
    if draw(st.booleans()):
        filters.append(atom())
    if draw(st.booleans()):
        # DNF combination: up to 2 or-branches of up to 2 atoms
        filters.append(("||", "||", [
            [atom() for _ in range(draw(st.integers(1, 2)))]
            for _ in range(draw(st.integers(2, 3)))]))
    minus = []
    if draw(st.booleans()):
        minus.append(("?" + draw(st.sampled_from(pool)),
                      draw(st.sampled_from(PREDS)),
                      draw(st.sampled_from(OBJECTS))))
    exists, not_exists = [], []
    if draw(st.booleans()):
        blockset = draw(st.sampled_from(["e", "ne"]))
        pat = [("?" + draw(st.sampled_from(pool)),
                draw(st.sampled_from(PREDS)),
                draw(st.sampled_from(OBJECTS + ["?ex"])))]
        (exists if blockset == "e" else not_exists).append(pat)
    binds = []
    if draw(st.booleans()):
        binds.append(("bnd",
                      draw(st.sampled_from(["LANG", "DATATYPE", "STR"])),
                      draw(st.sampled_from(pool))))
    return {"patterns": pats, "optionals": optionals,
            "filters": filters, "minus": minus,
            "exists": exists, "not_exists": not_exists, "binds": binds}


def _cte(edges) -> str:
    rows = ", ".join(
        "(" + ", ".join("'" + t.replace("'", "''") + "'" for t in e) + ")"
        for e in edges)
    return f"SELECT * FROM (VALUES {rows}) t(subj, pred, obj)"


@st.composite
def path_exprs(draw, depth=2):
    """Random path AST rendered to the surface syntax: seq/alt/inv over
    constant preds, with at most one + (each + runs an iterative closure
    — keep the per-example cost bounded)."""
    def node(d, plus_budget):
        kind = draw(st.sampled_from(
            ["iri", "iri", "seq", "alt", "inv", "nps", "rep", "opt"]
            + (["plus", "star"] if plus_budget else [])))
        if d <= 0 or kind == "iri":
            return draw(st.sampled_from(PREDS)), plus_budget
        if kind == "opt":
            inner, pb = node(d - 1, 0)
            return f"({inner})?", plus_budget
        if kind == "star":
            inner, pb = node(d - 1, 0)
            return f"({inner})*", 0
        if kind == "nps":
            n = draw(st.integers(1, 2))
            return "!(" + "|".join(
                draw(st.sampled_from(PREDS)) for _ in range(n)) + ")", \
                plus_budget
        if kind == "rep":
            lo = draw(st.integers(1, 2))
            hi = lo + draw(st.integers(0, 2))
            inner, pb = node(d - 1, 0)
            return f"({inner}){{{lo},{hi}}}", plus_budget
        if kind == "inv":
            inner, pb = node(d - 1, plus_budget)
            return f"^({inner})", pb
        if kind == "plus":
            inner, pb = node(d - 1, 0)
            return f"({inner})+", 0
        a, pb = node(d - 1, plus_budget)
        b, pb = node(d - 1, pb)
        return f"({a}){'/' if kind == 'seq' else '|'}({b})", pb
    expr, _ = node(depth, 1)
    return expr


@settings(max_examples=15, deadline=None)
@given(edges=EDGES, expr=path_exprs())
# an alternation that repeats an IRI keeps one row per branch (bag)
@example(edges=[("<s0>", "<p0>", "<s1>"), ("<s1>", "<p1>", "<s2>"),
                ("<s2>", "<p0>", '"a"')], expr="(<p0>)|(<p0>)")
def test_random_path_matches_sql_twin(spark, edges, expr):
    from rdf_go_spark.operators.paths import (
        graph_nodes, has_zero_length, path_pairs, path_sql,
    )
    df = spark.createDataFrame(edges, ["subj", "pred", "obj"])
    # standalone evaluation of a zero-length path needs the explicit
    # node-universe opt-in (the twin defaults to the same universe)
    idn = graph_nodes(df) if has_zero_length(expr) else None
    spark_rows = sorted(
        tuple(r) for r in path_pairs(df, expr, id_nodes=idn).collect())
    duck_rows = sorted(
        tuple(r) for r in duckdb.sql(path_sql(expr, _cte(edges)))
        .fetchall())
    assert spark_rows == duck_rows


def _nullsafe_sort(rows):
    # None (unmatched OPTIONAL) is not orderable against str — sort by
    # (is-null, value) per column
    return sorted(rows, key=lambda t: tuple(
        (v is None, v if v is not None else "") for v in t))


@settings(max_examples=25, deadline=None)
@given(edges=EDGES, q=bgps())
def test_random_bgp_matches_sql_twin(spark, edges, q):
    df = spark.createDataFrame(edges, ["subj", "pred", "obj"])
    sdf = bgp_match(df, **q)
    cols = sorted(sdf.columns)
    spark_rows = _nullsafe_sort(
        tuple(row[c] for c in cols) for row in sdf.collect())
    kw = dict(q)
    rel = duckdb.sql(bgp_sql(kw.pop("patterns"), _cte(edges), **kw))
    idx = [rel.columns.index(c) for c in cols]
    duck_rows = _nullsafe_sort(
        tuple(r[i] for i in idx) for r in rel.fetchall())
    assert spark_rows == duck_rows
