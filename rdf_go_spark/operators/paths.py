"""SPARQL 1.1 property-path evaluation over the triples table — the
query-layer companion to the BGP matcher (operators/query.py): a path
expression compiles to a tree of DataFrame joins/unions, with ``+``
lowering onto the path-doubling transitive closure
(operators/components.py). The reference is construction-only; paths are
the Spark-side query extension (SURVEY.md §2.4), evaluated relationally
so Catalyst picks join order/strategy and pred filters push into the
scan.

Grammar (subset of SPARQL 1.1 §9.1, recursive descent below)::

    path    := seq ('|' seq)*            alternation (lowest precedence)
    seq     := step ('/' step)*          sequence
    step    := '^' step | primary ('+' | '{' n ',' m '}')*
    primary := '<iri>' | '(' path ')' | '!' '(' <iri> ('|' <iri>)* ')'

``!(<p>|<q>)`` is the negated property set (forward form): every edge
whose predicate is NOT in the set — a pred-NOT-IN filter, scan-level
cheap (no negated-inverse mixing).

Supported operators: ``/`` sequence, ``|`` alternation, ``^`` inverse,
``+`` one-or-more, bounded repetition ``{n,m}`` (0 ≤ n ≤ m ≤ 10 — the
"up to k hops" idiom, expanded to a union of k-fold compositions),
parentheses, and the zero-length forms ``*`` / ``?`` / ``{0,m}``.

Zero-length handling (SPARQL 1.1 §18.4 ZeroLengthPath): the identity
component relates every graph node to itself — a node-universe
materialization if evaluated naively, per occurrence. Instead the AST
is rewritten SYMBOLICALLY by :func:`split_zero_length` into
``path ≡ R ∪ (has_id ? I : ∅)`` using the identities::

    (A ∪ I) ∘ (B ∪ I) = A∘B ∪ A ∪ B ∪ I      (seq pushes I out)
    (A ∪ I)+           = A+ ∪ I               (closure absorbs I)
    (A ∪ I){n,m}       = A{1,m} ∪ I           (k-fold absorbs I)

so inner ``*``/``?`` never touch a node set at all; only a TOP-LEVEL
identity survives, and it is evaluated over a caller-supplied
restricted node set (the pattern's constant endpoint, or the values an
enclosing BGP has already bound — the same correlation trick
MINUS/EXISTS use), never the node universe. ``path_pairs`` on an
unrestricted ``?x <p>* ?y`` raises instead of scanning: pass
``id_nodes=graph_nodes(triples)`` to opt into spec node-universe
semantics explicitly.

Semantics: ``path_pairs`` returns the (src, dst) node pairs connected
by the path with SPARQL 1.1 §18.4 CARDINALITY — seq / alt / inverse /
negated sets / {n,m} keep bag semantics (one row per derivation, the
W3C pp11/pp31 behavior), while the closure forms (`+`, `*`) and
zero-length components are duplicate-free (ALP / ZeroLengthPath are
defined as sets). The DuckDB twin (``path_sql``) compiles the same AST
to nested joins / UNION [ALL] / a bounded recursive CTE with identical
cardinality.
"""

from __future__ import annotations

from typing import List, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# AST: ("iri", s) | ("inv", p) | ("seq", a, b) | ("alt", a, b)
#      | ("plus", p) | ("rep", p, n, m) | ("zero_or", p | None)
#      | ("distinct", p)   (internal: duplicate-free subrelation)
# ("zero_or", p) = I ∪ p  (p* → zero_or(plus p), p? → zero_or(p),
# p{0,m} → zero_or(rep p 1 m), p{0,0} → zero_or(None) = pure identity)
Ast = Tuple

MAX_REP = 10   # {n,m} expansion bound: m-fold join chains beyond this
               # deserve the + closure, not an unrolled plan


def _tokenize(path: str) -> List[str]:
    toks: List[str] = []
    i, n = 0, len(path)
    while i < n:
        c = path[i]
        if c.isspace():
            i += 1
        elif c == "<":
            j = path.find(">", i)
            if j < 0:
                raise ValueError(f"unterminated IRI in path: {path[i:]!r}")
            toks.append(path[i:j + 1])
            i = j + 1
        elif c in "/|^+(){},!*?":
            toks.append(c)
            i += 1
        elif c.isdigit():
            j = i
            while j < n and path[j].isdigit():
                j += 1
            toks.append(path[i:j])
            i = j
        else:
            raise ValueError(f"unexpected {c!r} in path {path!r} "
                             f"(supported: <iri> / | ^ + parentheses)")
    return toks


class _Parser:
    def __init__(self, toks: List[str], src: str):
        self.toks, self.i, self.src = toks, 0, src

    def peek(self) -> Union[str, None]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError(f"unexpected end of path {self.src!r}")
        self.i += 1
        return t

    def parse(self) -> Ast:
        ast = self.alt()
        if self.peek() is not None:
            raise ValueError(
                f"trailing {self.peek()!r} in path {self.src!r}")
        return ast

    def alt(self) -> Ast:
        node = self.seq()
        while self.peek() == "|":
            self.take()
            node = ("alt", node, self.seq())
        return node

    def seq(self) -> Ast:
        node = self.step()
        while self.peek() == "/":
            self.take()
            node = ("seq", node, self.step())
        return node

    def step(self) -> Ast:
        if self.peek() == "^":
            self.take()
            return ("inv", self.step())
        node = self.primary()
        while self.peek() in ("+", "{", "*", "?"):
            t = self.take()
            if t == "+":
                node = ("plus", node)
                continue
            if t == "*":
                node = ("zero_or", ("plus", node))
                continue
            if t == "?":
                node = ("zero_or", node)
                continue
            lo = self.take()
            if not lo.isdigit():
                raise ValueError(f"{{n,m}} needs integers, got {lo!r}")
            if self.take() != ",":
                raise ValueError("{n,m} needs a comma")
            hi = self.take()
            if not hi.isdigit():
                raise ValueError(f"{{n,m}} needs integers, got {hi!r}")
            if self.take() != "}":
                raise ValueError("missing '}' in {n,m}")
            n_, m_ = int(lo), int(hi)
            if m_ < n_ or m_ > MAX_REP:
                raise ValueError(
                    f"{{n,m}} needs 0 <= n <= m <= {MAX_REP}, got "
                    f"{{{n_},{m_}}} (use + for unbounded)")
            if n_ == 0:
                node = ("zero_or",
                        ("rep", node, 1, m_) if m_ >= 1 else None)
            else:
                node = ("rep", node, n_, m_)
        return node

    def primary(self) -> Ast:
        t = self.take()
        if t == "!":
            if self.take() != "(":
                raise ValueError("negated property set needs '!(...)'")
            iris = []
            while True:
                it = self.take()
                if not it.startswith("<"):
                    raise ValueError(
                        f"negated property set takes plain IRIs, got "
                        f"{it!r}")
                iris.append(it)
                nxt = self.take()
                if nxt == ")":
                    break
                if nxt != "|":
                    raise ValueError(
                        f"expected '|' or ')' in !(...), got {nxt!r}")
            return ("nps", tuple(iris))
        if t == "(":
            node = self.alt()
            if self.take() != ")":
                raise ValueError(f"missing ')' in path {self.src!r}")
            return node
        if t.startswith("<"):
            return ("iri", t)
        raise ValueError(f"unexpected {t!r} in path {self.src!r}")


def parse_path(path: str) -> Ast:
    return _Parser(_tokenize(path), path).parse()


def is_path(pred: str) -> bool:
    """A predicate term that is more than a single bare IRI is a path
    expression (used by bgp_match to route patterns here)."""
    s = pred.strip()
    return not (s.startswith("<") and s.endswith(">")
                and ">" not in s[1:-1])


def _alt_of(parts: List[Ast]) -> Union[Ast, None]:
    out = None
    for p in parts:
        out = p if out is None else ("alt", out, p)
    return out


def split_zero_length(ast: Union[Ast, None]) -> Tuple[Union[Ast, None], bool]:
    """Rewrite ``ast ≡ R ∪ (has_id ? I : ∅)`` and return
    ``(R_ast_or_None, has_id)`` — the identity component is pushed to
    the top symbolically (docstring algebra), so the returned R is free
    of ``zero_or`` nodes and inner zero-length forms cost nothing."""
    if ast is None:
        return None, True
    kind = ast[0]
    if kind in ("iri", "nps"):
        return ast, False
    if kind == "zero_or":
        # ZeroOrOnePath / ZeroLengthPath results are duplicate-free per
        # §18.4 (unlike seq/alt, which keep bag semantics) — wrap the
        # remaining relation so its duplicates collapse at this level
        r, _ = split_zero_length(ast[1])
        if r is not None and r[0] not in ("plus", "distinct", "iri",
                                          "nps"):
            r = ("distinct", r)
        return r, True
    if kind == "inv":
        r, has_id = split_zero_length(ast[1])
        return (("inv", r) if r is not None else None), has_id
    if kind == "seq":
        a_r, a_id = split_zero_length(ast[1])
        b_r, b_id = split_zero_length(ast[2])
        parts: List[Ast] = []
        if a_r is not None and b_r is not None:
            parts.append(("seq", a_r, b_r))
        if b_id and a_r is not None:
            parts.append(a_r)
        if a_id and b_r is not None:
            parts.append(b_r)
        return _alt_of(parts), a_id and b_id
    if kind == "alt":
        a_r, a_id = split_zero_length(ast[1])
        b_r, b_id = split_zero_length(ast[2])
        return _alt_of([r for r in (a_r, b_r) if r is not None]), \
            a_id or b_id
    if kind == "plus":
        r, has_id = split_zero_length(ast[1])
        # (A ∪ I)+ = A+ ∪ I — identity absorbs through the closure
        return (("plus", r) if r is not None else None), has_id
    if kind == "rep":
        r, has_id = split_zero_length(ast[1])
        if r is None:
            return None, has_id
        if has_id:
            # (A ∪ I){n,m} = ∪_{k≤m} A^k = A{1,m} ∪ I
            return ("rep", r, 1, ast[3]), True
        return ("rep", r, ast[2], ast[3]), False
    raise AssertionError(f"unknown path node {kind!r}")


def has_zero_length(path: str) -> bool:
    """True when the path's top-level relation includes the identity
    component (``*``, ``?``, or ``{0,m}`` at top level / every branch
    of a seq) — callers must then supply/derive a node restriction."""
    return split_zero_length(parse_path(path))[1]


def graph_nodes(triples: DataFrame) -> DataFrame:
    """Spec node universe for ZeroLengthPath: every term in subject or
    object position (one scan + one distinct — the cost zero-length
    evaluation is guarded against; opt in explicitly)."""
    return (triples.select(F.explode(F.array("subj", "obj")).alias("node"))
            .distinct())


def _rep_expand(ast: Ast) -> Ast:
    """{n,m} → alternation of k-fold sequences (k in [n, m]) — bounded
    unrolling; Catalyst/DuckDB reuse the inner relation's scan."""
    inner, n_, m_ = ast[1], ast[2], ast[3]

    def k_fold(k: int) -> Ast:
        node = inner
        for _ in range(k - 1):
            node = ("seq", node, inner)
        return node

    out = k_fold(n_)
    for k in range(n_ + 1, m_ + 1):
        out = ("alt", out, k_fold(k))
    return out


def _alt_iri_leaves(ast: Ast) -> Union[List[str], None]:
    """IRIs of an alternation tree whose leaves are ALL plain ``iri``
    nodes, else None. When those IRIs are distinct, such an alternation
    is a single pred-IN filter: a triple matches exactly one predicate,
    so the union of the per-IRI scans and the IN-filtered scan contain
    the same rows with the same (bag) cardinality — one table scan
    instead of N (r6; Spark side only, the SQL twin keeps its UNION ALL
    text verbatim). A repeated IRI (``p|p``) yields each triple once
    per occurrence, which the IN filter would collapse."""
    if ast[0] == "iri":
        return [ast[1]]
    if ast[0] == "alt":
        a = _alt_iri_leaves(ast[1])
        b = _alt_iri_leaves(ast[2])
        return a + b if a is not None and b is not None else None
    return None


def _compile_df(ast: Ast, base: DataFrame) -> DataFrame:
    kind = ast[0]
    if kind == "distinct":
        return _compile_df(ast[1], base).distinct()
    if kind == "zero_or":
        raise AssertionError(
            "zero_or must be eliminated via split_zero_length before "
            "compilation")
    if kind == "rep":
        return _compile_df(_rep_expand(ast), base)
    if kind == "iri":
        return (base.filter(F.col("pred") == ast[1])
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")))
    if kind == "nps":
        return (base.filter(~F.col("pred").isin(list(ast[1])))
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")))
    if kind == "inv":
        inner = _compile_df(ast[1], base)
        return inner.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst"))
    if kind == "seq":
        a = _compile_df(ast[1], base).alias("a")
        b = _compile_df(ast[2], base).alias("b")
        return (a.join(b, F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"),
                        F.col("b.dst").alias("dst")))
    if kind == "alt":
        iris = _alt_iri_leaves(ast)
        if iris is not None and len(set(iris)) == len(iris):
            return (base.filter(F.col("pred").isin(iris))
                    .select(F.col("subj").alias("src"),
                            F.col("obj").alias("dst")))
        return _compile_df(ast[1], base).unionByName(
            _compile_df(ast[2], base))
    if kind == "plus":
        from .components import transitive_closure_pairs
        inner = _compile_df(ast[1], base)
        return transitive_closure_pairs(inner)
    raise AssertionError(f"unknown path node {kind!r}")


def path_pairs(triples: DataFrame, path: str,
               id_nodes: DataFrame = None) -> DataFrame:
    """(src, dst) pairs connected by ``path`` over the triples table —
    SPARQL 1.1 §18.4 semantics: seq/alt/inv/nps/{n,m} keep BAG
    cardinality (one row per derivation — W3C pp11/pp31), while the
    closure (`+`, `*`) and zero-length forms are duplicate-free (ALP /
    ZeroLengthPath are defined as sets). Add .distinct() for set
    semantics when the use site wants unique pairs.

    ``id_nodes``: single-column DataFrame of nodes the zero-length
    component (``*``/``?``/``{0,m}``) relates to themselves. Required
    when the path has a top-level identity component — pass the
    pattern's bound/constant endpoint set (restricted — the scalable
    case) or :func:`graph_nodes` for spec node-universe semantics."""
    base = triples.select("subj", "pred", "obj")
    r_ast, has_id = split_zero_length(parse_path(path))
    out = _compile_df(r_ast, base) if r_ast is not None else None
    if has_id:
        if id_nodes is None:
            raise ValueError(
                f"path {path!r} has a zero-length component (I ⊆ path): "
                "pass id_nodes= with the restricted node set the "
                "surrounding pattern binds, or graph_nodes(triples) for "
                "explicit node-universe semantics — never implicit at "
                "100 TB")
        node = F.col(id_nodes.columns[0])
        ident = id_nodes.select(node.alias("src"),
                                node.alias("dst")).distinct()
        # the union with identity is a set union per §18.4 ZeroOrOne/
        # ZeroLength (the R side is already duplicate-free here: it is
        # a closure or wrapped ("distinct", …) by split_zero_length)
        out = ident if out is None else out.unionByName(ident).distinct()
    return out


def _compile_sql(ast: Ast, base_name: str) -> str:
    kind = ast[0]
    if kind == "distinct":
        return (f"(SELECT DISTINCT src, dst FROM "
                f"{_compile_sql(ast[1], base_name)} dt)")
    if kind == "zero_or":
        raise AssertionError(
            "zero_or must be eliminated via split_zero_length before "
            "compilation")
    if kind == "rep":
        return _compile_sql(_rep_expand(ast), base_name)
    if kind == "iri":
        iri = ast[1].replace("'", "''")
        return (f"(SELECT subj AS src, obj AS dst FROM {base_name} "
                f"WHERE pred = '{iri}')")
    if kind == "nps":
        in_list = ", ".join(
            "'" + i.replace("'", "''") + "'" for i in ast[1])
        return (f"(SELECT subj AS src, obj AS dst FROM {base_name} "
                f"WHERE pred NOT IN ({in_list}))")
    if kind == "inv":
        return (f"(SELECT dst AS src, src AS dst FROM "
                f"{_compile_sql(ast[1], base_name)} inv_t)")
    if kind == "seq":
        return (f"(SELECT a.src, b.dst FROM "
                f"{_compile_sql(ast[1], base_name)} a JOIN "
                f"{_compile_sql(ast[2], base_name)} b ON a.dst = b.src)")
    if kind == "alt":
        return (f"(SELECT src, dst FROM {_compile_sql(ast[1], base_name)} "
                f"alt_a UNION ALL SELECT src, dst FROM "
                f"{_compile_sql(ast[2], base_name)} alt_b)")
    if kind == "plus":
        inner = _compile_sql(ast[1], base_name)
        # bounded recursive CTE (same termination argument as
        # components.transitive_closure_oracle: shortest paths are
        # simple, so dist <= |E| covers every true pair on cycles)
        return f"""(
  WITH RECURSIVE plus_e AS (SELECT DISTINCT src, dst FROM {inner} plus_in),
  plus_reach(src, dst, dist) AS (
    SELECT src, dst, 1 FROM plus_e
    UNION
    SELECT r.src, e.dst, r.dist + 1
    FROM plus_reach r JOIN plus_e e ON e.src = r.dst
    WHERE r.dist < (SELECT count(*) FROM plus_e)
  )
  SELECT DISTINCT src, dst FROM plus_reach)"""
    raise AssertionError(f"unknown path node {kind!r}")


def _identity_sql(base_name: str) -> str:
    """Node-universe identity relation for the twin: at oracle scale the
    universe is cheap, and post-join it is value-equivalent to the
    engine's restricted identity (the join re-restricts to bound terms,
    which are always graph nodes)."""
    return (f"(SELECT node AS src, node AS dst FROM "
            f"(SELECT subj AS node FROM {base_name} "
            f"UNION SELECT obj AS node FROM {base_name}) idn)")


def path_sql(path: str, base_cte: str, base_name: str = "base",
             id_nodes_sql: str = None) -> str:
    """DuckDB twin of ``path_pairs``: the same AST compiled to SQL over a
    triples CTE — the oracle for driver path queries. A zero-length
    component compiles to the node-universe identity by default
    (``id_nodes_sql`` overrides with a ``(... AS node)`` relation to
    mirror a restricted engine-side evaluation)."""
    r_ast, has_id = split_zero_length(parse_path(path))
    parts = []
    if r_ast is not None:
        parts.append(f"SELECT src, dst FROM "
                     f"{_compile_sql(r_ast, base_name)} path_r")
    if has_id:
        ident = (f"(SELECT DISTINCT node AS src, node AS dst FROM "
                 f"{id_nodes_sql} idn)") if id_nodes_sql \
            else _identity_sql(base_name)
        parts.append(f"SELECT src, dst FROM {ident} path_i")
        # set union with the identity component (§18.4 ZeroLengthPath)
        body = "(" + " UNION ".join(parts) + ")"
    else:
        # bag cardinality for seq/alt/inv/nps/{n,m} (W3C pp11/pp31)
        body = "(" + " UNION ALL ".join(parts) + ")"
    return (f"WITH {base_name} AS ({base_cte})\n"
            f"SELECT src, dst FROM {body} path_t")
