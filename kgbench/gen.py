"""Seeded input generators for the kgbench workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64
stream drives all choices, and the tables land as parquet (the stand-in
for the Iceberg transcript table).  The engine only ever sees these files.

``ingest`` documents are serialized here from an explicit fact list, so
the generator also returns the canonical triple set it wrote; that set
is the ingest workload's expected result.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

V = "http://example.org/v/"
D = "http://example.org/d/"
E = "http://example.org/e/"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z

N_ENTITIES = 1000
N_FILES = 8
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "code", "browse")

# Input sizes per workload.  Conversation turn counts are uniform 1..8
# except for traverse's long tail, which forces 5+ closure doubling rounds.
SIZES = {
    "construct": {"n_conv": 10000},
    "traverse": {"n_conv": 2000, "tail_frac": 0.03, "tail_turns": 16},
    "ingest": {"n_docs": 2400, "malformed_frac": 0.03},
    # near-duplicate chains: a few of 40 documents, far past the 25 rounds
    # connected_components stops at; plus 64-d embeddings
    "dedup": {"n_docs": 1500, "long_chains": 3, "long_len": 40,
              "n_vectors": 2000},
}


_SCALED = ("n_conv", "n_docs", "n_vectors")


def sizes(workload: str) -> dict:
    """SIZES[workload], with the counts multiplied by ``KGBENCH_SCALE``
    (default 1; the self-tests use a small scale)."""
    scale = float(os.environ.get("KGBENCH_SCALE", "1"))
    return {k: max(20, int(v * scale)) if k in _SCALED else v
            for k, v in SIZES[workload].items()}


def _write(df: pd.DataFrame, path: str) -> None:
    """A table as a directory of N_FILES parquet files, as a table's data
    files are: Spark then reads it in parallel tasks (a single small file
    is one task, which left the ingest parse on one core)."""
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        # microsecond timestamps: Spark rejects parquet TIMESTAMP(NANOS)
        pq.write_table(pa.Table.from_pandas(df.iloc[rows],
                                            preserve_index=False),
                       f"{path}/part-{i:05d}.parquet", coerce_timestamps="us")


def transcripts(rng: np.random.Generator, n_conv: int,
                tail_frac: float = 0.0, tail_turns: int = 0) -> pd.DataFrame:
    """Transcript rows ``conv_id, turn_idx, role, text, tool, ts``.

    About 20% of turns mention the hot entity 0, about 10% mention no
    entity, about 9% of the rest mention an id outside the entity
    dictionary (detected but not linked), and about 20% carry an embedded
    N-Triples payload after the prose."""
    n_turns = rng.integers(1, 9, size=n_conv)
    if tail_frac:
        tail = rng.random(n_conv) < tail_frac
        n_turns[tail] = tail_turns
    conv_idx = np.repeat(np.arange(n_conv), n_turns)
    starts = np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    turn_idx = np.arange(len(conv_idx)) - starts
    n = len(conv_idx)
    role_i = turn_idx % 3
    tool_i = rng.integers(0, 3, size=n)
    hot = rng.random(n) < 0.2
    none = rng.random(n) < 0.1
    k = np.where(hot, 0, rng.integers(1, int(N_ENTITIES * 1.1), size=n))
    payload = rng.random(n) < 0.2
    label = rng.random(n) < 0.5
    offs = rng.integers(0, 3600 * 24 * 300, size=n_conv)

    conv_ids = [f"conv-{c:06d}" for c in range(n_conv)]
    rows_text, rows_tool, rows_role = [], [], []
    for r in range(n):
        role = ROLES[role_i[r]]
        conv = conv_ids[conv_idx[r]]
        kk = int(k[r])
        if none[r]:
            text = f"{role} turn {turn_idx[r]} of {conv}: general chatter with café nuance."
        else:
            text = (f"{role} turn {turn_idx[r]} of {conv}: discussing "
                    f"entity {kk} with café nuance.")
        if payload[r]:
            text += (f' <{E}{kk}> <http://example.org/rel/mentions> '
                     f'"entity {kk}" .')
            if label[r]:
                # N-Triples holds one statement per line
                text += f'\n<{E}{kk}> <http://example.org/rel/label> "Entity {kk} \\u00e9"@EN .'
        rows_text.append(text)
        rows_role.append(role)
        rows_tool.append(TOOLS[tool_i[r]] if role == "tool" else "")
    ts = (EPOCH_2026 + offs[conv_idx] + turn_idx * 60) * 1_000_000
    return pd.DataFrame({
        "conv_id": [conv_ids[c] for c in conv_idx],
        "turn_idx": turn_idx.astype("int32"),
        "role": rows_role,
        "text": rows_text,
        "tool": rows_tool,
        "ts": pd.to_datetime(ts, unit="us", utc=True),
    })


def entities() -> pd.DataFrame:
    return pd.DataFrame({
        "mention_norm": [f"entity {e}" for e in range(N_ENTITIES)],
        "entity_iri": [f"{E}{e}" for e in range(N_ENTITIES)],
    })


# --- ingest: RDF documents in four syntaxes --------------------------------

def _c14n(lex: str) -> str:
    """Canonical N-Triples quoting of the characters the facts use."""
    return '"' + (lex.replace("\\", "\\\\").replace('"', '\\"')
                  .replace("\n", "\\n")) + '"'


def _ttl_str(lex: str, rng: np.random.Generator) -> str:
    s = lex.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
    if rng.random() < 0.5:
        s = s.replace("é", "\\u00e9")
    return '"' + s + '"'


def _facts(rng: np.random.Generator, i: int):
    """One document's facts: (pred, kind, value) on subject d:<i>.

    kinds: iri, plain, lang, int, xsdstring, bnode (value = name)."""
    out = []
    for f in range(int(rng.integers(3, 13))):
        kind = ("iri", "plain", "lang", "int", "xsdstring", "bnode")[
            int(rng.integers(0, 6))]
        pred = f"p{int(rng.integers(0, 12))}"
        if kind == "iri":
            val = f"{D}{int(rng.integers(0, 5000))}"
        elif kind == "plain":
            val = f'note {f} of {i}: say "hi" \\ é\nline2'
        elif kind == "lang":
            val = ("bonjour", "FR-ca") if rng.random() < 0.5 else ("hello", "EN")
        elif kind == "int":
            val = str(int(rng.integers(-500, 5000)))
        elif kind == "xsdstring":
            val = f"typed {f}"
        else:
            val = f"node {f} of {i}"
        out.append((pred, kind, val))
    return out


def _expected(subj: str, facts, graph: str | None):
    rows = []
    for pred, kind, val in facts:
        p = f"<{V}{pred}>"
        if kind == "iri":
            rows.append((subj, p, f"<{val}>", graph))
        elif kind in ("plain", "xsdstring"):
            rows.append((subj, p, _c14n(val), graph))
        elif kind == "lang":
            rows.append((subj, p, f"{_c14n(val[0])}@{val[1].lower()}", graph))
        elif kind == "int":
            rows.append((subj, p, f'"{val}"^^<{XSD_INTEGER}>', graph))
        else:
            rows.append((subj, p, "_:", graph))
            rows.append(("_:", f"<{V}name>", _c14n(val), graph))
    return rows


def _turtle_body(subj: str, facts, rng) -> str:
    parts = []
    for pred, kind, val in facts:
        if kind == "iri":
            o = f"<{val}>"
        elif kind == "plain":
            o = _ttl_str(val, rng)
        elif kind == "lang":
            o = f"{_ttl_str(val[0], rng)}@{val[1]}"
        elif kind == "int":
            o = val if rng.random() < 0.5 else f'"{val}"^^xsd:integer'
        elif kind == "xsdstring":
            o = f"{_ttl_str(val, rng)}^^xsd:string"
        else:
            o = f"[ v:name {_ttl_str(val, rng)} ]"
        parts.append(f"v:{pred} {o}")
    return f"{subj} " + " ;\n    ".join(parts) + " .\n"


_TTL_PREFIXES = (f"@prefix v: <{V}> .\n@prefix d: <{D}> .\n"
                 "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n")


def _ntriples(subj: str, facts) -> str:
    lines = []
    for b, (pred, kind, val) in enumerate(facts):
        p = f"<{V}{pred}>"
        if kind == "iri":
            lines.append(f"{subj} {p} <{val}> .")
        elif kind == "plain":
            lines.append(f"{subj} {p} {_c14n(val)} .")
        elif kind == "lang":
            lines.append(f"{subj} {p} {_c14n(val[0])}@{val[1]} .")
        elif kind == "int":
            lines.append(f'{subj} {p} "{val}"^^<{XSD_INTEGER}> .')
        elif kind == "xsdstring":
            lines.append(f"{subj} {p} {_c14n(val)}^^<{XSD_STRING}> .")
        else:
            lines.append(f"{subj} {p} _:n{b} .")
            lines.append(f"_:n{b} <{V}name> {_c14n(val)} .")
    return "\n".join(lines) + "\n"


def _jsonld(subj_iri: str, facts) -> str:
    node: dict = {"@context": {"v": V}, "@id": subj_iri}
    for pred, kind, val in facts:
        if kind == "iri":
            o = {"@id": val}
        elif kind == "plain":
            o = val
        elif kind == "lang":
            o = {"@value": val[0], "@language": val[1]}
        elif kind == "int":
            o = {"@value": val, "@type": XSD_INTEGER}
        elif kind == "xsdstring":
            o = {"@value": val, "@type": XSD_STRING}
        else:
            o = {"v:name": val}
        node.setdefault(f"v:{pred}", []).append(o)
    return json.dumps(node, ensure_ascii=bool(len(facts) % 2))


def rdf_documents(rng: np.random.Generator, n_docs: int,
                  malformed_frac: float):
    """(documents frame, expected triple frame, malformed doc count)."""
    keys, texts, exp = [], [], []
    n_bad = 0
    for i in range(n_docs):
        key = f"doc-{i:06d}"
        subj_iri = f"{D}{i}"
        facts = _facts(rng, i)
        fmt = int(rng.integers(0, 4))
        bad = rng.random() < malformed_frac
        if fmt == 0:
            text = _TTL_PREFIXES + _turtle_body(f"d:{i}", facts, rng)
            graph = None
        elif fmt == 1:
            text = _ntriples(f"<{subj_iri}>", facts)
            graph = None
        elif fmt == 2:
            text = _jsonld(subj_iri, facts)
            graph = None
        else:
            graph = f"<{D}g{i}>"
            text = (_TTL_PREFIXES + f"d:g{i} {{\n"
                    + _turtle_body(f"d:{i}", facts, rng) + "}\n")
        if bad:
            # broken first statement (or truncated JSON): the document
            # yields no triples and at least one quarantine row
            n_bad += 1
            text = (text[: len(text) // 2] if fmt == 2
                    else _TTL_PREFIXES + f'd:{i} v:p0 "unterminated .\n' + text)
        else:
            for s, p, o, g in _expected(f"<{subj_iri}>", facts, graph):
                exp.append((s, p, o, g, key))
        keys.append(key)
        texts.append(text)
    docs = pd.DataFrame({"doc_key": keys, "text": texts})
    expected = pd.DataFrame(exp, columns=["subj", "pred", "obj", "graph",
                                          "doc_key"])
    return docs, expected, n_bad


# --- dedup: near-duplicate document chains and embeddings -------------------

def near_dup_documents(rng: np.random.Generator, n_docs: int,
                       long_chains: int, long_len: int) -> pd.DataFrame:
    """Chains of documents, each two tokens away from the previous one:
    neighbours share ~86% of their word 3-shingles and documents two
    steps apart ~73%, so at a 0.8 threshold a chain is a path whose
    length is its diameter."""
    lengths = [long_len] * long_chains
    while sum(lengths) < n_docs:
        lengths.append(int(rng.integers(1, 6)))
    ids, texts = [], []
    for length in lengths:
        toks = rng.integers(0, 50_000, size=80)
        for _ in range(length):
            ids.append(len(ids))
            texts.append(" ".join(f"w{t}" for t in toks))
            toks = toks.copy()
            toks[rng.choice(80, size=2, replace=False)] = rng.integers(
                0, 50_000, size=2)
    order = rng.permutation(len(ids))
    return pd.DataFrame({"doc_id": np.asarray(ids, dtype="int64")[order],
                         "text": [texts[i] for i in order]})


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    return pd.DataFrame({"vec_id": np.arange(n, dtype="int64"),
                         "embedding": list(vecs)})


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's input tables into ``out_dir``; returns facts
    about them that the expected-result builders need."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    size = sizes(workload)
    meta: dict = {"workload": workload, "seed": seed}
    if workload in ("construct", "traverse"):
        t = transcripts(rng, size["n_conv"], size.get("tail_frac", 0.0),
                        size.get("tail_turns", 0))
        _write(t, f"{out_dir}/transcripts.parquet")
        _write(entities(), f"{out_dir}/entities.parquet")
        meta["n_turns"] = len(t)
    elif workload == "ingest":
        docs, expected, n_bad = rdf_documents(rng, size["n_docs"],
                                              size["malformed_frac"])
        _write(docs, f"{out_dir}/documents.parquet")
        _write(expected, f"{out_dir}/expected_triples.parquet")
        meta["n_docs"] = len(docs)
        meta["n_malformed"] = n_bad
    elif workload == "dedup":
        docs = near_dup_documents(rng, size["n_docs"], size["long_chains"],
                                  size["long_len"])
        _write(docs, f"{out_dir}/documents.parquet")
        _write(embeddings(rng, size["n_vectors"]),
               f"{out_dir}/embeddings.parquet")
        meta["n_docs"] = len(docs)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return meta
