"""Expected results, computed by DuckDB independently of the engine.

A result is summarised as ``(rows, checksum)``: the row count and the sum
of a 32-bit md5 prefix of each row's rendering, so the check ignores row
order but not multiplicity.  The same rendering is built by
``spark_digest`` (Spark side) and ``duck_digest`` (DuckDB side): columns
cast to strings, NULL as ``\\N``, joined by U+001F.

construct / traverse: the extraction rules are restated in DuckDB SQL over
the generated parquet, and the traversal answers are derived from turn
order (``prevTurn+`` of a turn = every earlier turn of its conversation),
not by walking the graph.  ingest: the triple set the generator wrote.
"""

from __future__ import annotations

import duckdb

V = "http://example.org/v/"
HAS_TURN = f"<{V}hasTurn>"
PREV_TURN = f"<{V}prevTurn>"
MENTIONS = f"<{V}mentions>"
TOOL = f"<{V}tool>"
ROLE = f"<{V}role>"
SEP = "\x1f"

# column lists of each checked result, in the engine's output names
GRAPH_COLS = ("subj", "pred", "obj")
TRAVERSE_COLS = {
    "path": ("src", "dst"),
    "census": ("pred1", "pred2", "n_paths", "n_mid", "n_src"),
    "bgp": ("c", "t", "e", "prev"),
    "sparql": ("t", "n_ctx_mentions"),
}
DEDUP_COLS = {
    "pairs": ("doc_a", "doc_b", "jaccard"),
    "clusters": ("doc_id", "cluster_id", "cluster_size", "keep"),
    "ann": ("query_id", "neighbor_id", "cosine", "rank"),
    "cosine": ("query_id", "neighbor_id", "cosine", "rank"),
}
# floating-point columns are compared at six decimals
FLOAT_COLS = ("jaccard", "cosine")
MINHASH_ARGS = {"k": 128, "bands": 16}


def _bnode_blind(col: str) -> str:
    """Blank-node labels are parser-chosen: compare them as one symbol."""
    return f"CASE WHEN starts_with({col}, '_:') THEN '_:' ELSE {col} END"


def duck_digest(con: duckdb.DuckDBPyConnection, relation_sql: str,
                cols, bnode_blind: bool = False) -> tuple[int, int]:
    parts = []
    for c in cols:
        v = (f'CAST(CAST("{c}" AS DECIMAL(18, 6)) AS VARCHAR)'
             if c in FLOAT_COLS else f'CAST("{c}" AS VARCHAR)')
        if bnode_blind:
            v = _bnode_blind(v)
        parts.append(f"coalesce({v}, '\\N')")
    key = f" || chr(31) || ".join(parts)
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(('0x' || substr(md5({key}), 1, 8))"
        f"::BIGINT), 0)::BIGINT FROM ({relation_sql}) r").fetchone()
    return int(n), int(s)


def spark_digest(df, cols) -> tuple[int, int]:
    """The same summary computed by Spark over an engine result; one
    action, which also consumes the whole result."""
    from pyspark.sql import functions as F

    def text(c):
        col = F.col(c)
        if c in FLOAT_COLS:
            col = col.cast("decimal(18,6)")
        return F.coalesce(col.cast("string"), F.lit("\\N"))

    key = F.concat_ws(SEP, *[text(c) for c in cols])
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum(h), F.lit(0)).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"])


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    return con


def construct_triples_sql(transcripts: str, entities: str) -> str:
    """The extraction rules (structural, entity link, embedded payload)
    restated over the transcript parquet."""
    return f"""
WITH t AS (
  SELECT *,
    '_:b' || substr(sha256(conv_id || '|' || turn_idx::VARCHAR), 1, 16) AS bnode,
    '<http://example.org/conv/' || conv_id || '>' AS conv_iri,
    regexp_extract(text, 'entity ([0-9]+)', 1) AS mnum,
    regexp_extract(text, ' <http://example.org/e/([0-9]+)> <http://example.org/rel/mentions>', 1) AS pnum
  FROM read_parquet('{transcripts}/*.parquet')
),
ents AS (SELECT * FROM read_parquet('{entities}/*.parquet'))
SELECT conv_iri AS subj, '{HAS_TURN}' AS pred, bnode AS obj, conv_id FROM t
UNION ALL SELECT bnode, '{ROLE}', '"' || role || '"', conv_id FROM t
UNION ALL SELECT bnode, '<{V}index>',
  '"' || turn_idx::VARCHAR || '"^^<http://www.w3.org/2001/XMLSchema#integer>', conv_id FROM t
UNION ALL SELECT bnode, '<{V}at>',
  '"' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || '"^^<http://www.w3.org/2001/XMLSchema#dateTime>', conv_id FROM t
UNION ALL SELECT bnode, '{TOOL}', '"' || tool || '"', conv_id FROM t WHERE tool <> ''
UNION ALL SELECT * FROM (
  SELECT bnode, '{PREV_TURN}',
    lag(bnode) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev, conv_id FROM t)
  WHERE prev IS NOT NULL
UNION ALL SELECT t.bnode, '{MENTIONS}', '<' || e.entity_iri || '>', t.conv_id
  FROM t JOIN ents e ON e.mention_norm = 'entity ' || t.mnum WHERE t.mnum <> ''
UNION ALL SELECT '<http://example.org/e/' || pnum || '>', '<http://example.org/rel/mentions>',
  '"entity ' || pnum || '"', conv_id FROM t WHERE pnum <> ''
UNION ALL SELECT '<http://example.org/e/' || pnum || '>', '<http://example.org/rel/label>',
  '"Entity ' || pnum || ' é"@en', conv_id FROM t
  WHERE pnum <> '' AND contains(text, '<http://example.org/rel/label>')
"""


def construct_expected(in_dir: str) -> dict:
    con = connect()
    sql = construct_triples_sql(f"{in_dir}/transcripts.parquet",
                                f"{in_dir}/entities.parquet")
    return {"graph": duck_digest(con, sql, GRAPH_COLS)}


def traverse_expected(in_dir: str) -> dict:
    con = connect()
    con.execute("CREATE TABLE g AS " + construct_triples_sql(
        f"{in_dir}/transcripts.parquet", f"{in_dir}/entities.parquet"))
    con.execute(f"""
CREATE TABLE turns AS
SELECT conv_id, turn_idx,
  '_:b' || substr(sha256(conv_id || '|' || turn_idx::VARCHAR), 1, 16) AS bnode
FROM read_parquet('{in_dir}/transcripts.parquet/*.parquet')""")
    # prevTurn+ from a turn reaches exactly the earlier turns of its conversation
    con.execute("""
CREATE TABLE clos AS
SELECT a.bnode AS src, b.bnode AS dst FROM turns a JOIN turns b
  ON a.conv_id = b.conv_id AND b.turn_idx < a.turn_idx""")
    ctx = f"""
SELECT src, dst FROM clos UNION ALL SELECT bnode, bnode FROM turns"""
    queries = {
        "path": f"""
SELECT h.subj AS src, e.obj AS dst
FROM g h JOIN clos c ON h.obj = c.src JOIN g e ON e.subj = c.dst
WHERE h.pred = '{HAS_TURN}' AND e.pred IN ('{MENTIONS}', '{TOOL}')""",
        "census": """
SELECT e1.pred AS pred1, e2.pred AS pred2, count(*) AS n_paths,
       count(DISTINCT e1.obj) AS n_mid, count(DISTINCT e1.subj) AS n_src
FROM g e1 JOIN g e2 ON e1.obj = e2.subj
WHERE NOT (e1.obj LIKE '"%') GROUP BY 1, 2""",
        "bgp": f"""
SELECT h.subj AS c, h.obj AS t, m.obj AS e, p.obj AS prev
FROM g h
JOIN g r ON r.subj = h.obj AND r.pred = '{ROLE}' AND r.obj = '"user"'
JOIN g m ON m.subj = h.obj AND m.pred = '{MENTIONS}'
LEFT JOIN g p ON p.subj = h.obj AND p.pred = '{PREV_TURN}'
WHERE h.pred = '{HAS_TURN}'""",
        "sparql": f"""
SELECT h.obj AS t, count(*) AS n_ctx_mentions
FROM g h JOIN ({ctx}) c ON h.obj = c.src JOIN g m ON m.subj = c.dst
WHERE h.pred = '{HAS_TURN}' AND m.pred = '{MENTIONS}'
GROUP BY h.obj""",
    }
    out = {k: duck_digest(con, q, TRAVERSE_COLS[k]) for k, q in queries.items()}
    out["graph"] = duck_digest(con, "SELECT * FROM g", GRAPH_COLS)
    return out


def ingest_expected(in_dir: str) -> dict:
    con = connect()
    rel = (f"SELECT * FROM "
           f"read_parquet('{in_dir}/expected_triples.parquet/*.parquet')")
    return {"graph": duck_digest(con, rel, GRAPH_COLS + ("graph",),
                                 bnode_blind=True)}


def dedup_expected(in_dir: str) -> dict:
    """The repository's own DuckDB oracles, pointed at the generated
    tables."""
    from rdf_go_spark.operators.components import dedup_clusters_oracle
    from rdf_go_spark.operators.dedup import minhash_lsh_oracle
    from rdf_go_spark.operators.similarity import (
        cosine_topk_oracle, lsh_ann_oracle,
    )

    con = connect(threads=4)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{in_dir}/documents.parquet/*.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{in_dir}/embeddings.parquet/*.parquet')")
    pairs = minhash_lsh_oracle("documents", **MINHASH_ARGS)
    con.execute(f"CREATE TABLE lsh_pairs AS {pairs}")
    queries = {
        "pairs": "SELECT * FROM lsh_pairs",
        "clusters": dedup_clusters_oracle("SELECT doc_a, doc_b FROM lsh_pairs"),
        "ann": lsh_ann_oracle("embeddings"),
        "cosine": cosine_topk_oracle("embeddings"),
    }
    return {k: duck_digest(con, q, DEDUP_COLS[k]) for k, q in queries.items()}


EXPECTED = {
    "construct": construct_expected,
    "traverse": traverse_expected,
    "ingest": ingest_expected,
    "dedup": dedup_expected,
}
