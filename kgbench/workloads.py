"""The workload flows: one pass each, plus traverse's graph build.

A pass is a closed loop of engine calls; each result is checked against
the expected ``(rows, checksum)`` before the next pass starts.  With
tracing on, every call runs inside a span and each layer's output is
persisted and counted at its boundary, so the next layer's span holds
only its own work.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from rdf_go_spark.operators import (
    canonicalize, components, dedup, extraction, graph, linking, parse_spark,
    paths, query, similarity, sparql,
)
from rdf_go_spark.plans.pipeline import (
    _BGP_OPTIONALS, _BGP_PATTERNS, _PATH_EXPR, _SPARQL_PATH_STAR,
)

import expect

N_BUCKETS = 8  # the bucket count the driver's graph queries use


@dataclass
class Ctx:
    spark: object
    tracer: object
    in_dir: str
    work_dir: str
    expected: dict
    meta: dict
    cpu: object = None  # proc.CpuClock of the engine
    cached: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    @property
    def warehouse(self) -> str:
        return self.spark.conf.get("spark.sql.warehouse.dir").removeprefix(
            "file:")

    def boundary(self, df, sp):
        """Traced runs persist and count a layer's output at its boundary."""
        if not self.tracer.enabled:
            return df
        df = df.persist()
        self.cached.append(df)
        sp.counts["rows_out"] = df.count()
        return df

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if tuple(got) != tuple(want):
            self.failed += 1
            print(f"kgbench: {what}: got {tuple(got)}, expected "
                  f"{tuple(want)}", file=sys.stderr)
            return False
        return True

    def fail(self, what: str) -> None:
        """An engine call raised: count it and keep the traceback."""
        self.attempted += 1
        self.failed += 1
        print(f"kgbench: {what} raised:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


@dataclass
class Pass:
    wall: float
    cpu: float  # the engine's work, without its JVM's JIT and GC threads
    jit: float = 0.0
    gc: float = 0.0
    triples: int = 0
    stored_bytes: int = 0
    ops: dict = field(default_factory=dict)
    kinds: dict = field(default_factory=dict)  # CPU seconds by kind

    @classmethod
    def timed(cls, wall: float, use, **kw) -> "Pass":
        """A pass from its wall time and its ``proc.CpuUse``."""
        return cls(wall, use.work, use.jit, use.gc, kinds=use.kinds, **kw)


def _parquet_files(path: str) -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names
                if n.endswith(".parquet") and not n.startswith(".")]
    return out


def _table_stats(path: str) -> tuple[int, int]:
    files = _parquet_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def _duck_graph(path: str, cols=expect.GRAPH_COLS, bnode_blind: bool = False):
    con = expect.connect()
    rel = (f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
           f"hive_partitioning = false)")
    return expect.duck_digest(con, rel, cols, bnode_blind)


def _read_inputs(ctx: Ctx):
    spark = ctx.spark
    return (spark.read.parquet(f"{ctx.in_dir}/transcripts.parquet"),
            spark.read.parquet(f"{ctx.in_dir}/entities.parquet"))


def _rules_and_linking(ctx: Ctx, t, ents) -> None:
    """Traced runs only: the structural rules and the entity link, each
    on its own, ahead of the full extraction that contains both."""
    tr = ctx.tracer
    with tr.span("extraction.rules") as sp:
        ctx.boundary(extraction.extract_triples(
            t, None, include_payload=False), sp)
    with tr.span("linking.broadcast") as sp:
        m = ctx.boundary(linking.detect_mentions(t), sp)
        linked = linking.link_broadcast(m, ents).count()
        sp.counts["match_ratio"] = linked / max(1, sp.counts["rows_out"])


def _build_graph(ctx: Ctx, root: str, prefix: str):
    """transcripts -> extract_triples -> materialize (lineage-committed)
    -> bucketed + dual adjacency tables built from the committed table.
    Returns the materialize summary and the written table paths."""
    tr = ctx.tracer
    with tr.span("sources.scan") as sp:
        t, ents = _read_inputs(ctx)
        t = ctx.boundary(t, sp)
    if tr.enabled:
        _rules_and_linking(ctx, t, ents)
    with tr.span("extraction.extract_triples", python_metrics=True) as sp:
        triples = ctx.boundary(extraction.extract_triples(t, ents), sp)
    with tr.span("graph.materialize") as sp_m:
        summary = graph.materialize(triples, root)
    committed = graph.read_graph(ctx.spark, root)
    with tr.span("graph.materialize_bucketed") as sp_b:
        graph.materialize_bucketed(committed.select("subj", "pred", "obj"),
                                   f"{prefix}_graph", n_buckets=N_BUCKETS)
    with tr.span("graph.materialize_adjacency") as sp_a:
        by_subj, by_obj = graph.materialize_adjacency(
            committed.select("subj", "pred", "obj", "obj_is_literal"),
            f"{prefix}_adj", n_buckets=N_BUCKETS)
    tables = {"graph.materialize": (sp_m, [f"{root}/data"]),
              "graph.materialize_bucketed": (
                  sp_b, [f"{ctx.warehouse}/{prefix}_graph"]),
              "graph.materialize_adjacency": (
                  sp_a, [f"{ctx.warehouse}/{by_subj}",
                         f"{ctx.warehouse}/{by_obj}"])}
    sp_m.counts["partitions_committed"] = len(summary["written"])
    return summary, tables


def _graph_checks(ctx: Ctx, summary: dict, tables: dict) -> int:
    """Check every written graph table; record sizes on the write spans.
    Returns the on-disk bytes of all tables."""
    want = ctx.expected["graph"]
    ctx.check("graph rows", (summary["total_rows"],), (want[0],))
    total = 0
    for layer, (sp, dirs) in tables.items():
        files = size = 0
        for d in dirs:
            ctx.check(f"{layer} {os.path.basename(d)}", _duck_graph(d), want)
            n, b = _table_stats(d)
            files, size = files + n, size + b
        sp.counts["files_written"] = files
        sp.counts["bytes_written"] = size
        total += size
    return total


# --- construct ---------------------------------------------------------------

def construct_pass(ctx: Ctx, k: int) -> Pass:
    root = f"{ctx.work_dir}/graph-{k}"
    c0, t0 = ctx.cpu(), time.perf_counter()
    summary, tables = _build_graph(ctx, root, "kgb")
    wall, use = time.perf_counter() - t0, ctx.cpu.since(c0)
    ctx.release()
    stored = _graph_checks(ctx, summary, tables)
    shutil.rmtree(root, ignore_errors=True)
    return Pass.timed(wall, use, triples=summary["total_rows"],
                      stored_bytes=stored)


# --- ingest ------------------------------------------------------------------

def _ingest_flow(ctx: Ctx, docs_path: str, root: str) -> tuple[dict, int]:
    tr, spark = ctx.tracer, ctx.spark
    with tr.span("sources.scan") as sp:
        docs = ctx.boundary(spark.read.parquet(docs_path), sp)
    with tr.span("parse_spark.parse_rdf_documents", python_metrics=True) as sp:
        # the parse feeds two outputs (graph and quarantine), so it is
        # cached in untraced runs too
        parsed = parse_spark.parse_rdf_documents(docs).persist()
        ctx.cached.append(parsed)
        bad_docs = (parse_spark.quarantine_of(parsed)
                    .select("doc_key").distinct().count())
        if tr.enabled:
            sp.counts["rows_out"] = parsed.count()
            sp.counts["docs_in"] = docs.count()
            sp.counts["quarantine_rows"] = parse_spark.quarantine_of(
                parsed).count()
    trip = parse_spark.triples_of(parsed).select(
        "subj", "pred", "obj", "graph", F.col("doc_key").alias("conv_id"),
        F.lit(0).alias("turn_idx"))
    with tr.span("canonicalize.canonicalize_triples",
                 python_metrics=True) as sp:
        canon = ctx.boundary(canonicalize.canonicalize_triples(trip), sp)
        if tr.enabled:
            sp.counts["quarantine_rows"] = canon.filter(
                F.col("error_code").isNotNull()).count()
    with tr.span("graph.materialize") as sp:
        summary = graph.materialize(canonicalize.canonical_only(canon), root)
        sp.counts["partitions_committed"] = len(summary["written"])
    summary["span"] = sp
    return summary, bad_docs


def ingest_pass(ctx: Ctx, k: int) -> Pass:
    root = f"{ctx.work_dir}/graph-{k}"
    c0, t0 = ctx.cpu(), time.perf_counter()
    summary, bad_docs = _ingest_flow(ctx, f"{ctx.in_dir}/documents.parquet",
                                     root)
    wall, use = time.perf_counter() - t0, ctx.cpu.since(c0)
    ctx.release()
    want = ctx.expected["graph"]
    ctx.check("parse quarantined documents", (bad_docs,),
              (ctx.meta["n_malformed"],))
    ctx.check("graph.materialize rows", (summary["total_rows"],), (want[0],))
    ctx.check("graph.materialize table",
              _duck_graph(f"{root}/data", expect.GRAPH_COLS + ("graph",),
                          bnode_blind=True),
              want)
    files, size = _table_stats(f"{root}/data")
    summary["span"].counts.update(files_written=files, bytes_written=size)
    shutil.rmtree(root, ignore_errors=True)
    return Pass.timed(wall, use, triples=summary["total_rows"],
                      stored_bytes=size)


# --- traverse ----------------------------------------------------------------

TRAVERSE_OPS = (
    ("path", "paths.path_pairs"),
    ("census", "graph.two_hop_census"),
    ("bgp", "query.bgp_match"),
    ("sparql", "sparql.sparql_select"),
)


def traverse_build(ctx: Ctx) -> Pass:
    """The query graph every pass reads, built once the way the driver's
    graph queries build theirs: extraction straight into the bucketed
    table and the dual adjacency tables (the lineage-committed write is
    measured by ingest).  Its time and size are the workload's
    construction figures."""
    tr = ctx.tracer
    c0, t0 = ctx.cpu(), time.perf_counter()
    with tr.span("sources.scan") as sp:
        t, ents = _read_inputs(ctx)
        t = ctx.boundary(t, sp)
    if tr.enabled:
        _rules_and_linking(ctx, t, ents)
    with tr.span("extraction.extract_triples", python_metrics=True) as sp:
        # both tables are written from one cached extraction
        triples = extraction.extract_triples(t, ents).persist()
        ctx.cached.append(triples)
        n = sp.counts["rows_out"] = triples.count()
    with tr.span("graph.materialize_bucketed") as sp_b:
        graph.materialize_bucketed(triples.select("subj", "pred", "obj"),
                                   "kgt_graph", n_buckets=N_BUCKETS)
    with tr.span("graph.materialize_adjacency") as sp_a:
        by_subj, by_obj = graph.materialize_adjacency(
            triples.select("subj", "pred", "obj", "obj_is_literal"),
            "kgt_adj", n_buckets=N_BUCKETS)
    wall, use = time.perf_counter() - t0, ctx.cpu.since(c0)
    ctx.release()
    tables = {"graph.materialize_bucketed": (
                  sp_b, [f"{ctx.warehouse}/kgt_graph"]),
              "graph.materialize_adjacency": (
                  sp_a, [f"{ctx.warehouse}/{by_subj}",
                         f"{ctx.warehouse}/{by_obj}"])}
    stored = _graph_checks(ctx, {"total_rows": n}, tables)
    return Pass.timed(wall, use, triples=n, stored_bytes=stored)


def traverse_pass(ctx: Ctx, k: int) -> Pass:
    spark, tr = ctx.spark, ctx.tracer
    g = spark.table("kgt_graph")
    calls = {
        "path": lambda: paths.path_pairs(g, _PATH_EXPR),
        "census": lambda: graph.two_hop_census(spark, "kgt_adj_by_subj",
                                               "kgt_adj_by_obj"),
        "bgp": lambda: query.bgp_match(g, _BGP_PATTERNS,
                                       optionals=_BGP_OPTIONALS),
        "sparql": lambda: sparql.sparql_select(g, _SPARQL_PATH_STAR),
    }
    ops = {}
    c0 = ctx.cpu()
    # a warm-up pass (k < 0) leaves out sparql_select: its closure is the
    # one path_pairs has just warmed, and the run's time is better spent
    # on the timed pass
    for op, layer in TRAVERSE_OPS if k >= 0 else TRAVERSE_OPS[:-1]:
        cols = expect.TRAVERSE_COLS[op]
        t0 = time.perf_counter()
        try:
            with tr.span(layer) as sp:
                got = expect.spark_digest(calls[op](), cols)
                sp.counts["rows_out"] = got[0]
        except Exception:
            ctx.fail(layer)
            continue
        ops[op] = time.perf_counter() - t0
        ctx.check(layer, got, ctx.expected[op])
    return Pass.timed(sum(ops.values()), ctx.cpu.since(c0), ops=ops)


# --- dedup -------------------------------------------------------------------

def dedup_pass(ctx: Ctx, k: int) -> Pass:
    spark, tr = ctx.spark, ctx.tracer
    docs = spark.read.parquet(f"{ctx.in_dir}/documents.parquet")
    emb = spark.read.parquet(f"{ctx.in_dir}/embeddings.parquet")
    results: dict = {}

    def pairs():
        # the pairs feed both their own check and the clustering
        results["pairs"] = dedup.minhash_lsh_pairs(
            docs, **expect.MINHASH_ARGS).persist()
        ctx.cached.append(results["pairs"])
        return results["pairs"]

    calls = (
        ("pairs", "dedup.minhash_lsh_pairs", pairs),
        ("clusters", "components.dedup_clusters",
         lambda: components.dedup_clusters(results["pairs"])),
        ("ann", "similarity.lsh_ann_topk",
         lambda: similarity.lsh_ann_topk(emb)),
        ("cosine", "similarity.cosine_topk",
         lambda: similarity.cosine_topk(emb)),
    )
    ops = {}
    c0 = ctx.cpu()
    for op, layer, call in calls:
        if op == "clusters" and "pairs" not in results:
            continue
        t0 = time.perf_counter()
        try:
            with tr.span(layer) as sp:
                got = expect.spark_digest(call(), expect.DEDUP_COLS[op])
                sp.counts["rows_out"] = got[0]
        except Exception:
            ctx.fail(layer)
            continue
        ops[op] = time.perf_counter() - t0
        ctx.check(layer, got, ctx.expected[op])
    ctx.release()
    return Pass.timed(sum(ops.values()), ctx.cpu.since(c0), ops=ops)


# workload -> (pass, warm-up passes, fewest timed passes).  Warm-up passes
# run on the real input and are checked but not timed.  A pass count, not
# only the clock, ends a run, so runs stay comparable: an ingest pass's CPU
# seconds fall from about 17 to 10 over its first four passes as the JIT
# compiles.  traverse affords one timed pass: its graph build and each
# pass take 10-15 s and 20-30 s of wall time.
WORKLOADS = {
    "construct": (construct_pass, 1, 2),
    "ingest": (ingest_pass, 2, 6),
    "traverse": (traverse_pass, 1, 1),
    "dedup": (dedup_pass, 1, 2),
}
