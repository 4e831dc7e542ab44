"""Turns passes and spans into the printed metrics and the trace file."""

from __future__ import annotations

import json
import os
import statistics
import time

import spans

# Pass costs are the engine's CPU seconds, not wall seconds, and leave out
# its JVM's JIT and GC threads: see proc.py.  Wall figures and the JIT and
# GC CPU are in the traced run (session.*).
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("triples_per_cpu_s", "triples/s"),
    ("stored_bytes_per_triple", "B"),
)

_CALL = (("self_s", "s"), ("task_s", "s"), ("driver_s", "s"),
         ("shuffle_write_bytes", "B"))
_WRITE = _CALL + (("files_written", "count"), ("bytes_written", "B"))
_QUERY = (("wall_s", "s"),) + _CALL + (("spill_bytes", "B"),
                                       ("rows_out", "rows"))

# layer -> printed metrics; a layer a workload does not run reports 0
LAYERS = {
    "sources.scan": (("self_s", "s"), ("task_s", "s"), ("bytes_read", "B")),
    "extraction.rules": _CALL + (("rows_out", "rows"),),
    "linking.broadcast": (("self_s", "s"), ("task_s", "s"),
                          ("match_ratio", "ratio")),
    "extraction.extract_triples": _CALL + (("rows_out", "rows"),),
    "extraction.payload": (("self_s", "s"), ("task_s", "s"),
                           ("py_bytes_sent", "B"), ("py_bytes_returned", "B")),
    "parse_spark.parse_rdf_documents": _CALL[:3] + (
        ("docs_in", "count"), ("quarantine_rows", "rows"),
        ("py_bytes_sent", "B"), ("py_bytes_returned", "B")),
    "canonicalize.canonicalize_triples": _CALL[:3] + (
        ("quarantine_rows", "rows"), ("py_bytes_sent", "B")),
    "graph.materialize": _WRITE + (("partitions_committed", "count"),),
    "graph.materialize_bucketed": _WRITE,
    "graph.materialize_adjacency": _WRITE,
    "components.transitive_closure_pairs": _CALL + (
        ("spill_bytes", "B"), ("rounds", "count"), ("round_max_s", "s"),
        ("round_growth", "ratio"), ("rows_final", "rows")),
    "paths.path_pairs": _QUERY,
    "graph.two_hop_census": _QUERY,
    "query.bgp_match": _QUERY,
    "sparql.sparql_select": _QUERY,
    "session": (("jvm_start_s", "s"), ("wall_s", "s"),
                ("triples_per_s", "triples/s"), ("jit_cpu_s", "s"),
                ("gc_cpu_s", "s"), ("peak_rss_mb", "MB"),
                ("persisted_rdds_end", "count"), ("cached_bytes_end", "B")),
    "trace": (("overhead_frac", "ratio"), ("coverage", "ratio")),
}


# layers only the dedup workload runs; it is not in BENCHMARK.json
DEDUP_LAYERS = {
    "dedup.minhash_lsh_pairs": _QUERY,
    "components.dedup_clusters": (("wall_s", "s"), ("self_s", "s"),
                                  ("rows_out", "rows")),
    "components.connected_components": _CALL + (
        ("rounds", "count"), ("round_max_s", "s"), ("hit_cap", "count")),
    "similarity.lsh_ann_topk": _QUERY,
    "similarity.cosine_topk": _QUERY,
}
# SQL executions an iterative operator runs before its first round
ROUND_SETUP = {"components.transitive_closure_pairs": 1,
               "components.connected_components": 2}
COMPONENTS_MAX_ITER = 25  # connected_components' default round cap


def per_layer_names(layers=LAYERS):
    return [(f"{layer}.{m}", unit) for layer, ms in layers.items()
            for m, unit in ms]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _built(passes, build):
    """``build`` is traverse's one-off graph construction; the other
    workloads construct their graph in every pass."""
    return [build] if build else passes


def end_to_end(setup_s: float, passes, build) -> dict:
    made = _built(passes, build)
    values = {
        "setup_s": setup_s,
        "cpu_s": _median([p.cpu for p in passes]),
    }
    if made[0].triples:  # dedup builds no graph
        values["triples_per_cpu_s"] = _median(
            [p.triples / p.cpu for p in made])
        values["stored_bytes_per_triple"] = _median(
            [p.stored_bytes / p.triples for p in made])
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END
            if k in values}


def install_wrappers(tracer) -> None:
    """Spans around the iterative engine functions that other engine
    functions call: the closure inside ``paths.path_pairs`` and the
    SPARQL path evaluation, and connected components inside
    ``components.dedup_clusters``.  Both finish their rounds before
    returning and leave their result cached or checkpointed, so counting
    it here costs one scan of that."""
    from rdf_go_spark.operators import components

    for name in ("transitive_closure_pairs", "connected_components"):
        fn = getattr(components, name)

        def wrapped(*args, _fn=fn, _layer=f"components.{name}", **kwargs):
            with tracer.span(_layer) as sp:
                out = _fn(*args, **kwargs)
                if tracer.enabled:
                    sp.counts["rows_final"] = out.count()
            return out

        wrapped.__wrapped__ = fn
        setattr(components, name, wrapped)


def _derived(rec: dict) -> list[dict]:
    """Figures read from a span's SQL executions rather than its clock."""
    out = []
    if rec["name"] == "extraction.extract_triples" and rec.get("task_s"):
        # the payload parse is the MapInPandas operator inside the full
        # extraction; its wall share is its share of the span's task time
        share = min(1.0, rec.get("py_run_task_s", 0.0) / rec["task_s"])
        out.append({"name": "extraction.payload", "phase": rec["phase"],
                    "self_s": rec["self_s"] * share,
                    "task_s": rec.get("py_run_task_s", 0.0),
                    "py_bytes_sent": rec.get("py_bytes_sent", 0.0),
                    "py_bytes_returned": rec.get("py_bytes_returned", 0.0)})
        rec["self_s"] -= out[-1]["self_s"]
    if rec["name"] in ROUND_SETUP:
        ends = [e for _, e in rec.get("executions", [])]
        # one SQL execution per round, after the set-up ones (the closure
        # counts its seed paths; components checkpoints its symmetric
        # edges and initial labels); the last is the count in the wrapper.
        # A round runs from the end of the execution before it.
        ends = ends[ROUND_SETUP[rec["name"]] - 1:-1]
        rounds = [b - a for a, b in zip(ends, ends[1:])]
        rec["rounds"] = len(rounds)
        rec["round_times_s"] = rounds
        rec["round_max_s"] = max(rounds, default=0.0)
        rec["round_growth"] = (rounds[-1] / rounds[0]
                               if rounds and rounds[0] > 0 else 0.0)
        if rec["name"] == "components.connected_components":
            rec["hit_cap"] = float(len(rounds) >= COMPONENTS_MAX_ITER)
    return out


def _records(tracer) -> list[dict]:
    tracer.collect()
    recs = []
    for sp in tracer.spans:
        rec = spans.span_record(sp)
        rec["phase"] = sp.phase
        recs.append(rec)
        recs += _derived(rec)
    return recs


def layer_metrics(spark, tracer, passes, traced, build, session_s: float,
                  peak_rss: int, workload: str) -> dict:
    recs = _records(tracer)
    tracer.records = recs
    layers = dict(LAYERS, **DEDUP_LAYERS) if workload == "dedup" else LAYERS
    values: dict = {}
    for layer, ms in layers.items():
        mine = [r for r in recs if r["name"] == layer]
        for m, _ in ms:
            values[f"{layer}.{m}"] = _median([r.get(m, 0.0) for r in mine])
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    values["session.jvm_start_s"] = session_s
    values["session.wall_s"] = _median([p.wall for p in passes])
    made = _built(passes, build)
    values["session.triples_per_s"] = _median(
        [p.triples / p.wall for p in made])
    values["session.jit_cpu_s"] = _median([p.jit for p in passes])
    values["session.gc_cpu_s"] = _median([p.gc for p in passes])
    values["session.peak_rss_mb"] = peak_rss / 2**20
    values["session.persisted_rdds_end"] = jsc.getPersistentRDDs().size()
    values["session.cached_bytes_end"] = sum(
        i.memSize() + i.diskSize() for i in infos)
    untraced_wall = _median([p.wall for p in passes])
    traced_wall = _median([p.wall for p in traced])
    values["trace.overhead_frac"] = traced_wall / untraced_wall - 1
    top = sum(r["wall_s"] for r in recs
              if r.get("parent", 1) is None and r["phase"] != "setup")
    values["trace.coverage"] = top / sum(p.wall for p in traced)
    return {name: {"value": values[name], "unit": unit}
            for name, unit in per_layer_names(layers)}


def write_trace(out_dir: str, args, tracer, passes, traced, result) -> str:
    """All span records and pass figures of a traced run, as one JSON file."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-{int(time.time())}.json")
    doc = {
        "workload": args.workload, "seed": args.seed,
        "untraced_passes": [vars(p) for p in passes],
        "traced_passes": [vars(p) for p in traced],
        "spans": getattr(tracer, "records", []),
        "result": result,
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path
