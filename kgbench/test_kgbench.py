"""Self-tests for the benchmark itself (not part of the engine's suite).

    python3 -m pytest kgbench/test_kgbench.py -q -p no:cacheprovider

The smoke tests start one JVM per run on a small input
(``KGBENCH_SCALE``) and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import expect  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SMALL = "0.05"


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setenv("KGBENCH_SCALE", SMALL)


def _tables(d):
    return {f: pd.read_parquet(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


@pytest.mark.parametrize("workload", sorted(expect.EXPECTED))
def test_same_seed_same_inputs_and_checksums(workload, small, tmp_path):
    out = []
    for name in ("a", "b"):
        d = tmp_path / name
        d.mkdir()
        meta = gen.generate(workload, 7, str(d))
        out.append((meta, _tables(d), expect.EXPECTED[workload](str(d))))
    (meta_a, tabs_a, exp_a), (meta_b, tabs_b, exp_b) = out
    assert meta_a == meta_b and exp_a == exp_b
    assert tabs_a.keys() == tabs_b.keys()
    for f in tabs_a:
        pd.testing.assert_frame_equal(tabs_a[f], tabs_b[f])
    d = tmp_path / "c"
    d.mkdir()
    gen.generate(workload, 8, str(d))
    assert expect.EXPECTED[workload](str(d)) != exp_a


def test_dropped_triple_counts_as_failure(small, tmp_path):
    gen.generate("construct", 3, str(tmp_path))
    want = expect.construct_expected(str(tmp_path))["graph"]
    sql = expect.construct_triples_sql(f"{tmp_path}/transcripts.parquet",
                                       f"{tmp_path}/entities.parquet")
    con = expect.connect()
    full = expect.duck_digest(con, sql, expect.GRAPH_COLS)
    dropped = expect.duck_digest(
        con, f"SELECT * FROM ({sql}) LIMIT {want[0] - 1}", expect.GRAPH_COLS)
    ctx = workloads.Ctx(None, spans.Tracer(None, False), "", "", {}, {})
    assert ctx.check("full", full, want)
    assert not ctx.check("one triple dropped", dropped, want)
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_ingest_expected_set_matches_parser_kernels(small, tmp_path):
    """The generator's triple set is what the parser kernels produce."""
    import numpy as np

    from rdf_go_spark.parsers.detect import parse_any
    from rdf_go_spark.terms import render_term

    docs, exp, n_bad = gen.rdf_documents(np.random.default_rng(5), 200, 0.05)

    def blind(t):
        return "_:" if t.startswith("_:") else t

    got, bad = [], 0
    for text in docs.text:
        stmts, errs, _ = parse_any(text)
        bad += bool(errs)
        got += [(blind(render_term(q.s)), render_term(q.p),
                 blind(render_term(q.o)),
                 None if q.g is None else render_term(q.g)) for q in stmts]
    want = [(blind(s), p, blind(o), g)
            for s, p, o, g in exp[["subj", "pred", "obj", "graph"]]
            .itertuples(index=False)]
    assert bad == n_bad > 0
    assert sorted(got, key=str) == sorted(want, key=str)


def test_metric_parsing_and_job_overlap():
    assert spans.parse_metric("1,234") == 1234
    assert spans.parse_metric("2.0 KiB") == 2048
    assert spans.parse_metric("total (min, med, max)\n1.5 s (0 ms, 1 ms)") == 1.5
    # two overlapping jobs and one outside the span
    assert spans._union_length([(1, 3), (2, 4), (9, 12)], 0, 10) == 4


def _run(workload, trace, env):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "1", "--seconds", "0", "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       timeout=600, check=False)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("ingest", 0), ("ingest", 1), ("traverse", 0), ("traverse", 1),
    ("construct", 0), ("dedup", 0),
])
def test_smoke_run_prints_every_metric(workload, trace):
    env = dict(os.environ, KGBENCH_SCALE=SMALL)
    res = _run(workload, trace, env)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    if trace:
        names = report.per_layer_names()
    elif workload == "dedup":
        names = [("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
                 ("fail_frac", "ratio")]
    else:
        names = report.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(names)
    if workload != "dedup":
        assert res["correct"] and res["failed"] == 0


def test_benchmark_json_matches_the_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [
        n for n, _ in report.END_TO_END]
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == dict(
        report.per_layer_names())


def test_outside_a_checkout_exits_nonzero(tmp_path):
    (tmp_path / "kgbench").mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (tmp_path / "kgbench" / f).write_text(
                open(os.path.join(HERE, f)).read())
    p = subprocess.run([sys.executable, "kgbench/run.py", "--workload",
                        "ingest", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120, check=False)
    assert p.returncode != 0 and p.stdout.strip() == ""
