"""End-to-end KG pipeline tests: every __spark_entry__ query vs its DuckDB
oracle at smoke scale, plus pipeline invariants (determinism, text equality,
P/R vs expected triples)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_frames_match

SMOKE = "/root/testdata/sf0.001"
N_CONV_SMOKE = 50


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e
    return e


class TestDriverContract:
    def test_entry_smoke(self, spark, entrymod):
        df = entrymod.entry(spark)
        assert df.count() > 0
        assert [f.name for f in df.schema.fields] == [
            "subj", "pred", "obj", "obj_is_literal", "graph",
            "conv_id", "turn_idx"]

    def test_every_query_has_callable(self, entrymod):
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        assert qs
        for name in oracles:
            assert name in qs

    def test_queries_match_oracles_at_smoke_scale(self, spark, entrymod):
        """Driver-style compare, but with oracles rebuilt at smoke scale."""
        from rdf_go_spark.plans.oracles import kg_oracles
        oracles = kg_oracles(N_CONV_SMOKE)
        for name, sql in oracles.items():
            sdf = entrymod.queries()[name](spark, SMOKE)
            ddf = duckdb.sql(sql).df()
            assert_frames_match(sdf, ddf)


class TestPipelineInvariants:
    def test_per_turn_text_equality_under_window_order(self, spark):
        """BASELINE.json input_hint invariant."""
        from rdf_go_spark.sources.transcripts import synth_transcripts
        from pyspark.sql import Window
        t = synth_transcripts(spark, N_CONV_SMOKE)
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        reassembled = (t.withColumn("rn", F.row_number().over(w) - 1)
                       .filter(F.col("rn") != F.col("turn_idx")))
        assert reassembled.count() == 0

    def test_determinism_double_run(self, spark):
        from rdf_go_spark.plans.pipeline import kg_triples
        a = sorted(map(tuple, kg_triples(spark, SMOKE).collect()))
        b = sorted(map(tuple, kg_triples(spark, SMOKE).collect()))
        assert a == b

    def test_precision_recall_vs_oracle(self, spark):
        """P/R >= 0.95 gate (BASELINE.json north_rule) on (subj,pred,obj)."""
        from rdf_go_spark.plans.pipeline import kg_triples, kg_triples_oracle_sql
        got = {(r.subj, r.pred, r.obj)
               for r in kg_triples(spark, SMOKE).collect()}
        exp = {tuple(r) for r in duckdb.sql(
            f"SELECT subj, pred, obj FROM ({kg_triples_oracle_sql(N_CONV_SMOKE)})"
        ).fetchall()}
        tp = len(got & exp)
        precision = tp / len(got)
        recall = tp / len(exp)
        assert precision >= 0.95 and recall >= 0.95, (precision, recall)
        # we actually require exact parity of the deterministic pipeline
        assert precision == 1.0 and recall == 1.0

    def test_skolem_bnodes_are_stable_and_unique_per_turn(self, spark):
        from rdf_go_spark.plans.pipeline import kg_triples
        df = kg_triples(spark, SMOKE)
        bnodes = (df.filter(F.col("pred") == "<http://example.org/v/hasTurn>")
                  .select("obj").distinct().count())
        turns = (df.select("conv_id", "turn_idx").distinct().count())
        assert bnodes == turns

    def test_payload_triples_parsed_by_kernel(self, spark):
        from rdf_go_spark.plans.pipeline import kg_triples
        df = kg_triples(spark, SMOKE)
        payload = df.filter(
            F.col("pred") == "<http://example.org/rel/mentions>")
        rows = payload.limit(5).collect()
        assert rows
        for r in rows:
            assert r.subj.startswith("<http://example.org/e/")
            assert r.obj.startswith('"entity ')
            assert r.obj_is_literal is True


class TestScaleShape:
    def test_extraction_has_no_driver_collect(self, spark):
        """The flagship plan must stay fully distributed — verify the plan
        contains the broadcast-join and mapInPandas stages we designed."""
        from rdf_go_spark.plans.pipeline import kg_triples
        plan = kg_triples(spark, SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
        assert "MapInPandas" in plan

    def test_generator_is_distributed(self, spark):
        from rdf_go_spark.sources.transcripts import synth_transcripts
        df = synth_transcripts(spark, 1000, partitions=16)
        assert df.rdd.getNumPartitions() >= 16


class TestBgpMatch:
    def test_bgp_compiler_semantics(self, spark):
        """Variable binding, constant filters, shared-variable joins,
        within-pattern variable equality, and cross rejection."""
        from rdf_go_spark.operators.query import bgp_match
        rows = [
            ("<a>", "<knows>", "<b>"), ("<b>", "<knows>", "<c>"),
            ("<a>", "<likes>", "<a>"), ("<c>", "<knows>", "<a>"),
        ]
        t = spark.createDataFrame(rows, "subj string, pred string, obj string")
        # 2-hop friend chain
        chains = {(r.x, r.y, r.z) for r in bgp_match(
            t, [("?x", "<knows>", "?y"), ("?y", "<knows>", "?z")]).collect()}
        assert chains == {("<a>", "<b>", "<c>"), ("<b>", "<c>", "<a>"),
                          ("<c>", "<a>", "<b>")}
        # self-loop via repeated variable
        loops = bgp_match(t, [("?x", "<likes>", "?x")]).collect()
        assert [r.x for r in loops] == ["<a>"]
        # disconnected patterns rejected unless opted in
        import pytest as _pytest
        with _pytest.raises(ValueError):
            bgp_match(t, [("?x", "<knows>", "?y"), ("?a", "<likes>", "?b")])
        crossed = bgp_match(
            t, [("?x", "<likes>", "?x"), ("?a", "<knows>", "?b")],
            allow_cross=True)
        assert crossed.count() == 3

    def test_bgp_plan_pushes_constant_filters(self, spark):
        from rdf_go_spark.plans.pipeline import kg_bgp_match
        plan = kg_bgp_match(spark, SMOKE)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # patterns match over the MATERIALIZED graph table — the
        # extraction (and its Python payload parse) must not be
        # re-derived per pattern (round-3 finding: py:mapInPandas was 4)
        assert plan.count("MapInPandas") == 0
        # constant pred filters reach the parquet scan
        assert "PushedFilters: [IsNotNull(pred), EqualTo(pred," in plan

    def test_bgp_optional_left_join_semantics(self, spark):
        from rdf_go_spark.operators.query import bgp_match
        rows = [("<a>", "<knows>", "<b>"), ("<b>", "<knows>", "<c>"),
                ("<b>", "<age>", '"30"')]
        t = spark.createDataFrame(rows, "subj string, pred string, obj string")
        out = {r.y: r.age for r in bgp_match(
            t, [("?x", "<knows>", "?y")],
            optionals=[("?y", "<age>", "?age")]).collect()}
        assert out == {"<b>": '"30"', "<c>": None}
        import pytest as _pytest
        with _pytest.raises(ValueError):
            bgp_match(t, [("?x", "<knows>", "?y")],
                      optionals=[("?p", "<age>", "?q")])


class TestTransitiveClosure:
    def test_closure_with_cycle_and_branches(self, spark):
        """Directed closure with min hop distance on a graph containing a
        cycle (1→2→3→1), a branch (2→4), and a chain (5→6→7)."""
        from rdf_go_spark.operators.components import transitive_closure
        edges = [(1, 2), (2, 3), (3, 1), (2, 4), (5, 6), (6, 7)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {(r.src, r.dst): r.dist
               for r in transitive_closure(df).collect()}
        expected = {
            (1, 2): 1, (1, 3): 2, (1, 1): 3, (1, 4): 2,
            (2, 3): 1, (2, 1): 2, (2, 2): 3, (2, 4): 1,
            (3, 1): 1, (3, 2): 2, (3, 3): 3, (3, 4): 3,
            (5, 6): 1, (5, 7): 2, (6, 7): 1,
        }
        assert got == expected

    @pytest.mark.parametrize("with_distance", [True, False])
    def test_long_chain_matches_oracle(self, spark, with_distance):
        """A 64-node chain takes 7 path-doubling rounds (six to cover 63
        hops, one that adds nothing); every pair, and with distance its
        shortest hop count, matches the recursive-CTE twin."""
        from rdf_go_spark.operators.components import (
            transitive_closure, transitive_closure_oracle,
        )
        edges = [(i, i + 1) for i in range(63)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(tuple(r) for r in transitive_closure(
            df, with_distance=with_distance).collect())
        values = ", ".join(f"({a}, {b})" for a, b in edges)
        want = duckdb.sql(transitive_closure_oracle(
            f"SELECT * FROM (VALUES {values}) t(src, dst)")).fetchall()
        if not with_distance:
            want = [(s, d) for s, d, _ in want]
        assert len(got) == 63 * 64 // 2
        assert got == sorted(want)

    def test_raises_at_iteration_cap(self, spark):
        from rdf_go_spark.operators.components import transitive_closure
        df = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                   "src long, dst long")
        with pytest.raises(RuntimeError, match="max_iter=3"):
            transitive_closure(df, max_iter=3)

    def test_caller_conf_never_written(self, spark):
        """The round loop runs in a private child session, so the
        caller's adaptive and cache-compression confs read the same
        before, during and after closures — here two at once on other
        threads while this thread reads the conf."""
        import threading
        import time
        from rdf_go_spark.operators.components import transitive_closure
        keys = ("spark.sql.adaptive.enabled",
                "spark.sql.inMemoryColumnarStorage.compressed")
        before = {k: spark.conf.get(k) for k in keys}
        df = spark.createDataFrame([(i, i + 1) for i in range(15)],
                                   "src long, dst long")
        counts, errors = [], []

        def run():
            try:
                counts.append(transitive_closure(df).count())
            except Exception as exc:  # surfaced by the assert below
                errors.append(exc)

        threads = [threading.Thread(target=run) for _ in range(2)]
        for t in threads:
            t.start()
        seen = []
        while any(t.is_alive() for t in threads):
            seen.append({k: spark.conf.get(k) for k in keys})
            time.sleep(0.01)
        for t in threads:
            t.join()
        assert not errors, errors
        assert counts == [15 * 16 // 2] * 2
        assert seen and all(s == before for s in seen)
        assert {k: spark.conf.get(k) for k in keys} == before
