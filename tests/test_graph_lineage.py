"""Graph materialization: per-partition lineage, metrics, idempotent
resume after simulated crash (north-rule checkpoint requirement)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SMOKE = "/root/testdata/sf0.001"


@pytest.fixture()
def triples(spark):
    from rdf_go_spark.plans.pipeline import kg_triples
    return kg_triples(spark, SMOKE)


class TestMaterialize:
    def test_full_materialize_and_read_back(self, spark, triples, tmp_path):
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g1")
        summary = graph.materialize(triples, root, n_partitions=8)
        assert sorted(summary["written"]) == list(range(8))
        back = graph.read_graph(spark, root)
        assert back.count() == triples.count()
        # lineage metrics agree with the data
        m = {r.part_id: r.n_rows
             for r in graph.metrics_table(spark, root).collect()}
        actual = {r.part_id: r.cnt for r in
                  back.groupBy("part_id").agg(F.count("*").alias("cnt")).collect()}
        assert m == actual

    def test_materialize_reads_data_in_one_job(self, spark, triples, tmp_path):
        """Metrics are observe()-fused into the write: materialize over a
        parquet input must run exactly ONE Spark job (the write) — no
        separate aggregation pass over the input. (The kg_triples plan
        itself adds broadcast-build jobs, so assert on a flat input.)"""
        from rdf_go_spark.operators import graph
        flat_path = str(tmp_path / "flat_in")
        triples.write.parquet(flat_path)
        flat = spark.read.parquet(flat_path)
        sc = spark.sparkContext
        sc.setJobGroup("mat_single_pass", "materialize one-job assertion")
        try:
            graph.materialize(flat, str(tmp_path / "g1j"), n_partitions=8)
        finally:
            sc.setJobGroup(None, None)
        ids = sc.statusTracker().getJobIdsForGroup("mat_single_pass")
        assert len(ids) == 1, f"expected 1 job, saw {len(ids)}"

    def test_resume_after_partial_commit(self, spark, triples, tmp_path):
        """Crash simulation: first run commits only 3 of 8 partitions;
        resume completes the rest; nothing is double-written."""
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g2")
        first = graph.materialize(triples, root, n_partitions=8,
                                  fail_after_partitions=3)
        assert len(first["written"]) == 3
        assert graph.committed_partitions(root) == set(first["written"])

        second = graph.materialize(triples, root, n_partitions=8)
        assert set(second["written"]) == set(range(8)) - set(first["written"])
        assert set(second["skipped"]) == set(first["written"])

        back = graph.read_graph(spark, root)
        assert back.count() == triples.count()
        # no duplicate rows: every (conv, turn, pred, obj) appears once
        dupes = (back.groupBy("conv_id", "turn_idx", "subj", "pred", "obj")
                 .count().filter(F.col("count") > 1).count())
        assert dupes == 0

    def test_rerun_on_committed_table_is_noop(self, spark, triples, tmp_path):
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g3")
        graph.materialize(triples, root, n_partitions=4)
        again = graph.materialize(triples, root, n_partitions=4)
        assert again["written"] == [] and again["total_rows"] == 0

    def test_partition_pruning_on_read(self, spark, triples, tmp_path):
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g4")
        graph.materialize(triples, root, n_partitions=4)
        pruned = graph.read_graph(spark, root).filter(F.col("part_id") == 2)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan


class TestLinkStrategies:
    def test_all_strategies_agree(self, spark):
        from rdf_go_spark.operators.linking import (
            detect_mentions, link_broadcast, link_salted, link_shuffle,
        )
        from rdf_go_spark.sources.transcripts import (
            synth_entities, synth_transcripts,
        )
        t = synth_transcripts(spark, 100)
        e = synth_entities(spark)
        m = detect_mentions(t)
        cols = ["conv_id", "turn_idx", "entity_iri"]
        a = sorted(map(tuple, link_broadcast(m, e).select(cols).collect()))
        b = sorted(map(tuple, link_shuffle(m, e).select(cols).collect()))
        c = sorted(map(tuple, link_salted(m, e).select(cols).collect()))
        assert a == b == c and len(a) > 0

    def test_salted_plan_has_no_broadcast(self, spark):
        from rdf_go_spark.operators.linking import (
            detect_mentions, link_salted,
        )
        from rdf_go_spark.sources.transcripts import (
            synth_entities, synth_transcripts,
        )
        m = detect_mentions(synth_transcripts(spark, 50))
        plan = link_salted(m, synth_entities(spark))._jdf.queryExecution() \
            .executedPlan().toString()
        assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan

    def test_pandas_detector_matches_jvm(self, spark):
        from rdf_go_spark.operators.linking import (
            detect_mentions, detect_mentions_pandas,
        )
        from rdf_go_spark.sources.transcripts import synth_transcripts
        t = synth_transcripts(spark, 100)
        cols = ["conv_id", "turn_idx", "mention_norm"]
        a = sorted(map(tuple, detect_mentions(t).select(cols).collect()))
        b = sorted(map(tuple, detect_mentions_pandas(t).select(cols).collect()))
        assert a == b and a

    def test_link_scored_prefers_higher_prior(self, spark):
        from rdf_go_spark.operators.linking import detect_mentions, link_scored
        from rdf_go_spark.sources.transcripts import (
            synth_candidates, synth_transcripts,
        )
        best = link_scored(detect_mentions(synth_transcripts(spark, 100)),
                           synth_candidates(spark))
        rows = best.collect()
        assert rows
        # for small k the primary (1 - k/100) must beat the decoy
        for r in rows:
            k = int(r.mention_norm.split()[-1])
            if 1 - k / 100 > (k % 10) / 20:
                assert "/e/" in r.entity_iri, r
            elif 1 - k / 100 < (k % 10) / 20:
                assert "/alt/" in r.entity_iri, r


class TestBucketedJoins:
    def test_bucketed_self_join_has_no_exchange(self, spark, triples):
        """Co-located join: bucketBy(subj) + sortBy → subject self-join
        plans with ZERO shuffles (the repeated-join scale path)."""
        from rdf_go_spark.operators.graph import materialize_bucketed
        materialize_bucketed(triples, "graph_bucketed_test", n_buckets=8)
        g = spark.table("graph_bucketed_test")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = g.alias("a").join(g.alias("b"), "subj").filter(
                F.col("a.pred") != F.col("b.pred"))
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 0, plan[:800]
            assert "SortMergeJoin" in plan
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS graph_bucketed_test")

    def test_two_hop_join_has_no_exchange(self, spark, triples):
        """Dual adjacency (by_obj ⋈ by_subj on obj=subj): each side is
        bucketed+sorted on its join key, so the hop join itself plans
        with ZERO exchanges — the multi-hop traversal scale path."""
        from rdf_go_spark.operators.graph import (
            materialize_adjacency, two_hop_edges,
        )
        by_subj, by_obj = materialize_adjacency(
            triples, "graph_adj_test", n_buckets=8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = two_hop_edges(spark, by_subj, by_obj)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 0, plan[:800]
            assert "SortMergeJoin" in plan
            # traversal is real: conv --hasTurn--> bnode --role--> …
            assert j.filter(
                (F.col("pred1") == "<http://example.org/v/hasTurn>")
                & (F.col("pred2") == "<http://example.org/v/role>")
            ).count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            for t in ("graph_adj_test_by_subj", "graph_adj_test_by_obj"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_two_hop_census_never_shuffles_on_mid(self, spark, triples):
        """The degree-census traversal (the driver query's shape) must do
        ALL mid-keyed work — degree aggs, degree join, distinct-src
        semi-join — on the bucket columns without an Exchange; the only
        shuffles allowed are on the tiny (pred1, pred2[, src]) rollup
        keys. This is what keeps the hot-entity 2-hop linear at 100 TB."""
        from rdf_go_spark.operators.graph import (
            materialize_adjacency, two_hop_census,
        )
        by_subj, by_obj = materialize_adjacency(
            triples, "graph_census_test", n_buckets=8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = two_hop_census(spark, by_subj, by_obj)
            plan = df._jdf.queryExecution().executedPlan().toString()
            exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
            assert exchanges, "expected the rollup shuffles to exist"
            for ln in exchanges:
                assert "pred1" in ln, f"mid-keyed shuffle leaked: {ln.strip()}"
            assert df.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            for t in ("graph_census_test_by_subj", "graph_census_test_by_obj"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_two_hop_census_respread_is_coalescible(self, spark, triples):
        """With fewer buckets (4) than shuffle partitions (8) the census
        re-spreads its n_src inputs on mid; that exchange must be a
        by-column repartition adaptive execution can coalesce, never a
        fixed-count one, and the census must still equal counting the
        materialized two-hop paths per (pred1, pred2)."""
        from rdf_go_spark.operators.graph import (
            materialize_adjacency, two_hop_census, two_hop_edges,
        )
        by_subj, by_obj = materialize_adjacency(
            triples, "graph_census4_test", n_buckets=4)
        try:
            df = two_hop_census(spark, by_subj, by_obj)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "REPARTITION_BY_NUM" not in plan, plan
            assert "REPARTITION_BY_COL" in plan, plan
            want = (two_hop_edges(spark, by_subj, by_obj)
                    .groupBy("pred1", "pred2")
                    .agg(F.count("*").alias("n_paths"),
                         F.count_distinct("mid").alias("n_mid"),
                         F.count_distinct("src").alias("n_src")))
            cols = ["pred1", "pred2", "n_paths", "n_mid", "n_src"]
            got = sorted(map(tuple, df.select(cols).collect()))
            assert got == sorted(map(tuple, want.select(cols).collect()))
            assert got
        finally:
            for t in ("graph_census4_test_by_subj",
                      "graph_census4_test_by_obj"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestIncrementalUpdate:
    """incremental_update: checksum-diff maintenance — only partitions
    whose content changed are rewritten (the Iceberg-MERGE analogue)."""

    def _transcripts(self, spark, n):
        from rdf_go_spark.sources.transcripts import (
            synth_entities, synth_transcripts,
        )
        from rdf_go_spark.operators.extraction import extract_triples
        return extract_triples(synth_transcripts(spark, n),
                               synth_entities(spark))

    def test_noop_when_unchanged(self, spark, triples, tmp_path):
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g")
        graph.materialize(triples, root, n_partitions=8)
        s = graph.incremental_update(triples, root, n_partitions=8)
        assert s["written"] == [] and s["removed"] == []
        assert len(s["unchanged"]) == 8

    def test_grown_corpus_rewrites_only_touched_partitions(
            self, spark, tmp_path):
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g")
        old = self._transcripts(spark, 40)
        graph.materialize(old, root, n_partitions=8)
        new = self._transcripts(spark, 50)   # 10 extra conversations
        # expected: partitions owning at least one NEW conv change
        from rdf_go_spark.operators.graph import with_partition_id
        newparts = {
            r.part_id for r in with_partition_id(
                new.exceptAll(old), 8).select("part_id").distinct()
            .collect()}
        s = graph.incremental_update(new, root, n_partitions=8)
        assert set(s["written"]) == newparts
        assert set(s["unchanged"]) == set(range(8)) - newparts
        # table now equals a full rebuild
        back = graph.read_graph(spark, root).drop("part_id")
        assert back.exceptAll(new).count() == 0
        assert new.exceptAll(back).count() == 0
        # and a second run is a no-op
        s2 = graph.incremental_update(new, root, n_partitions=8)
        assert s2["written"] == []

    def test_shrunk_corpus_changes_and_removes(self, spark, tmp_path):
        from rdf_go_spark.operators import graph
        root = str(tmp_path / "g")
        big = self._transcripts(spark, 40)
        graph.materialize(big, root, n_partitions=64)
        # at 64 partitions over 40 convs some partitions own exactly
        # one conversation; shrinking to 8 convs empties several
        small = self._transcripts(spark, 8)
        s = graph.incremental_update(small, root, n_partitions=64)
        assert s["removed"]                    # emptied partitions went away
        back = graph.read_graph(spark, root).drop("part_id")
        assert back.exceptAll(small).count() == 0
        assert small.exceptAll(back).count() == 0
        # lineage matches the surviving table exactly
        recs = {r["part_id"] for r in graph.lineage_records(root)}
        live = {r.part_id for r in graph.read_graph(spark, root)
                .select("part_id").distinct().collect()}
        assert recs == live
