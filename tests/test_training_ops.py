"""Training-data operator tests: every oracle-backed query vs DuckDB at
smoke scale (sf0.001), plus algorithmic assertions the oracles can't
express (LSH ANN recall, MinHash recall vs exact pairs, plan shape)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TABLES, assert_frames_match

SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e
    return e


TRAINING_QUERIES = [
    "doc_text_profile", "corpus_term_stats", "doc_exact_dedup",
    "media_audio_frames",
    "media_video_samples", "doc_sample_stratified", "corpus_mix_report",
    "dedup_keep_list",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_clusters", "emb_cosine_topk",
    "emb_lsh_ann", "emb_near_dup", "emb_label_centroids",
    "media_metadata", "pricing_summary", "top_customers",
    "events_user_stats", "sessionize_events", "orders_without_lineitems",
    "repeat_buyers",
]


class TestOracleParity:
    @pytest.mark.parametrize("name", TRAINING_QUERIES)
    def test_query_matches_oracle(self, spark, duck, entrymod, name):
        sdf = entrymod.queries()[name](spark, SMOKE)
        ddf = duck.execute(entrymod.oracle_sql()[name]).df()
        assert_frames_match(sdf, ddf)


class TestAlgorithmic:
    def test_minhash_recall_vs_exact(self, spark):
        """LSH candidates must recover most true near-dup pairs: with 4
        bands × 4 rows at j>=0.8, per-band hit prob = j^4 ≈ 0.41, miss
        prob (1-j^4)^4 ≈ 0.12 — require recall >= 0.7 overall."""
        from rdf_go_spark.operators.dedup import (
            minhash_lsh_pairs, ngram_jaccard_pairs,
        )
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        exact = {(r.doc_a, r.doc_b)
                 for r in ngram_jaccard_pairs(docs, 0.8).collect()}
        found = {(r.doc_a, r.doc_b)
                 for r in minhash_lsh_pairs(docs, 0.8).collect()}
        assert found <= exact  # verify step guarantees precision 1.0
        if exact:
            assert len(found & exact) / len(exact) >= 0.7

    def test_lsh_ann_recall_vs_brute_force(self, spark):
        from rdf_go_spark.operators.similarity import cosine_topk, lsh_ann_topk
        emb = spark.read.parquet(f"{SMOKE}/embeddings.parquet")
        brute = cosine_topk(emb, n_queries=10, k=3).collect()
        ann = lsh_ann_topk(emb, n_queries=10, k=3).collect()
        brute_top1 = {r.query_id: r.neighbor_id for r in brute if r.rank == 1}
        ann_pairs = {(r.query_id, r.neighbor_id) for r in ann}
        # 12 hyperplanes over 64-d random vectors: same-bucket recall is
        # modest by construction; assert the plumbing finds *some* overlap
        # and never returns a worse-than-brute cosine for rank 1
        assert ann  # non-empty
        ann_best = {}
        for r in ann:
            if r.rank == 1:
                ann_best[r.query_id] = r.cosine
        brute_best = {r.query_id: r.cosine for r in brute if r.rank == 1}
        for qid, c in ann_best.items():
            assert c <= brute_best[qid] + 1e-9

    def test_stratified_sample_properties(self, spark):
        """Deterministic sampling invariants: rerun-stable membership,
        fraction-0 sources fully excluded, fraction-1 fully kept, and a
        pure-filter plan (zero exchanges)."""
        from rdf_go_spark.operators.sampling import stratified_sample
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        fr = {"src0": 0.0, "src1": 1.0}
        a = {r.doc_id for r in stratified_sample(docs, fr).collect()}
        b = {r.doc_id for r in stratified_sample(docs, fr).collect()}
        assert a == b and a
        kept = stratified_sample(docs, fr).toPandas()
        assert not (kept.source == "src0").any()
        n_src1 = docs.filter(F.col("source") == "src1").count()
        assert (kept.source == "src1").sum() == n_src1
        plan = stratified_sample(docs, fr)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan

    def test_sql_function_registry(self, spark):
        """The RDF scalar kernels are callable from plain spark.sql after
        register_rdf_functions (the library's SQL-interop surface)."""
        from rdf_go_spark.functions.registry import register_rdf_functions
        register_rdf_functions(spark)
        row = spark.sql("""
            SELECT rdf_detect_format('<a:s> <a:p> "v" .') AS fmt,
                   iri_resolve('http://e/a/b', '../x') AS iri,
                   iri_is_valid('http://e/ok') AS ok,
                   iri_is_valid('relative') AS bad,
                   rdf_statement_count(
                     '@prefix e: <http://e/> . e:s e:p e:o, e:o2 .') AS n,
                   rdf_to_ntriples('{"@id":"http://e/s",
                                     "http://e/p":"x"}') AS nt
        """).first()
        assert row.fmt == "ntriples"
        assert row.iri == "http://e/x"
        assert row.ok is True and row.bad is False
        assert row.n == 2
        assert row.nt == '<http://e/s> <http://e/p> "x" .'

    def test_audio_decode_on_genuine_wav(self, spark):
        """audio_frame_stats' decoder works on a real stdlib-written WAV,
        not just the synthetic payloads."""
        import io
        import wave
        from rdf_go_spark.operators.multimodal import _audio_frame_batches
        import pandas as pd
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x01\x00\xff\xff\x00\x02\x00\xfe")  # 1,-1,512,-512
        w.close()
        out = pd.concat(list(_audio_frame_batches(iter([pd.DataFrame(
            {"media_id": [7], "payload": [buf.getvalue()]})]))))
        r = out.iloc[0]
        assert (r.n_channels, r.n_frames, r.n_samples) == (2, 2, 4)
        assert r.first_sample == 1
        assert r.sum_sq == 1 + 1 + 512 * 512 + 512 * 512

    def test_rolling_fp_is_order_sensitive(self, spark):
        """Unlike the normalized-md5 fingerprint, the polynomial rolling
        hash distinguishes token order (shuffled near-copies)."""
        from rdf_go_spark.operators.textstats import (
            fingerprint, rolling_fingerprint,
        )
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "")],
            "doc_id long, text string")
        md5fp = {r.doc_id: r.fp for r in fingerprint(df).collect()}
        roll = {r.doc_id: r.roll_fp
                for r in rolling_fingerprint(df).collect()}
        assert md5fp[1] != md5fp[2]  # md5 over normalized text differs too
        assert roll[1] != roll[2]
        assert roll[3] == 0  # empty doc convention, both engines

    def test_bpe_pieces_have_zero_python_stages(self, spark):
        from rdf_go_spark.operators.textstats import bpe_token_stats
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        plan = bpe_token_stats(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, marker

    def test_lsh_jvm_and_pandas_signatures_identical(self, spark):
        """The production JVM signature column (whole-stage codegen) and
        the original vectorized pandas path must bucket every vector
        identically — the quantize-then-exact-integer-dot argument in
        _bucket_column, pinned empirically."""
        from rdf_go_spark.operators.similarity import _signatures
        emb = spark.read.parquet(f"{SMOKE}/embeddings.parquet")
        jvm = {(r.vec_id, r.bucket) for r in
               _signatures(emb, 64, "jvm").select("vec_id", "bucket")
               .collect()}
        pd_ = {(r.vec_id, r.bucket) for r in
               _signatures(emb, 64, "pandas").select("vec_id", "bucket")
               .collect()}
        assert jvm == pd_ and len(jvm) == emb.count()

    def test_lsh_jvm_plan_has_no_python_stage(self, spark):
        from rdf_go_spark.operators.similarity import (
            embedding_near_dup_pairs, lsh_ann_topk)
        emb = spark.read.parquet(f"{SMOKE}/embeddings.parquet")
        for df in (lsh_ann_topk(emb, 10, 3),
                   embedding_near_dup_pairs(emb, threshold=0.25)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            for marker in ("BatchEvalPython", "ArrowEvalPython",
                           "MapInPandas"):
                assert marker not in plan, marker

    def test_lsh_multiprobe_improves_recall(self, spark):
        """Multi-probe (query bucket + all one-bit-flip neighbors) must
        strictly dominate single-probe candidate coverage, and recover
        planted near-dups whose perturbation flips exactly one plane bit
        (the case single-probe is blind to by construction)."""
        from rdf_go_spark.operators.similarity import N_PLANES, lsh_ann_topk
        emb = spark.read.parquet(f"{SMOKE}/embeddings.parquet")
        # candidate coverage: multiprobe is a strict superset (k unbounded)
        single = {(r.query_id, r.neighbor_id)
                  for r in lsh_ann_topk(emb, 10, 1000).collect()}
        multi = {(r.query_id, r.neighbor_id)
                 for r in lsh_ann_topk(emb, 10, 1000,
                                       multiprobe=N_PLANES).collect()}
        assert single <= multi and len(multi) > len(single)
        # planted clones: +0.05 on every dim flips exactly one plane bit
        # for some queries on this deterministic fixture — single-probe
        # recall 0, multi-probe recovers them (true nearest: cosine ~1)
        clones = (emb.filter(F.col("vec_id") < 10)
                  .select((F.col("vec_id") + 1000).alias("vec_id"),
                          F.transform("embedding", lambda x: x + 0.05)
                          .alias("embedding"), "label"))
        planted = emb.select("vec_id", "embedding", "label") \
            .unionByName(clones)
        want = {(q, q + 1000) for q in range(10)}
        s_hits = {(r.query_id, r.neighbor_id)
                  for r in lsh_ann_topk(planted, 10, 1000).collect()} & want
        m_hits = {(r.query_id, r.neighbor_id)
                  for r in lsh_ann_topk(planted, 10, 1000,
                                        multiprobe=N_PLANES).collect()} & want
        assert len(m_hits) > len(s_hits)
        assert len(m_hits) >= 4  # pinned on the deterministic fixture

    def test_simhash_near_dups_have_small_hamming(self, spark):
        """Planted near-dups (jaccard >= 0.9) should sit within a small
        SimHash Hamming radius."""
        from rdf_go_spark.operators.dedup import (
            ngram_jaccard_pairs, simhash_pairs,
        )
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        near = {(r.doc_a, r.doc_b)
                for r in ngram_jaccard_pairs(docs, 0.9).collect()}
        # token-set SimHash over short word-soup docs is noisy: a few
        # changed tokens can flip ~10 of 60 bits — radius 12 captures the
        # planted dups while the production query uses 3 for precision
        close = {(r.doc_a, r.doc_b)
                 for r in simhash_pairs(docs, max_hamming=12).collect()}
        if near:
            assert len(near & close) / len(near) >= 0.9

    def test_media_pipeline_binary_roundtrip(self, spark):
        from rdf_go_spark.operators.multimodal import synth_media
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        media = synth_media(docs)
        row = media.first()
        assert isinstance(row.payload, (bytes, bytearray))
        assert row.mime in ("image/png", "audio/wav", "video/mp4")
        if row.mime == "image/png":
            assert bytes(row.payload)[:8] == b"\x89PNG\r\n\x1a\n"
        elif row.mime == "audio/wav":
            assert bytes(row.payload)[:4] == b"RIFF"
        else:
            assert bytes(row.payload)[4:8] == b"ftyp"

    def test_real_decoders_on_genuine_files(self):
        """PNG IHDR, WAV header, and MP4 tkhd decoders parse real files
        (built with stdlib), not just the synthetic payloads."""
        import io
        import struct
        import wave
        from rdf_go_spark.operators.multimodal import (
            _decode_mp4, _decode_png, _decode_wav,
        )
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(22050)
        w.writeframes(b"\x00\x01" * 4)
        w.close()
        assert _decode_wav(buf.getvalue()) == (22050, 2)
        png = (bytes.fromhex("89504e470d0a1a0a0000000d49484452")
               + struct.pack(">II", 640, 480) + bytes(5))
        assert _decode_png(png) == (640, 480)
        # genuine-shape MP4: v1 tkhd (64-bit times), extra leading boxes,
        # and a largesize (size==1) mdat — none match the synthetic layout
        tkhd_body = (b"\x01\x00\x00\x07" + bytes(16) + struct.pack(">I", 2)
                     + bytes(4) + bytes(8) + bytes(16)
                     + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0,
                                   0, 0, 0x40000000)
                     + struct.pack(">II", 1920 << 16, 1080 << 16))
        tkhd = struct.pack(">I", 8 + len(tkhd_body)) + b"tkhd" + tkhd_body
        trak = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
        mvhd = struct.pack(">I", 16) + b"mvhd" + bytes(8)
        moov = struct.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" \
            + mvhd + trak
        free = struct.pack(">I", 12) + b"free" + bytes(4)
        mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 24) \
            + bytes(8)
        mp4 = (struct.pack(">I", 20) + b"ftypisom" + bytes(8)
               + free + mdat + moov)
        assert _decode_mp4(mp4) == (1920, 1080)
        assert _decode_mp4(b"\x00" * 64) is None
        assert _decode_png(b"notapng") is None
        assert _decode_wav(b"notawav") is None


class TestPlanShape:
    def test_topk_broadcasts_queries(self, spark):
        from rdf_go_spark.operators.similarity import cosine_topk
        emb = spark.read.parquet(f"{SMOKE}/embeddings.parquet")
        plan = cosine_topk(emb)._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan

    def test_exact_dedup_is_single_shuffle(self, spark):
        from rdf_go_spark.operators.textstats import exact_dedup
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        plan = exact_dedup(docs)._jdf.queryExecution().executedPlan().toString()
        # partial + final HashAggregate around one Exchange
        assert plan.count("Exchange") <= 2
        assert "HashAggregate" in plan

    def test_simhash_pairs_plan_has_no_cartesian(self, spark):
        """Banded simhash candidates come from an equi-join on
        (band, segment); the plan must not contain a cartesian/nested-loop
        product (that was the pre-banding O(n²) shape)."""
        from rdf_go_spark.operators.dedup import simhash_pairs
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        plan = simhash_pairs(docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
            "BroadcastHashJoin" in plan

    def test_textstats_have_zero_python_stages(self, spark):
        """lang_id and token_stats are pure column expressions — the plan
        must contain no Python evaluation (BatchEvalPython / ArrowEval /
        MapInPandas / FlatMapGroupsInPandas)."""
        from rdf_go_spark.operators.textstats import lang_id, token_stats
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        for fn in (lang_id, token_stats):
            plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
            for marker in ("BatchEvalPython", "ArrowEvalPython",
                           "MapInPandas", "FlatMapGroupsInPandas"):
                assert marker not in plan, f"{fn.__name__}: {marker}"

    def test_minhash_wide_agg_single_shuffle_at_k128(self, spark):
        """Production parameters (K=128, 16 bands): the wide signature
        aggregation is still ONE shuffle — partial HashAggregate map-side,
        final after a single Exchange; plan shape independent of k.
        (plan strings truncate at 128 agg columns, so raise the debug
        field limit and count the operator header explicitly)"""
        from rdf_go_spark.operators.dedup import (
            minhash_wide_signatures, shingles,
        )
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        old = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
        spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
        try:
            sh = shingles(docs)
            base = sh._jdf.queryExecution().executedPlan().toString() \
                .count("Exchange hashpartitioning")
            wide = minhash_wide_signatures(sh, k=128)
            plan = wide._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.debug.maxToStringFields", old)
        assert plan.count("Exchange hashpartitioning") == base + 1
        assert "HashAggregate" in plan

    def test_minhash_xxhash64_family_equivalence(self, spark):
        """The production hash swap (xxhash64 behind hash_family=) keeps
        the LSH contract: precision 1.0 (verify step) and recall >= 0.7
        vs exact pairs — same floors as the portable-md5 family."""
        from rdf_go_spark.operators.dedup import (
            minhash_lsh_pairs, ngram_jaccard_pairs,
        )
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        exact = {(r.doc_a, r.doc_b)
                 for r in ngram_jaccard_pairs(docs, 0.8).collect()}
        xx = {(r.doc_a, r.doc_b)
              for r in minhash_lsh_pairs(docs, 0.8,
                                         hash_family="xxhash64").collect()}
        assert xx <= exact
        if exact:
            assert len(xx & exact) / len(exact) >= 0.7

    def test_simhash_jvm_path_bit_identical_to_pandas(self, spark):
        """hash_family='md5-jvm' computes the SAME md5-derived 60-bit token
        hash with built-ins (conv over the little-endian md5 tail) — the
        output must equal the Arrow/pandas oracle path byte-for-byte,
        including zero-token docs."""
        from rdf_go_spark.operators.dedup import simhash
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        empty = spark.createDataFrame([(999991, ""), (999992, "!!! ...")],
                                      "doc_id long, text string")
        both = docs.select("doc_id", "text").unionByName(empty)
        pandas_out = {r.doc_id: r.simhash for r in simhash(both).collect()}
        jvm_out = {r.doc_id: r.simhash
                   for r in simhash(both, hash_family="md5-jvm").collect()}
        assert pandas_out == jvm_out
        assert jvm_out[999991] == "0" * 15

    def test_simhash_xxhash64_path_has_zero_python_stages(self, spark):
        """The production SimHash is all-JVM: no Python markers in the
        plan, and the bit-vote wide agg adds exactly one shuffle."""
        from rdf_go_spark.operators.dedup import simhash, simhash_pairs
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        old = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
        spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
        try:
            plan = simhash(docs, hash_family="xxhash64") \
                ._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.debug.maxToStringFields", old)
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, marker
        assert "HashAggregate" in plan
        # and the banded pair kernel accepts the family end-to-end:
        # identical texts hash identically under ANY family (Hamming 0),
        # so exact-duplicate pairs must always be detected
        base = docs.select("doc_id", "text")
        clones = (base.orderBy("doc_id").limit(3)
                  .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
        planted = base.unionByName(clones)
        expect = {(r.doc_id, r.doc_id + 1000000)
                  for r in base.orderBy("doc_id").limit(3).collect()}
        xx = simhash_pairs(planted, hash_family="xxhash64").collect()
        ham0 = {(r.doc_a, r.doc_b) for r in xx if r.hamming == 0}
        assert expect <= ham0

    def test_pricing_summary_pushes_filter_to_scan(self, spark):
        from rdf_go_spark.plans.analytics import q_pricing_summary
        plan = q_pricing_summary(spark, SMOKE)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or \
            "LessThanOrEqual(l_shipdate" in plan

    def test_ivf_ann_recall_vs_brute_force(self, spark):
        """IVF with nprobe=3 of nlist=10 cells on unstructured embeddings:
        expect recall well above the nprobe/nlist floor and exact cosines
        (never better than brute force)."""
        from rdf_go_spark.operators.similarity import cosine_topk, ivf_ann_topk
        emb = spark.read.parquet(f"{SMOKE}/embeddings.parquet")
        brute = {(r.query_id, r.neighbor_id): r.cosine
                 for r in cosine_topk(emb, n_queries=10, k=3).collect()}
        ivf = {(r.query_id, r.neighbor_id): r.cosine
               for r in ivf_ann_topk(emb, n_queries=10, k=3).collect()}
        assert ivf
        overlap = set(ivf) & set(brute)
        assert len(overlap) / len(brute) >= 0.25
        for pair in overlap:
            assert abs(ivf[pair] - brute[pair]) < 1e-9

    def test_connected_components_vs_union_find(self, spark):
        """Iterative label propagation vs a driver-side union-find on a
        handcrafted graph with a cycle, a chain, and singleton-free pairs."""
        from rdf_go_spark.operators.components import connected_components
        edges = [(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22),
                 (22, 23), (23, 24)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.component
               for r in connected_components(df).collect()}
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}
        assert got == expected

    def test_connected_components_raises_at_iteration_cap(self, spark):
        """Labels travel one hop per round, so a 60-node path needs 60
        rounds: at the default cap of 25 the operator must raise rather
        than return a partial labelling (it used to return 35
        components); with room to converge it is one component."""
        from rdf_go_spark.operators.components import connected_components
        df = spark.createDataFrame([(i, i + 1) for i in range(59)],
                                   "src long, dst long")
        with pytest.raises(RuntimeError, match="max_iter=25"):
            connected_components(df)
        comp = connected_components(df, max_iter=64)
        assert comp.count() == 60
        assert comp.select("component").distinct().count() == 1

    def test_iteration_plans_captured_for_audit(self, spark):
        """The iterative operators record round-0's executed plan (their
        returned frames are localCheckpoint scans that hide it) — the plan
        audit's no-cartesian gate reads these; they must exist and show a
        real equi-join shape."""
        from rdf_go_spark.operators import components
        components.LAST_ITERATION_PLANS.clear()
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long")
        components.transitive_closure(edges)
        components.connected_components(edges)
        for name in ("transitive_closure", "connected_components"):
            plan = components.LAST_ITERATION_PLANS[name]
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                    or "BroadcastHashJoin" in plan), name
        # closure rounds are planned in a non-adaptive child session:
        # under AQE each round's cache nests every earlier round's plan
        assert ("AdaptiveSparkPlan"
                not in components.LAST_ITERATION_PLANS["transitive_closure"])

    def test_closure_round_width_rule(self):
        """A closure round's shuffle width holds its rows at the advisory
        partition size, clamped to [floor, cap]: small closures get the
        floor, not spark.sql.shuffle.partitions, and the width grows
        with the rows until it reaches the cap."""
        from rdf_go_spark.operators.components import _round_width
        mb = 1 << 20
        assert _round_width(0, 0.0, 64 * mb, 4, 32) == 4
        assert _round_width(27_600, 46.0, 64 * mb, 4, 32) == 4
        assert _round_width(10_000_000, 46.0, 64 * mb, 4, 32) == 7
        assert _round_width(10**12, 46.0, 64 * mb, 4, 32) == 32
        # the floor never exceeds the cap
        assert _round_width(10, 46.0, 64 * mb, 2, 2) == 2
        widths = [_round_width(r, 46.0, 64 * mb, 4, 32)
                  for r in (10**k for k in range(3, 12))]
        assert widths == sorted(widths)
        assert widths[0] == 4 and widths[-1] == 32

    def test_closure_rounds_sized_from_data(self, spark):
        """Closure rounds run without adaptive execution, so nothing
        coalesces their shuffles: a tiny closure must shuffle at the
        floor width (defaultParallelism = 4 here), not at the session's
        8 shuffle partitions."""
        import re

        from rdf_go_spark.operators import components
        components.LAST_ITERATION_PLANS.clear()
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(16)], "src long, dst long")
        assert components.transitive_closure_pairs(edges).count() == 136
        plan = components.LAST_ITERATION_PLANS["transitive_closure_pairs"]
        widths = set(re.findall(
            r"hashpartitioning\((?:src|dst)#\d+L?, (\d+)\)", plan))
        assert widths == {"4"}, plan

    @pytest.mark.parametrize("op", [
        "token_stats", "bpe_token_stats", "lang_id", "fingerprint",
        "rolling_fingerprint"])
    def test_textstats_operator_matches_oracle(self, spark, duck, op):
        """The driver entry fuses the five profile operators into one
        scan (doc_text_profile); each individual operator keeps its own
        oracle-parity check here."""
        from rdf_go_spark.operators import textstats
        docs = spark.read.parquet(f"{SMOKE}/documents.parquet")
        sdf = getattr(textstats, op)(docs)
        ddf = duck.execute(getattr(textstats, f"{op}_oracle")()).df()
        assert_frames_match(sdf, ddf)

    def test_bpe_regex_cross_engine_on_vertical_tab(self, spark):
        """Java's \\s includes \\x0B, RE2's does not — the pre-tokenizer
        spells whitespace as an explicit class so a document containing a
        vertical tab pre-tokenizes identically in Spark and DuckDB."""
        import duckdb as _duckdb

        from rdf_go_spark.operators import textstats
        rows = [(0, "hello\x0bworld it's 42!"),
                (1, "a\x0b\x0b b\tc\n d"), (2, "\x0b"), (3, "plain text")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sdf = textstats.bpe_token_stats(docs)
        con = _duckdb.connect()
        con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        ddf = con.execute(textstats.bpe_token_stats_oracle()).df()
        assert_frames_match(sdf, ddf)
