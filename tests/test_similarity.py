"""Similarity search + near-dedup operator tests.

Covers what the oracle harness cannot: LSH recall against the brute-force
baseline, behavior on constructed corpora with known near-duplicates, and
plan-shape assertions (no unblocked cartesian product in any scale-path
operator).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_flight_sql_server_spark.engine.registry import register_memtable
from datafusion_flight_sql_server_spark.operators.dedup import (
    embed_cosine_near_dups,
    minhash_near_dups,
    minhash_params,
)
from datafusion_flight_sql_server_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    projection_tables,
    self_knn_topk,
)

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def embeddings(spark):
    from datafusion_flight_sql_server_spark.queries.catalog import tables

    return tables(spark, SF_SMALL)["embeddings"]


@pytest.fixture(scope="module")
def documents(spark):
    from datafusion_flight_sql_server_spark.queries.catalog import tables

    return tables(spark, SF_SMALL)["documents"]


class TestBruteForceTopK:
    def test_shape_and_rank(self, embeddings):
        out = brute_force_topk(
            embeddings, embeddings.filter(F.col("vec_id") < 4), k=5
        ).collect()
        assert len(out) == 4 * 5
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
            sims = [r.sim for r in rows]
            assert sims == sorted(sims, reverse=True)
            assert all(r.neighbor_id != q for r in rows)

    def test_finds_planted_neighbor(self, spark):
        # a vector and its near-copy must be mutual rank-1 neighbors
        base = [float(i % 7) - 3.0 for i in range(8)]
        near = [x + (0.01 if i == 0 else 0.0) for i, x in enumerate(base)]
        far1 = [float((i * 3) % 5) - 2.0 for i in range(8)]
        far2 = [-x for x in base]
        df = spark.createDataFrame(
            [(0, base), (1, near), (2, far1), (3, far2)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        out = brute_force_topk(df, df.filter(F.col("vec_id") < 2), k=1).collect()
        top = {r.query_id: r.neighbor_id for r in out}
        assert top == {0: 1, 1: 0}

    def test_oversized_query_side_rejected(self, spark):
        # the query side is collected to the driver; passing a big frame
        # must raise (pointing at lsh/ivf), never OOM the driver
        df = spark.range(10).selectExpr(
            "id AS vec_id", "array(cast(id as float)) AS embedding"
        )
        with pytest.raises(ValueError, match="max_query_rows"):
            brute_force_topk(df, df, k=1, max_query_rows=5)


class TestSelfKnnTopK:
    def test_matches_generic_brute_force(self, embeddings):
        # the self-kNN specialization must be result-identical to the
        # generic two-stage form with the corpus as its own query side —
        # same exact JVM re-rank, same (sim desc, neighbor_id) tie-break
        exact = brute_force_topk(embeddings, embeddings, k=5).collect()
        self_ = self_knn_topk(embeddings, k=5).collect()
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        exact_m = {key(r): (r.neighbor_id, r.sim) for r in exact}
        self_m = {key(r): (r.neighbor_id, r.sim) for r in self_}
        assert exact_m == self_m

    def test_oversized_corpus_rejected(self, spark):
        df = spark.range(10).selectExpr(
            "id AS vec_id", "array(cast(id as float)) AS embedding"
        )
        with pytest.raises(ValueError, match="max_corpus_rows"):
            self_knn_topk(df, k=1, max_corpus_rows=5)

    def test_mass_ties_pick_lowest_ids(self, spark):
        # 30 identical embeddings: every pair ties at rounded sim 1.0, far
        # past the candidate margin — stage 1 must rank ties by id (the
        # stage-2 order), not by arbitrary float order (round-5 review bug)
        df = spark.createDataFrame(
            [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        out = self_knn_topk(df, k=5).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            want = [i for i in range(30) if i != q][:5]
            assert [r.neighbor_id for r in rows] == want, f"query {q}"
        # and the generic form under the same ties
        out2 = brute_force_topk(df, df.filter(F.col("vec_id") < 2), k=5)
        got = {}
        for r in out2.collect():
            got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        assert sorted(got[0]) == [(i, i) for i in range(1, 6)]
        assert sorted(got[1]) == [(1, 0), (2, 2), (3, 3), (4, 4), (5, 5)]

    def test_masked_entries_do_not_evict_candidates(self, spark):
        # Round-6 regression (ADVICE high): the int64.min mask sentinel
        # negated to itself under np.argpartition(-keys, ...), so NaN /
        # self-match entries ranked as the BEST candidates and silently
        # evicted true neighbors whenever masked entries per query reached
        # k + candidate_margin.
        nan = float("nan")
        rows = [(i, [float(i + 1), 1.0, 0.0, 0.0]) for i in range(5)]
        rows += [(i, [nan, nan, nan, nan]) for i in range(5, 8)]
        df = spark.createDataFrame(
            rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
        ).coalesce(1)
        # self-kNN: per query masked = self + 3 NaN = 4 = k + margin
        out = self_knn_topk(df, k=3, candidate_margin=1)
        by_q = {}
        for r in out.collect():
            by_q.setdefault(r.query_id, []).append(r.neighbor_id)
        for q in range(5):
            assert len(by_q.get(q, [])) == 3, f"query {q} lost candidates"
        # generic brute force: masked count (4) == m == k + margin
        out2 = brute_force_topk(
            df, df.filter(F.col("vec_id") == 0), k=4, candidate_margin=0
        ).collect()
        assert sorted(r.neighbor_id for r in out2) == [1, 2, 3, 4]

    def test_null_embedding_clear_error(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        with pytest.raises(ValueError, match="null vector"):
            self_knn_topk(df, k=1)

    def test_ragged_embedding_clear_error(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [3.0]), (2, [3.0, 4.0])],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        with pytest.raises(ValueError, match="ragged"):
            self_knn_topk(df, k=1)

    def test_empty_corpus(self, spark):
        df = spark.createDataFrame(
            [], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
        assert self_knn_topk(df, k=3).count() == 0


class TestLshTopK:
    def test_recall_vs_brute_force(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") < 8)
        exact = brute_force_topk(embeddings, queries, k=5).collect()
        approx = lsh_topk(embeddings, queries, k=5).collect()
        exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
        approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        # deterministic given the md5-seeded hyperplanes; random 64-d data is
        # the worst case for LSH, so the bar is recall floor, not equality
        assert recall >= 0.25, f"LSH recall collapsed: {recall}"
        # every result must still be a real (non-self) scored candidate
        assert all(r.query_id != r.neighbor_id for r in approx)

    def test_projections_deterministic(self):
        a = projection_tables(dim=4, n_tables=2, n_bits=3, seed=7)
        b = projection_tables(dim=4, n_tables=2, n_bits=3, seed=7)
        assert a == b
        assert projection_tables(dim=4, n_tables=2, n_bits=3, seed=8) != a

    def test_no_cartesian_product_in_plan(self, embeddings):
        plan = lsh_topk(
            embeddings, embeddings.filter(F.col("vec_id") < 8), k=5
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestMinhashNearDup:
    def test_finds_planted_corpus_pairs(self, documents, duck):
        """The synthetic corpus has planted near-dup pairs; LSH+verify must
        recover the same set a brute-force jaccard scan finds (deterministic
        given the fixed md5-derived constants)."""
        found = {
            (r.doc_a, r.doc_b)
            for r in minhash_near_dups(documents, threshold=0.3).collect()
        }
        brute = duck.execute(
            """
            WITH toks AS (SELECT doc_id, string_split(lower(text),' ') AS w
                          FROM documents),
            sh AS (SELECT doc_id,
                     CASE WHEN len(w) >= 3
                          THEN list_distinct(list_transform(range(1, len(w)-1),
                               i -> array_to_string(w[i:i+2], ' ')))
                          ELSE [array_to_string(w, ' ')] END AS s
                   FROM toks)
            SELECT a.doc_id, b.doc_id
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s,b.s))::DOUBLE
                  / len(list_distinct(a.s || b.s)) >= 0.3
            """
        ).fetchall()
        brute_pairs = set(map(tuple, brute))
        assert brute_pairs, "fixture corpus should contain near-dup pairs"
        recall = len(found & brute_pairs) / len(brute_pairs)
        # planted pairs have jaccard >= 0.3; with 4 bands x 4 rows the
        # high-jaccard ones (the planted set is ~0.9+) band-collide reliably
        assert recall >= 0.9, f"minhash recall {recall} over {len(brute_pairs)} pairs"
        assert found <= brute_pairs  # verification step admits no false pair

    def test_constructed_near_dups(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog while the sun sets "
            "slowly behind the tall mountains and the river flows gently "
            "through the quiet green valley toward the distant sea shore"
        )
        docs = [
            (1, base),
            (2, base.replace("dog", "cat")),
            (3, "completely unrelated text about spark distributed execution"),
            (4, base),
        ]
        df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_near_dups(df, threshold=0.3).collect()
        }
        assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
        assert (1, 2) in pairs and 0.3 <= pairs[(1, 2)] < 1.0  # near dup
        assert not any(3 in p for p in pairs)  # unrelated never pairs

    def test_params_deterministic(self):
        assert minhash_params(8, seed=1) == minhash_params(8, seed=1)
        assert minhash_params(8, seed=1) != minhash_params(8, seed=2)

    def test_no_cartesian_product_in_plan(self, documents):
        plan = (
            minhash_near_dups(documents)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestNgramJaccardNullText:
    def test_null_text_docs_still_pair_after_prefix_filter(self, spark):
        """Code-review round 10: the prefix-filter rewrite's plain
        equi-joins on "gram" dropped NULL-text docs (gram = NULL never
        equi-matches), losing the jaccard-1.0 pairs the pre-rewrite
        all-pairs join reported — a silent break of the LOSSLESS
        contract. The gram joins are now null-safe."""
        from datafusion_flight_sql_server_spark.operators.dedup import (
            ngram_jaccard_near_dups,
        )

        base = "abcdefghijklmnopqrstuvwxyz abcdefghijklmnopqrstuvwxyz"
        docs = [
            (1, base, "en", len(base)),
            (2, base, "en", len(base)),
            (3, None, "en", 0),
            (4, None, "en", 0),
            (5, base, None, len(base)),  # NULL lang never pairs (both impls)
            (6, base, None, len(base)),
        ]
        df = spark.createDataFrame(
            docs, "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT"
        )
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_near_dups(df).collect()
        }
        assert pairs.get((1, 2)) == 1.0
        assert pairs.get((3, 4)) == 1.0  # the pre-rewrite behavior
        assert not any(5 in p or 6 in p for p in pairs)


class TestEmbedCosineNearDup:
    def test_blocked_pairs_only(self, embeddings):
        out = embed_cosine_near_dups(embeddings, threshold=0.25).collect()
        labels = {
            r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()
        }
        for r in out:
            assert r.vec_a < r.vec_b
            assert labels[r.vec_a] == labels[r.vec_b]  # candidates share block
            assert r.sim >= 0.25

    def test_no_cartesian_product_in_plan(self, embeddings):
        plan = (
            embed_cosine_near_dups(embeddings)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestIvfTopK:
    def test_recall_vs_brute_force(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") < 8)
        exact = brute_force_topk(embeddings, queries, k=5).collect()
        approx = ivf_topk(embeddings, queries, k=5).collect()
        exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
        approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        # seed-vector quantizer on random 64-d data measured ~0.9 at the
        # fixture SF; floor set well below to keep the test SF-robust
        assert recall >= 0.5, f"IVF recall collapsed: {recall}"
        assert all(r.query_id != r.neighbor_id for r in approx)

    def test_deterministic_across_runs(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, ivf_topk(embeddings, queries, k=3).collect()))
        b = sorted(map(tuple, ivf_topk(embeddings, queries, k=3).collect()))
        assert a == b

    def test_trained_quantizer_recall_not_worse(self, embeddings):
        # 2 Lloyd steps must not lose recall vs the seed-only quantizer
        # (on random data the gain is modest; the floor pins no-regression)
        queries = embeddings.filter(F.col("vec_id") < 8)
        exact = {(r.query_id, r.neighbor_id)
                 for r in brute_force_topk(embeddings, queries, k=5).collect()}
        seed = {(r.query_id, r.neighbor_id)
                for r in ivf_topk(embeddings, queries, k=5).collect()}
        trained = {(r.query_id, r.neighbor_id)
                   for r in ivf_topk(embeddings, queries, k=5,
                                     train_iters=2).collect()}
        recall_seed = len(exact & seed) / len(exact)
        recall_trained = len(exact & trained) / len(exact)
        assert recall_trained >= recall_seed - 0.1, (
            f"training regressed recall: {recall_seed} -> {recall_trained}"
        )

    def test_trained_quantizer_cache_contract(self, embeddings):
        # Round 6 (VERDICT r5 #2): train-once semantics — same
        # (corpus key, constants) returns the SAME trained-centroid
        # DataFrame; different constants or the untrained seed path don't.
        from datafusion_flight_sql_server_spark.operators.similarity import (
            clear_centroid_cache,
            train_cells,
        )

        clear_centroid_cache()
        try:
            key = ("quant-test", "embeddings")
            c1 = train_cells(
                embeddings, n_cells=16, train_iters=2, dim=64, cache_key=key
            )
            c2 = train_cells(
                embeddings, n_cells=16, train_iters=2, dim=64, cache_key=key
            )
            assert c1 is c2
            c3 = train_cells(
                embeddings, n_cells=16, train_iters=1, dim=64, cache_key=key
            )
            assert c3 is not c1
            # the untrained seed path is one cheap filter — never cached
            s1 = train_cells(embeddings, n_cells=16, cache_key=key)
            s2 = train_cells(embeddings, n_cells=16, cache_key=key)
            assert s1 is not s2
        finally:
            clear_centroid_cache()

    def test_concurrent_training_single_entry(self, embeddings):
        # Round 8 (VERDICT r7 #7): racing threads must share ONE trained
        # quantizer — the cache trains each key once.
        import threading

        from datafusion_flight_sql_server_spark.operators.similarity import (
            _CENTROIDS,
            clear_centroid_cache,
            train_cells,
        )

        clear_centroid_cache()
        results: list = []
        errors: list = []
        barrier = threading.Barrier(4)

        def go():
            try:
                barrier.wait()
                results.append(
                    train_cells(
                        embeddings, n_cells=16, train_iters=1, dim=64,
                        cache_key=("race", "embeddings"),
                    )
                )
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        threads = [threading.Thread(target=go) for _ in range(4)]
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(120)
            assert not errors
            assert len(results) == 4
            assert len({id(r) for r in results}) == 1
            assert len(_CENTROIDS) == 1
        finally:
            clear_centroid_cache()

    def test_unrelated_keys_not_blocked_by_training(self, embeddings):
        # ADVICE r8: the cache lock guards the MAP, not the training —
        # a cache HIT of key B must return while key A's (slow) training
        # is still in flight; same-key callers wait for that training.
        import threading
        import time

        from datafusion_flight_sql_server_spark.operators import similarity
        from datafusion_flight_sql_server_spark.operators.similarity import (
            clear_centroid_cache,
            train_cells,
        )

        clear_centroid_cache()
        # warm key B so its lookup is a pure hit
        kb = ("lockfree-b", "embeddings")
        warm = train_cells(
            embeddings, n_cells=16, train_iters=1, dim=64, cache_key=kb
        )
        in_training = threading.Event()
        release = threading.Event()
        real_build = similarity._train_cells_build

        def slow_build(*a, **kw):
            in_training.set()
            assert release.wait(60), "test orchestration stalled"
            return real_build(*a, **kw)

        hit_done = threading.Event()
        hit_result: list = []
        errors: list = []

        def train_a():
            try:
                train_cells(
                    embeddings, n_cells=16, train_iters=1, dim=64,
                    cache_key=("lockfree-a", "embeddings"),
                )
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        def hit_b():
            try:
                in_training.wait(60)
                hit_result.append(
                    train_cells(
                        embeddings, n_cells=16, train_iters=1, dim=64,
                        cache_key=kb,
                    )
                )
                hit_done.set()
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        similarity._train_cells_build = slow_build
        ta = threading.Thread(target=train_a)
        tb = threading.Thread(target=hit_b)
        try:
            ta.start()
            tb.start()
            # the key-B hit must complete WHILE key A is still training
            assert hit_done.wait(30), (
                "cache hit blocked behind an unrelated in-flight training"
            )
            assert hit_result[0] is warm
            assert not release.is_set()  # A really was still in flight
        finally:
            release.set()
            similarity._train_cells_build = real_build
            ta.join(120)
            tb.join(120)
            clear_centroid_cache()
        assert not errors

    def test_same_key_wait_is_bounded(self, embeddings, monkeypatch):
        # ROADMAP D: a hung training must not stall every caller of the
        # same key forever — the wait runs out with a TimeoutError that
        # names the key
        import threading

        from datafusion_flight_sql_server_spark.engine import cache
        from datafusion_flight_sql_server_spark.operators import similarity

        started, release = threading.Event(), threading.Event()
        real_build = similarity._train_cells_build

        def hung_build(*a, **kw):
            started.set()
            assert release.wait(60), "test orchestration stalled"
            return real_build(*a, **kw)

        kw = dict(
            n_cells=16, train_iters=1, dim=64, cache_key=("hung", "embeddings")
        )
        similarity.clear_centroid_cache()
        monkeypatch.setattr(similarity, "_train_cells_build", hung_build)
        monkeypatch.setattr(cache, "WAIT_TIMEOUT_S", 0.2)
        trainer = threading.Thread(
            target=similarity.train_cells, args=(embeddings,), kwargs=kw
        )
        trainer.start()
        try:
            assert started.wait(60)
            with pytest.raises(TimeoutError, match="hung"):
                similarity.train_cells(embeddings, **kw)
        finally:
            release.set()
            trainer.join(120)
            similarity.clear_centroid_cache()
        assert not trainer.is_alive()

    def test_trained_deterministic_across_runs(self, embeddings):
        queries = embeddings.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple,
                       ivf_topk(embeddings, queries, k=3, train_iters=2).collect()))
        b = sorted(map(tuple,
                       ivf_topk(embeddings, queries, k=3, train_iters=2).collect()))
        assert a == b

    def test_no_cartesian_product_in_plan(self, embeddings):
        plan = (
            ivf_topk(embeddings, embeddings.filter(F.col("vec_id") < 2))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestPqTopK:
    def test_recall_vs_brute_force(self, embeddings):
        from datafusion_flight_sql_server_spark.operators.similarity import (
            pq_topk,
        )

        queries = embeddings.filter(F.col("vec_id") < 8)
        exact = brute_force_topk(embeddings, queries, k=5).collect()
        approx = pq_topk(embeddings, queries, k=5).collect()
        exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
        approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
        recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
        # 4x8 codebooks on random 64-d data are coarse; the 20-candidate
        # exact re-rank recovers most of the loss — floor pins collapse
        assert recall >= 0.25, f"PQ recall collapsed: {recall}"
        assert all(r.query_id != r.neighbor_id for r in approx)

    def test_deterministic_across_runs(self, embeddings):
        from datafusion_flight_sql_server_spark.operators.similarity import (
            pq_topk,
        )

        queries = embeddings.filter(F.col("vec_id") < 3)
        a = sorted(map(tuple, pq_topk(embeddings, queries, k=3).collect()))
        b = sorted(map(tuple, pq_topk(embeddings, queries, k=3).collect()))
        assert a == b

    def test_codes_compress_the_corpus(self, embeddings):
        # the ADC input must be m codes per vector, never raw vectors:
        # encode 500 x 64 floats -> 500 x 4 small ints
        from datafusion_flight_sql_server_spark.operators.similarity import (
            pq_topk,
        )

        df = pq_topk(embeddings, embeddings.filter(F.col("vec_id") < 2), k=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan

    def test_dim_not_divisible_rejected(self, embeddings):
        from datafusion_flight_sql_server_spark.operators.similarity import (
            pq_topk,
        )

        with pytest.raises(ValueError, match="not divisible"):
            pq_topk(embeddings, embeddings.limit(1), k=3, m=5, dim=64)


class TestSemanticDedup:
    def test_constructed_duplicate_group(self, spark):
        # three near-identical vectors + one orthogonal: the keep rule
        # retains exactly one of the duplicate group (the least-centroid-
        # similar, id tie-break) and the orthogonal singleton
        from datafusion_flight_sql_server_spark.operators.similarity import (
            semantic_dedup,
        )

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(emb, eps=0.99, n_cells=2, train_iters=0).collect()
        by_id = {r.vec_id: r for r in out}
        assert len(out) == 4
        # ids 0,1,2 are mutual dups in the same cell; exactly one survives
        dup_kept = [i for i in (0, 1, 2) if by_id[i].kept]
        assert len(dup_kept) == 1
        assert by_id[3].kept  # singleton always kept
        # every cell retains at least one representative
        cells = {r.cell for r in out}
        assert all(any(r.kept and r.cell == c for r in out) for c in cells)

    def test_full_corpus_invariants(self, embeddings):
        from datafusion_flight_sql_server_spark.operators.similarity import (
            semantic_dedup,
        )

        out = semantic_dedup(embeddings, eps=0.3, train_iters=2, dim=64).collect()
        assert len(out) == embeddings.count()
        # the lowest-(cs, id) vector of every cell is un-droppable
        import collections

        best = {}
        for r in out:
            k = (r.cs_micros, r.vec_id)
            if r.cell not in best or k < best[r.cell][0]:
                best[r.cell] = (k, r.kept)
        assert all(kept for _, kept in best.values())

    def test_no_cartesian_product_in_plan(self, embeddings):
        from datafusion_flight_sql_server_spark.operators.similarity import (
            semantic_dedup,
        )

        df = semantic_dedup(embeddings, eps=0.3, train_iters=2, dim=64)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        # the only nested loops are the tiny broadcast centroid spines
        # (2 train steps + 1 assignment); the pair join is cell-blocked
        assert plan.count("BroadcastNestedLoopJoin") <= 3
