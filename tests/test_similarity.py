"""Similarity-search tests: exact top-k correctness on a constructed
corpus, LSH recall against the exact baseline on real testdata."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row

from dbm_nca_ph_etl_spark.operators.similarity import cosine_topk, lsh_bucket_topk


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),   # closest to 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),   # orthogonal
        Row(vec_id=3, embedding=[0.7, 0.7, 0.0]),   # diagonal
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors, vectors.where("vec_id = 0"), k=3).collect()
    got = [(r.neighbor_id, r.cos_sim, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert [g[0] for g in got] == [1, 3, 2]
    assert got[0][1] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert got[1][1] == pytest.approx(0.7 / math.sqrt(0.98), abs=1e-6)
    assert got[2][1] == 0.0


def test_cosine_topk_excludes_self(vectors):
    out = cosine_topk(vectors, vectors, k=4)
    assert out.where("query_id = neighbor_id").count() == 0
    assert out.groupBy("query_id").count().where("count != 4").count() == 0


def test_lsh_recall_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 5")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in lsh_bucket_topk(emb, queries, k=10, num_planes=4, num_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # approximate by design; 8 tables x 4 planes on 64-dim
    # random-ish embeddings should recover a solid fraction
    assert recall >= 0.3, f"recall {recall}"
    # everything LSH returns must be a genuine vector pair (sanity)
    assert all(q != n for q, n in approx)


def test_ivf_full_probe_equals_exact(spark, sf_dir):
    """n_probe == n_centroids degrades IVF to brute force — results
    must match cosine_topk exactly (same rounding + tiebreaks)."""
    from dbm_nca_ph_etl_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 5")
    exact = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in cosine_topk(emb, queries, k=5).collect()
    )
    full_probe = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).collect()
    )
    assert exact == full_probe


def test_ivf_partial_probe_subset(spark, sf_dir):
    """Partial probing returns plausible neighbors: every result pair
    is a real corpus pair and per-query result count is ≤ k."""
    from dbm_nca_ph_etl_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ivf_topk(emb, emb.where("vec_id < 5"), k=5, n_centroids=8, n_probe=2)
    counts = {r.query_id: r["count"] for r in out.groupBy("query_id").count().collect()}
    assert counts and all(c <= 5 for c in counts.values())


def test_near_dup_lsh_precision_and_recall(spark, sf_dir):
    """LSH near-dup pairs ⊆ exact pairs (precision 1.0 — false
    positives are filtered by the exact cosine check)."""
    from dbm_nca_ph_etl_spark.operators.similarity import (
        cosine_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_near_dup_pairs(emb, threshold=0.3).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos_sim
        for r in lsh_near_dup_pairs(emb, threshold=0.3).collect()
    }
    assert set(approx) <= set(exact)
    for pair, sim in approx.items():
        assert sim == exact[pair]
    if exact:
        assert len(approx) / len(exact) >= 0.2, (len(approx), len(exact))


def test_kmeans_objective_monotone_and_unit_centroids(spark, sf_dir):
    """Lloyd guarantee: the assignment objective (mean best-cosine)
    never decreases across iterations; spherical centroids stay unit."""
    from dbm_nca_ph_etl_spark.operators.similarity import kmeans_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents, objs = kmeans_train(emb, k=8, iters=4)
    assert len(objs) == 4
    for prev, nxt in zip(objs, objs[1:]):
        assert nxt >= prev - 1e-9, objs
    for c in cents:
        assert abs(sum(x * x for x in c) ** 0.5 - 1.0) < 1e-9


def test_trained_ivf_full_probe_equals_exact(spark, sf_dir):
    """A trained codebook changes the cells, not the math: full probe
    must still reproduce brute force exactly."""
    from dbm_nca_ph_etl_spark.operators.similarity import ivf_topk, kmeans_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 5")
    cents, _ = kmeans_train(emb, k=8, iters=2)
    exact = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in cosine_topk(emb, queries, k=5).collect()
    )
    trained = sorted(
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in ivf_topk(
            emb, queries, k=5, n_probe=8, centroids=cents
        ).collect()
    )
    assert exact == trained


class TestLshIndexPersistence:
    def test_prebuilt_index_matches_inline(self, spark, sf_dir, tmp_path):
        """build once → read back → identical pairs to the inline
        signing path (same seed ⇒ same planes ⇒ same buckets), with
        no re-signing of the corpus at query time."""
        from dbm_nca_ph_etl_spark.operators.similarity import (
            build_lsh_index,
            load_lsh_index,
            lsh_near_dup_pairs,
        )
        from dbm_nca_ph_etl_spark.sources.catalog import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        idx_path = str(tmp_path / "lsh_idx")
        build_lsh_index(emb, idx_path)
        signed, meta = load_lsh_index(spark, idx_path)
        assert meta["seed"] == 42 and meta["num_tables"] == 6

        via_index = lsh_near_dup_pairs(
            emb,
            threshold=0.4,
            num_tables=meta["num_tables"],
            num_planes=meta["num_planes"],
            dim=meta["dim"],
            seed=meta["seed"],
            signed=signed,
        )
        inline = lsh_near_dup_pairs(emb, threshold=0.4)
        key = lambda r: (r.id_a, r.id_b)
        assert sorted(map(key, via_index.collect())) == sorted(
            map(key, inline.collect())
        )


class TestProductQuantization:
    def test_train_deterministic_and_shaped(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import pq_train

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        b1 = pq_train(emb, m=8, k=4, iters=3)
        b2 = pq_train(emb, m=8, k=4, iters=3)
        assert b1 == b2, "pq_train must be run-to-run deterministic"
        assert len(b1) == 8 and all(len(b) == 4 for b in b1)
        assert all(len(c) == 8 for b in b1 for c in b)  # d_sub = 64/8

    def test_train_rejects_indivisible_dim(self, spark, sf_dir):
        import pytest

        from dbm_nca_ph_etl_spark.operators.similarity import pq_train

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="divisible"):
            pq_train(emb, m=7, dim=64)

    def test_encode_codes_in_range(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from dbm_nca_ph_etl_spark.operators.similarity import pq_encode, pq_train

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        books = pq_train(emb, m=8, k=4, iters=2)
        enc = pq_encode(emb, books)
        bad = enc.where(
            F.exists("_codes", lambda c: (c < 0) | (c >= 4)) | (F.col("_rn2") <= 0)
        ).count()
        assert bad == 0
        assert enc.head()["_codes"].__len__() == 8

    def test_adc_exact_on_representable_vectors(self, spark):
        """Vectors that ARE concatenations of codebook centroids
        reconstruct losslessly — ADC cosine must equal the exact
        cosine to rounding."""
        from pyspark.sql import Row
        from dbm_nca_ph_etl_spark.operators.similarity import cosine_topk, pq_topk

        # dim=4, m=2 (d_sub=2), k=2 codebooks, hand-chosen
        books = [
            [[1.0, 0.0], [0.0, 2.0]],
            [[3.0, 0.0], [0.0, 4.0]],
        ]
        rows = [
            Row(vec_id=0, embedding=[1.0, 0.0, 3.0, 0.0]),  # codes (0,0)
            Row(vec_id=1, embedding=[0.0, 2.0, 3.0, 0.0]),  # codes (1,0)
            Row(vec_id=2, embedding=[0.0, 2.0, 0.0, 4.0]),  # codes (1,1)
            Row(vec_id=3, embedding=[1.0, 0.0, 0.0, 4.0]),  # codes (0,1)
        ]
        df = spark.createDataFrame(rows)
        q = df.where("vec_id = 0")
        adc = {
            r.neighbor_id: r.cos_sim for r in pq_topk(df, q, books, k=3).collect()
        }
        exact = {
            r.neighbor_id: r.cos_sim for r in cosine_topk(df, q, k=3).collect()
        }
        assert adc == exact, (adc, exact)

    def test_recall_on_testdata_and_vs_persisted_encode(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import (
            cosine_topk,
            pq_encode,
            pq_topk,
            pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 5")
        books = pq_train(emb, m=32, k=16, iters=10)
        appr = pq_topk(emb, q, books, k=10)
        got = {(r.query_id, r.neighbor_id) for r in appr.collect()}
        exact = {
            (r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=10).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= 0.2, f"recall {recall}"
        assert all(a != b for a, b in got)
        # a persisted encode must reproduce the inline path exactly
        enc = pq_encode(emb, books).localCheckpoint()
        via_index = {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in pq_topk(emb, q, books, k=10, encoded=enc).collect()
        }
        inline = {(r.query_id, r.neighbor_id, r.cos_sim) for r in appr.collect()}
        assert via_index == inline


class TestIvfPq:
    def test_full_probe_equals_pq_only(self, spark, sf_dir):
        """n_probe == n_centroids degrades IVF-PQ to plain PQ ADC —
        the candidate set is the whole corpus, scores identical."""
        from dbm_nca_ph_etl_spark.operators.similarity import (
            ivfpq_topk,
            pq_topk,
            pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 3")
        books = pq_train(emb, m=8, k=8, iters=4)
        full = {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in ivfpq_topk(
                emb, q, books, k=5, n_centroids=8, n_probe=8
            ).collect()
        }
        plain = {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in pq_topk(emb, q, books, k=5).collect()
        }
        assert full == plain

    def test_partial_probe_subset_and_recall(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import (
            cosine_topk,
            ivfpq_topk,
            pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 5")
        books = pq_train(emb, m=32, k=16, iters=10)
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivfpq_topk(
                emb, q, books, k=10, n_centroids=16, n_probe=8
            ).collect()
        }
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(emb, q, k=10).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= 0.15, f"recall {recall}"
        assert all(a != b for a, b in got)

    def test_persisted_encode_matches_inline(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import (
            _centroids,
            ivfpq_encode,
            ivfpq_topk,
            pq_train,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 3")
        books = pq_train(emb, m=8, k=8, iters=4)
        cents = _centroids(8, 64, 42)
        enc = ivfpq_encode(emb, books, cents).localCheckpoint()
        via = {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in ivfpq_topk(
                emb, q, books, k=5, n_centroids=8, n_probe=4,
                centroids=cents, encoded=enc,
            ).collect()
        }
        inline = {
            (r.query_id, r.neighbor_id, r.cos_sim)
            for r in ivfpq_topk(
                emb, q, books, k=5, n_centroids=8, n_probe=4, centroids=cents
            ).collect()
        }
        assert via == inline


class TestMmrRerank:
    def test_diversity_beats_pure_relevance(self, spark):
        """Three near-identical top candidates + one distinct: pure
        top-2 takes two clones; MMR's second pick is the distinct
        vector."""
        from dbm_nca_ph_etl_spark.operators.similarity import mmr_rerank

        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),          # query
            (1, [0.99, 0.14, 0.0, 0.0]),        # clone A (most relevant)
            (2, [0.99, 0.141, 0.0, 0.0]),       # clone B
            (3, [0.7, 0.0, 0.71, 0.0]),         # distinct, less relevant
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.where("vec_id = 0")
        got = {
            r.pick: r.neighbor_id
            for r in mmr_rerank(df, q, k=2, n_cand=3).collect()
        }
        assert got[1] == 1       # relevance first
        assert got[2] == 3       # diversity second — not clone B

    def test_lambda_one_is_pure_relevance(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import (
            cosine_topk,
            mmr_rerank,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 3")
        got = {
            (r.query_id, r.pick): r.neighbor_id
            for r in mmr_rerank(emb, q, k=5, n_cand=10, lam_num=1, lam_den=1).collect()
        }
        want = {
            (r.query_id, r.rank): r.neighbor_id
            for r in cosine_topk(emb, q, k=5).collect()
        }
        assert got == want

    def test_k_guard(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import mmr_rerank

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        import pytest as _pt

        with _pt.raises(ValueError, match="k must be"):
            mmr_rerank(emb, emb.where("vec_id < 2"), k=0)

    @pytest.mark.parametrize("lam_num,lam_den", [(1, 0), (0, 0), (3, 2), (-1, 2)])
    def test_lambda_guard(self, spark, sf_dir, lam_num, lam_den):
        """λ outside [0, 1] (or a zero denominator) would flip or
        zero the redundancy penalty — lam_den=0, lam_num=1 scores
        rel + max_sim and picks the MOST redundant candidate."""
        from dbm_nca_ph_etl_spark.operators.similarity import mmr_rerank

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="lam_den"):
            mmr_rerank(
                emb, emb.where("vec_id < 2"), lam_num=lam_num, lam_den=lam_den
            )

    @pytest.mark.parametrize(
        "k,n_cand,lam",
        [(3, 6, (1, 2)), (6, 4, (1, 2)), (5, 8, (0, 1)), (4, 8, (2, 3))],
        ids=["k3-n6-half", "k6-n4-half", "k5-n8-zero", "k4-n8-two-thirds"],
    )
    def test_matches_python_greedy(self, spark, k, n_cand, lam):
        """Against a plain-Python greedy MMR with the operator's
        integer micro-unit scores (HALF_UP rounding, as Spark's
        ``round``) and lowest-id tie rule. Small integer coordinates
        plus copied vectors make score ties common; the reference
        counts the ties it broke by id, so the case provably covers
        the tie rule."""
        import random
        from decimal import ROUND_HALF_UP, Decimal

        from dbm_nca_ph_etl_spark.operators.similarity import mmr_rerank

        def half_up(x, places):
            q = Decimal(1).scaleb(-places)
            return Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)

        def fold(a, b):  # left to right, as the operator's aggregate
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        def e6_cos(a, b):
            cos = fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
            return int(half_up(float(half_up(cos, 6)) * 1e6, 0))

        rnd = random.Random(7)
        vecs = {}
        for i in range(16):
            v = [0] * 4
            while not any(v):
                v = [rnd.randint(-3, 3) for _ in range(4)]
            vecs[i] = [float(x) for x in v]
        for j, src in enumerate([0, 0, 1, 3, 3, 5, 8]):  # duplicates
            vecs[16 + j] = list(vecs[src])
        lam_num, lam_den = lam

        def greedy(qid):
            rel = {
                c: e6_cos(vecs[qid], v) for c, v in vecs.items() if c != qid
            }
            cands = sorted(rel, key=lambda c: (-rel[c], c))[:n_cand]
            sel, ties = [], 0
            while len(sel) < min(k, len(cands)):
                def score(c):
                    if not sel:
                        return rel[c]
                    ms = max(e6_cos(vecs[c], vecs[s]) for s in sel)
                    return lam_num * rel[c] - (lam_den - lam_num) * ms
                scores = {c: score(c) for c in cands if c not in sel}
                best = max(scores.values())
                top = [c for c, s in scores.items() if s == best]
                ties += len(top) > 1
                sel.append(min(top))
            return sel, ties

        df = spark.createDataFrame(
            sorted(vecs.items()), "vec_id long, embedding array<double>"
        )
        qids = [0, 3, 9]
        want, ties = {}, 0
        for qid in qids:
            sel, t = greedy(qid)
            ties += t
            want.update({(qid, p + 1): c for p, c in enumerate(sel)})
        got = {
            (r.query_id, r.pick): r.neighbor_id
            for r in mmr_rerank(
                df,
                df.where(f"vec_id IN ({', '.join(map(str, qids))})"),
                k=k,
                n_cand=n_cand,
                lam_num=lam_num,
                lam_den=lam_den,
            ).collect()
        }
        assert ties > 0
        assert len(want) == len(qids) * min(k, n_cand)
        assert got == want

    def test_plan_size_independent_of_k(self, spark, sf_dir):
        """The greedy loop runs inside one grouped expression, so a
        deeper k adds no plan nodes."""
        from dbm_nca_ph_etl_spark.operators.similarity import mmr_rerank

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 4")

        def plan_lines(k):
            df = mmr_rerank(emb, q, k=k, n_cand=8)
            return len(df._jdf.queryExecution().executedPlan().toString().splitlines())

        assert plan_lines(2) == plan_lines(4)

    def test_picks_distinct_and_complete(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import mmr_rerank

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where("vec_id < 4")
        rows = mmr_rerank(emb, q, k=5, n_cand=12).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append((r.pick, r.neighbor_id))
        for qid, picks in per_q.items():
            assert sorted(p for p, _ in picks) == [1, 2, 3, 4, 5]
            assert len({n for _, n in picks}) == 5


class TestRandomProjection:
    def test_rp_project_deterministic_shape(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import rp_project

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
        a = {r.id: r._p for r in rp_project(emb, r=8).collect()}
        b = {r.id: r._p for r in rp_project(emb.repartition(7), r=8).collect()}
        assert set(a) == set(b)
        for i in a:
            assert len(a[i]) == 8
            assert a[i] == b[i]  # batch boundaries can't change values

    def test_rp_topk_recovers_identical_vectors(self, spark):
        # clones of the query vector must survive any projection:
        # JL preserves exact colinearity (P(v)==P(v)) regardless of r
        from dbm_nca_ph_etl_spark.operators.similarity import rp_topk

        base = [1.0 if i % 7 == 0 else 0.25 for i in range(64)]
        rows = [Row(vec_id=0, embedding=base)]
        rows += [Row(vec_id=i, embedding=list(base)) for i in (1, 2, 3)]
        rows += [
            Row(vec_id=10 + j, embedding=[((i * j + 13) % 9) - 4.0 for i in range(64)])
            for j in range(1, 7)  # j=0 would be the all-zero vector
        ]
        df = spark.createDataFrame(rows)
        out = rp_topk(df, df.where("vec_id = 0"), k=3, r=4, n_cand=5).collect()
        assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]
        assert all(r.cos_sim == 1.0 for r in out)

    def test_rp_topk_exact_rerank_matches_cosine(self, spark, sf_dir):
        # the re-rank leg must be bit-identical to cosine_topk on the
        # candidate set: with n_cand == corpus size rp_topk degenerates
        # to the exact operator
        from dbm_nca_ph_etl_spark.operators.similarity import rp_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 60")
        q = emb.where("vec_id < 3")
        exact = cosine_topk(emb, q, k=5).collect()
        full = rp_topk(emb, q, k=5, r=8, n_cand=60).collect()
        assert sorted((r.query_id, r.neighbor_id, r.cos_sim) for r in exact) == sorted(
            (r.query_id, r.neighbor_id, r.cos_sim) for r in full
        )

    def test_rp_topk_ncand_guard(self, spark, sf_dir):
        from dbm_nca_ph_etl_spark.operators.similarity import rp_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="n_cand"):
            rp_topk(emb, emb.limit(1), k=10, n_cand=5)


class TestMarginTopk:
    def test_hub_vector_is_demoted(self, spark):
        """A hub close to everything outranks a genuine pair on raw
        cosine but must lose on ratio margin."""
        import math

        from dbm_nca_ph_etl_spark.operators.similarity import margin_topk

        # 2-D embeddings: q at 0°; true partner at 5°; hub at 20° but
        # with many near-identical friends (19°,21°,22°) pushing its
        # own k-NN background up; partner's background is far away.
        def v(deg):
            r = math.radians(deg)
            return [math.cos(r), math.sin(r)]

        rows = [
            (0, v(0)),      # query
            (1, v(8)),      # true partner (isolated: background far)
            (2, v(20)),     # hub
            (3, v(19)), (4, v(21)), (5, v(22)),  # hub's crowd
            (6, v(120)), (7, v(240)),            # distractors
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = margin_topk(
            emb, emb.where("vec_id = 0"), k=3, m=2, max_queries=None
        ).collect()
        by_rank = {r.rank: r.neighbor_id for r in got}
        assert by_rank[1] == 1  # margin promotes the isolated partner
        # raw cosine for comparison: hub crowd dominates plain top-1? not
        # necessarily — but the hub itself must not outrank the partner
        assert by_rank[2] != 1

    def test_margin_of_identical_vectors_maximal(self, spark):
        from dbm_nca_ph_etl_spark.operators.similarity import margin_topk

        rows = [
            (0, [1.0, 0.0]), (1, [1.0, 0.0]),
            (2, [0.0, 1.0]), (3, [0.7, 0.7]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = margin_topk(
            emb, emb.where("vec_id = 0"), k=2, m=1, max_queries=None
        ).collect()
        assert got[0].neighbor_id == 1 and got[0].margin_ppm > 1_000_000


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_vector_literal_raises(vectors, bad):
    """A caller's centroid or codebook is spliced into the plan as a
    literal; a NaN or ±Inf element fails at construction, not as a
    silent NULL in the results."""
    from dbm_nca_ph_etl_spark.operators.similarity import ivf_topk, pq_topk

    cents = [[1.0, 0.0, 0.0], [0.0, bad, 0.0]]
    with pytest.raises(ValueError, match="NaN or infinite"):
        ivf_topk(vectors, vectors, k=2, n_probe=2, dim=3, centroids=cents)
    with pytest.raises(ValueError, match="NaN or infinite"):
        pq_topk(vectors, vectors, [cents], k=2)


def test_ann_family_takes_dotted_id_column(vectors):
    """Column arguments are exact top-level names across the ANN
    family: an id column literally named ``doc.id`` gives the same
    neighbours as ``vec_id``."""
    from dbm_nca_ph_etl_spark.operators.similarity import (
        cosine_near_dup_pairs,
        int8_topk,
        ivf_topk,
        ivfpq_topk,
        lsh_near_dup_pairs,
        pca_topk,
        probe_near_dup_pairs,
        pq_topk,
        rp_topk,
    )

    dotted = vectors.withColumnRenamed("vec_id", "doc.id")
    books = [[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.7, 0.7, 0.0]]]
    ops = {
        "cosine": lambda df, **kw: cosine_topk(df, df, k=2, **kw),
        "ivf": lambda df, **kw: ivf_topk(df, df, k=2, n_centroids=2, n_probe=2, dim=3, **kw),
        "pq": lambda df, **kw: pq_topk(df, df, books, k=2, **kw),
        "ivfpq": lambda df, **kw: ivfpq_topk(
            df, df, books, k=2, n_centroids=2, n_probe=2, dim=3, **kw
        ),
        "lsh": lambda df, **kw: lsh_bucket_topk(
            df, df, k=2, num_planes=1, num_tables=2, dim=3, **kw
        ),
        "rp": lambda df, **kw: rp_topk(df, df, k=2, r=2, n_cand=4, dim=3, **kw),
        "int8": lambda df, **kw: int8_topk(df, df, k=2, **kw),
        "pca": lambda df, **kw: pca_topk(df, df, k=2, p=2, n_cand=4, dim=3, **kw),
        "cosine_pairs": lambda df, **kw: cosine_near_dup_pairs(df, threshold=0.5, **kw),
        "lsh_pairs": lambda df, **kw: lsh_near_dup_pairs(
            df, threshold=0.5, num_tables=2, num_planes=1, dim=3, **kw
        ),
        "probe_pairs": lambda df, **kw: probe_near_dup_pairs(
            df, threshold=0.5, probe_mod=1, **kw
        ),
    }
    for name, op in ops.items():
        want = sorted(tuple(r) for r in op(vectors).collect())
        got = sorted(tuple(r) for r in op(dotted, id_col="doc.id").collect())
        assert want and got == want, name


def test_int8_topk_matches_cosine_on_exact_codes(spark):
    """Integer vectors whose largest absolute element is 127 quantize
    to themselves (scale 1), so int8_topk must return the exact
    neighbours and ranks of cosine_topk, copies included."""
    from dbm_nca_ph_etl_spark.operators.similarity import int8_topk

    rng = np.random.default_rng(11)
    vecs = rng.integers(-126, 127, size=(14, 8))
    vecs[np.arange(14), rng.integers(0, 8, size=14)] = rng.choice([-127, 127], size=14)
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    rows += [Row(vec_id=20 + i, embedding=rows[i % 3].embedding) for i in range(5)]
    df = spark.createDataFrame(rows)
    q = df.where("vec_id < 4")
    got = sorted(tuple(r) for r in int8_topk(df, q, k=6).collect())
    want = sorted(tuple(r) for r in cosine_topk(df, q, k=6).collect())
    assert [(g[0], g[1], g[3]) for g in got] == [(w[0], w[1], w[3]) for w in want]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-6)


# dim 4 as two 2-dim subspaces: every vector below is a concatenation
# of one centroid per subspace, so PQ reconstructs it exactly
_TIE_BOOKS = [
    [[1.0, 0.0], [0.0, 2.0], [1.0, 1.0]],
    [[3.0, 0.0], [0.0, 4.0], [2.0, 2.0]],
]


def _tie_ops():
    from dbm_nca_ph_etl_spark.operators import similarity as S

    return {
        "cosine": lambda c, q: S.cosine_topk(c, q, k=6),
        "ivf_full_probe": lambda c, q: S.ivf_topk(
            c, q, k=6, n_centroids=3, n_probe=3, dim=4
        ),
        "rp_all_cand": lambda c, q: S.rp_topk(c, q, k=6, r=2, n_cand=20, dim=4),
        "pca_all_cand": lambda c, q: S.pca_topk(c, q, k=6, p=2, n_cand=20, dim=4),
        "int8": lambda c, q: S.int8_topk(c, q, k=6),
        "pq": lambda c, q: S.pq_topk(c, q, _TIE_BOOKS, k=6),
        "lsh": lambda c, q: S.lsh_bucket_topk(
            c, q, k=6, num_planes=2, num_tables=2, dim=4
        ),
    }


@pytest.mark.parametrize("op", list(_tie_ops()))
def test_topk_ties_rank_lowest_neighbor_first(spark, op):
    """Every ANN top-k ranks equal scores by lowest neighbor_id: on a
    corpus with copied vectors, rank order is (score desc, id asc)."""
    a, b = _TIE_BOOKS
    base = [x + y for x in a for y in b]  # ids 0..8
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(base)]
    # copies of vectors 0 and 4, created out of id order
    rows += [Row(vec_id=i, embedding=base[0]) for i in (12, 10, 14)]
    rows += [Row(vec_id=i, embedding=base[4]) for i in (13, 11)]
    df = spark.createDataFrame(rows)
    out = _tie_ops()[op](df, df.where("vec_id IN (0, 4, 10)")).collect()
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    tied = 0
    for rs in per_q.values():
        by_rank = [r.neighbor_id for r in sorted(rs, key=lambda r: r.rank)]
        rule = sorted(rs, key=lambda r: (-r.cos_sim, r.neighbor_id))
        by_rule = [r.neighbor_id for r in rule]
        assert by_rank == by_rule, (op, by_rank, by_rule)
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        tied += len(rs) - len({r.cos_sim for r in rs})
    assert tied > 0, "the corpus must produce tied scores"
