"""Dedup operator tests: exact survivors, MinHash recall on known
near-dups, SimHash locality, Jaccard exactness."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from dbm_nca_ph_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signature_array,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),  # exact dup of 1
        Row(doc_id=3, text=BASE + " extra trailing words here"),  # near dup
        Row(doc_id=4, text="completely different content about spark query engines and shuffles"),
        Row(doc_id=5, text="another unrelated document mentioning parquet and catalyst optimizer"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_keeps_lowest_id(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(text="a b c d"), Row(text="x y")])
    got = [r.s for r in df.select(word_shingles(F.col("text")).alias("s")).collect()]
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[1] == ["x y"]  # shorter than n → whole text as one shingle


def test_minhash_identical_signatures_for_identical_text(docs):
    sigs = {r.doc_id: r.sig for r in minhash_signature_array(docs).collect()}
    assert sigs[1] == sigs[2]
    # near-dup shares most minhashes
    same = sum(1 for a, b in zip(sigs[1], sigs[3]) if a == b)
    assert same >= 8
    diff = sum(1 for a, b in zip(sigs[1], sigs[4]) if a == b)
    assert diff <= 4


def test_lsh_finds_known_pairs(docs):
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs
    assert (4, 5) not in pairs


def test_jaccard_values(docs):
    pairs = docs.sparkSession.createDataFrame([Row(a=1, b=2), Row(a=1, b=4)])
    got = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(pairs, docs).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 4)] == 0.0


def test_minhash_dedup_end_to_end(docs):
    kept = sorted(r.doc_id for r in minhash_dedup(docs, threshold=0.5).collect())
    assert kept == [1, 4, 5]  # 2 (exact) and 3 (near) deduped into 1


def test_simhash_locality(docs):
    fps = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", simhash(F.col("text"), 32).alias("sh")).collect()
    }
    assert fps[1] == fps[2]
    ham_near = bin(fps[1] ^ fps[3]).count("1")
    ham_far = bin(fps[1] ^ fps[4]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 6


def test_connected_components_chain_and_islands(spark):
    """A chain a~b~c must collapse to ONE cluster (pairs alone can't);
    disjoint components keep distinct labels; untouched nodes absent."""
    from dbm_nca_ph_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [Row(a=1, b=2), Row(a=2, b=3), Row(a=3, b=4), Row(a=10, b=11), Row(a=20, b=21)]
    )
    got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_partition_invariant(spark):
    from dbm_nca_ph_etl_spark.operators.dedup import connected_components

    rows = [Row(a=i, b=i + 1) for i in range(0, 40, 2)] + [
        Row(a=i, b=i + 2) for i in range(0, 38, 4)
    ]
    one = {
        (r.id, r.cluster_id)
        for r in connected_components(spark.createDataFrame(rows)).collect()
    }
    many = {
        (r.id, r.cluster_id)
        for r in connected_components(
            spark.createDataFrame(rows).repartition(13)
        ).collect()
    }
    assert one == many and len(one) > 0


class TestSegmentDedup:
    """Span-level corpus dedup (operators/text_analysis.segment_dedup):
    CCNet-style line dedup with deterministic drop-all semantics."""

    def _run(self, spark, docs, **kw):
        from dbm_nca_ph_etl_spark.operators.text_analysis import segment_dedup

        df = spark.createDataFrame(docs, ["doc_id", "text"])
        return {
            r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
            for r in segment_dedup(df, seg_tokens=2, **kw).collect()
        }

    def test_shared_boilerplate_dropped_everywhere(self, spark):
        # "ad click" is a shared 2-token span across both docs — every
        # copy goes; unique spans survive in original order.
        got = self._run(
            spark,
            [(1, "ad click alpha beta gamma delta"),
             (2, "ad click epsilon zeta")],
        )
        assert got[1] == (3, 2, "alpha beta gamma delta")
        assert got[2] == (2, 1, "epsilon zeta")

    def test_within_doc_repeat_counts_toward_threshold(self, spark):
        got = self._run(spark, [(1, "x y x y unique tail")])
        assert got[1] == (3, 1, "unique tail")

    def test_fully_duplicated_doc_survives_empty(self, spark):
        got = self._run(spark, [(1, "a b"), (2, "a b"), (3, "c d")])
        assert got[1] == (1, 0, "")
        assert got[2] == (1, 0, "")
        assert got[3] == (1, 1, "c d")

    def test_threshold_two_keeps_pairs(self, spark):
        got = self._run(
            spark,
            [(1, "a b"), (2, "a b"), (3, "a b")],
            max_occurrences=3,
        )
        assert all(v == (1, 1, "a b") for v in got.values())

    def test_partial_tail_segment_kept(self, spark):
        # 5 tokens / seg 2 -> 3 segments, last is the 1-token tail
        got = self._run(spark, [(1, "a b c d e")])
        assert got[1] == (3, 3, "a b c d e")

    def test_partition_invariant(self, spark):
        from dbm_nca_ph_etl_spark.operators.text_analysis import segment_dedup

        rows = [(i, f"shared span unique{i} word{i % 7} tail{i}") for i in range(60)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        one = {tuple(r) for r in segment_dedup(df, seg_tokens=2).collect()}
        many = {
            tuple(r)
            for r in segment_dedup(df.repartition(13), seg_tokens=2).collect()
        }
        assert one == many and len(one) == 60


class TestSegmentDedupDifferential:
    """Seeded randomized differential check: segment_dedup and
    hashed_linear_score vs their DuckDB oracle SQL on generated
    corpora with adversarial shapes — empty docs, whitespace-only
    docs, injected cross-doc span copies, within-doc repeats."""

    def _corpus(self, rng, n_docs):
        vocab = [f"w{i}" for i in range(25)]
        docs = []
        for d in range(n_docs):
            kind = rng.random()
            if kind < 0.05:
                text = ""
            elif kind < 0.10:
                text = "   "
            else:
                text = " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 40)))
            docs.append((d, text))
        # inject exact span copies across documents
        for _ in range(n_docs // 4):
            a, b = rng.randrange(n_docs), rng.randrange(n_docs)
            if docs[a][1].strip() and a != b:
                span = " ".join(docs[a][1].split()[:16])
                docs[b] = (b, (docs[b][1] + " " + span).strip())
        return docs

    @staticmethod
    def _oracle(sql, docs):
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(docs, columns=["doc_id", "text"])
        )
        return con.execute(sql).df()

    def test_segment_dedup_matches_duckdb_on_random_corpora(self, spark):
        import random

        from dbm_nca_ph_etl_spark.operators.text_analysis import segment_dedup
        from dbm_nca_ph_etl_spark.plans.queries import QUERIES

        for seed in (11, 23, 47):
            docs = self._corpus(random.Random(seed), 40)
            got = {
                (r.doc_id, r.n_segments, r.n_kept, r.clean_text)
                for r in segment_dedup(
                    spark.createDataFrame(docs, ["doc_id", "text"])
                ).collect()
            }
            exp = {
                (int(r.doc_id), int(r.n_segments), int(r.n_kept), r.clean_text)
                for r in self._oracle(
                    QUERIES["segment_dedup_docs"].oracle, docs
                ).itertuples(index=False)
            }
            assert got == exp, f"seed {seed} diverged"

    def test_hashed_linear_matches_duckdb_on_random_corpora(self, spark):
        import random

        from dbm_nca_ph_etl_spark.operators.text_analysis import hashed_linear_score
        from dbm_nca_ph_etl_spark.plans.queries import QUERIES

        for seed in (5, 17):
            docs = self._corpus(random.Random(seed), 30)
            got = {
                tuple(r)
                for r in hashed_linear_score(
                    spark.createDataFrame(docs, ["doc_id", "text"])
                ).collect()
            }
            exp = {
                (int(r.doc_id), int(r.n_tokens), int(r.score_e6), bool(r.keep))
                for r in self._oracle(
                    QUERIES["hashed_linear_score"].oracle, docs
                ).itertuples(index=False)
            }
            assert got == exp, f"seed {seed} diverged"


class TestIncrementalProbe:
    def test_batch_probes_corpus_index(self, spark):
        from dbm_nca_ph_etl_spark.operators.dedup import lsh_probe_new

        base = "spark shuffles data between stages when keys move " * 3
        corpus = spark.createDataFrame(
            [(1, base), (2, "completely different content about windows and aggregates " * 3)],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [
                (10, base + " tail"),          # near-dup of corpus doc 1
                (11, "novel text " + " ".join(f"tok{i}" for i in range(30))),
            ],
            ["doc_id", "text"],
        )
        got = {r.doc_id: (r.matched_doc, r.is_dup)
               for r in lsh_probe_new(corpus, batch).collect()}
        assert got[10] == (1, True)
        assert got[11] == (None, False)

    def test_prebuilt_index_matches_inline(self, spark):
        from dbm_nca_ph_etl_spark.operators.dedup import band_buckets, lsh_probe_new

        corpus = spark.createDataFrame(
            [(i, f"some shared words plus unique token{i} " * 4) for i in range(6)],
            ["doc_id", "text"],
        )
        batch = spark.createDataFrame(
            [(20, "some shared words plus unique token3 " * 4 + "tail")],
            ["doc_id", "text"],
        )
        inline = {tuple(r) for r in lsh_probe_new(corpus, batch).collect()}
        prebuilt = {
            tuple(r)
            for r in lsh_probe_new(
                corpus, batch, index=band_buckets(corpus)
            ).collect()
        }
        assert inline == prebuilt and len(inline) == 1


class TestRepeatedSpans:
    """repeated_span_pairs: exact shared-token-run detection with
    known offsets, df-cap exclusion, tie determinism."""

    def _w(self, *idxs):
        return " ".join(f"w{i}" for i in idxs)

    def test_known_span_offsets_and_length(self, spark):
        # doc 1 tokens 11..35 == doc 2 tokens 3..27: a 25-token run.
        shared = self._w(*range(100, 125))
        d = spark.createDataFrame(
            [
                (1, self._w(*range(0, 10)) + " " + shared + " " + self._w(*range(200, 210))),
                (2, self._w(*range(300, 302)) + " " + shared + " " + self._w(*range(400, 420))),
                (3, self._w(*range(500, 560))),
            ],
            "doc_id long, text string",
        )
        from dbm_nca_ph_etl_spark.operators.dedup import repeated_span_pairs

        got = repeated_span_pairs(d, min_len=20, k=8, df_cap=16).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.doc_a, r.doc_b) == (1, 2)
        assert r.span_tokens == 25
        assert (r.start_a, r.start_b) == (11, 3)

    def test_min_len_filters_short_spans(self, spark):
        shared = self._w(*range(100, 112))  # 12-token run
        d = spark.createDataFrame(
            [(1, shared + " " + self._w(*range(0, 20))),
             (2, self._w(*range(50, 70)) + " " + shared)],
            "doc_id long, text string",
        )
        from dbm_nca_ph_etl_spark.operators.dedup import repeated_span_pairs

        assert repeated_span_pairs(d, min_len=20, k=8).count() == 0
        got = repeated_span_pairs(d, min_len=12, k=8).collect()
        assert len(got) == 1 and got[0].span_tokens == 12

    def test_df_cap_drops_boilerplate(self, spark):
        # the same 30-token "license header" in every doc: with the
        # cap below its df the pairs vanish; raised cap finds them.
        hdr = self._w(*range(100, 130))
        rows = [(i, hdr + " " + self._w(*range(1000 * i, 1000 * i + 15)))
                for i in range(1, 7)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        from dbm_nca_ph_etl_spark.operators.dedup import repeated_span_pairs

        assert repeated_span_pairs(d, min_len=20, k=8, df_cap=5).count() == 0
        got = repeated_span_pairs(d, min_len=20, k=8, df_cap=6)
        assert got.count() == 15  # all C(6,2) pairs share the header
        assert {r.span_tokens for r in got.collect()} == {30}

    def test_longest_of_multiple_runs_wins(self, spark):
        run_a = self._w(*range(100, 120))  # 20 tokens
        run_b = self._w(*range(300, 330))  # 30 tokens
        d = spark.createDataFrame(
            [(1, run_a + " " + self._w(*range(0, 10)) + " " + run_b),
             (2, run_b + " " + self._w(*range(50, 62)) + " " + run_a)],
            "doc_id long, text string",
        )
        from dbm_nca_ph_etl_spark.operators.dedup import repeated_span_pairs

        got = repeated_span_pairs(d, min_len=5, k=4).collect()
        assert len(got) == 1
        assert got[0].span_tokens == 30
        assert (got[0].start_a, got[0].start_b) == (31, 1)

    def test_below_k_tokens_no_rows(self, spark):
        d = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
        )
        from dbm_nca_ph_etl_spark.operators.dedup import repeated_span_pairs

        assert repeated_span_pairs(d, min_len=2, k=8).count() == 0


class TestWinnowFingerprints:
    @staticmethod
    def _ref(doc_id, text, k, w):
        """Pure-Python winnowing (Schleimer et al. 2003, rightmost min)."""
        import hashlib

        toks = [t for t in text.lower().split() if t]
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:12], 16) for g in grams]
        out = set()
        for s in range(len(hs) - w + 1):
            best = min(range(s, s + w), key=lambda i: (hs[i], -i))
            out.add((doc_id, best + 1, hs[best]))
        return out

    def test_differential_vs_pure_python(self, spark):
        from dbm_nca_ph_etl_spark.operators.dedup import winnow_fingerprints

        texts = [
            (1, "a b c d e f g h i j k l"),
            (2, "short doc"),
            (3, "x x x x x x x x"),  # all-equal hashes: ties everywhere
            (4, "the quick brown fox jumps over the lazy dog again and again"),
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            (r.doc_id, r.pos, r.fp)
            for r in winnow_fingerprints(df, k=3, w=4).collect()
        }
        want = set()
        for d, t in texts:
            want |= self._ref(d, t, k=3, w=4)
        assert got == want

    def test_covering_guarantee_on_shared_run(self, spark):
        # winnowing guarantee: a shared token run of >= w+k-1 tokens
        # must yield at least one shared fingerprint
        from dbm_nca_ph_etl_spark.operators.dedup import winnow_fingerprints

        shared = "one two three four five six seven eight"  # 8 >= 4+5-1
        df = spark.createDataFrame(
            [
                (1, f"aa bb cc {shared} dd ee"),
                (2, f"zz yy {shared} xx ww vv uu"),
            ],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(df, k=5, w=4)
        shared_fps = (
            fps.groupBy("fp").count().where("count >= 2").count()
        )
        assert shared_fps >= 1

    def test_below_resolution_docs_emit_nothing(self, spark):
        from dbm_nca_ph_etl_spark.operators.dedup import winnow_fingerprints

        df = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )  # 6 tokens, k=5 -> 2 kgrams < w=4 windows
        assert winnow_fingerprints(df, k=5, w=4).count() == 0

    def test_param_guard(self, spark):
        import pytest

        from dbm_nca_ph_etl_spark.operators.dedup import winnow_fingerprints

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            winnow_fingerprints(df, k=0)


class TestCdcChunks:
    @staticmethod
    def _ref(doc, text, avg):
        import hashlib

        def h48(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

        toks = [t for t in text.lower().split() if t]
        out, cur = [], []
        for t in toks:
            cur.append(t)
            if h48(t) % avg == 0:
                out.append(cur)
                cur = []
        if cur:
            out.append(cur)
        return {(doc, i, len(c), h48(" ".join(c))) for i, c in enumerate(out)}

    def test_differential_vs_pure_python(self, spark):
        import random

        from dbm_nca_ph_etl_spark.operators.dedup import cdc_chunks

        random.seed(7)
        vocab = [f"w{i}" for i in range(40)]
        texts = [
            (d, " ".join(random.choice(vocab) for _ in range(random.randint(0, 60))))
            for d in range(12)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            (r.doc_id, r.chunk_id, r.n_tokens, r.fp)
            for r in cdc_chunks(df, avg_tokens=8).collect()
        }
        want = set()
        for d, t in texts:
            want |= self._ref(d, t, 8)
        assert got == want

    def test_shift_resistance(self, spark):
        # a prefixed copy must share every chunk after the first cut
        # point; fixed windows would share none
        import random

        from dbm_nca_ph_etl_spark.operators.dedup import cdc_chunks

        random.seed(3)
        body = " ".join(f"w{random.randint(0, 30)}" for _ in range(80))
        df = spark.createDataFrame(
            [(1, body), (2, "inserted prefix goes here " + body)],
            "doc_id long, text string",
        )
        ch = cdc_chunks(df, avg_tokens=8)
        fps = {
            d: {r.fp for r in rows}
            for d, rows in (
                (1, ch.where("doc_id = 1").collect()),
                (2, ch.where("doc_id = 2").collect()),
            )
        }
        shared = fps[1] & fps[2]
        assert len(shared) >= len(fps[1]) - 2  # all but the head chunk(s)

    def test_param_guard(self, spark):
        import pytest

        from dbm_nca_ph_etl_spark.operators.dedup import cdc_chunks

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            cdc_chunks(df, avg_tokens=0)


class TestPrefixFilterJaccardJoin:
    @staticmethod
    def _shingles(text, n=3):
        toks = [t for t in text.lower().split() if t]
        if len(toks) >= n:
            out = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        else:
            out = {" ".join(toks)}
        return {s for s in out if s != ""} or None

    def test_differential_vs_brute_force(self, spark):
        import itertools
        import random

        from dbm_nca_ph_etl_spark.operators.dedup import (
            prefix_filter_jaccard_join,
        )

        random.seed(42)
        vocab = [f"w{i}" for i in range(50)]
        texts = [
            (d, " ".join(random.choice(vocab) for _ in range(random.randint(0, 25))))
            for d in range(40)
        ]
        texts.append((100, texts[0][1]))                      # exact dup
        texts.append((101, texts[5][1] + " tail word here"))  # near dup
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            (r.doc_a, r.doc_b)
            for r in prefix_filter_jaccard_join(df, threshold=0.6).collect()
        }
        want = set()
        for (a, ta), (b, tb) in itertools.combinations(texts, 2):
            A, B = self._shingles(ta), self._shingles(tb)
            if not A or not B:
                continue
            i, u = len(A & B), len(A | B)
            if i * 1_000_000 >= 600_000 * u:
                want.add((min(a, b), max(a, b)))
        assert got == want and (0, 100) in got

    def test_threshold_guard(self, spark):
        import pytest

        from dbm_nca_ph_etl_spark.operators.dedup import (
            prefix_filter_jaccard_join,
        )

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            prefix_filter_jaccard_join(df, threshold=0.0)


class TestContainmentJoin:
    _shingles = staticmethod(TestPrefixFilterJaccardJoin._shingles)

    def test_differential_vs_brute_force(self, spark):
        import itertools
        import random

        from dbm_nca_ph_etl_spark.operators.dedup import containment_join

        random.seed(7)
        vocab = [f"w{i}" for i in range(40)]
        texts = [
            (d, " ".join(random.choice(vocab) for _ in range(random.randint(0, 30))))
            for d in range(35)
        ]
        # planted excerpt: first 60% of the longest doc's tokens
        src_id, src_text = max(texts, key=lambda kv: len(kv[1].split()))
        ts = src_text.split()
        texts.append((200, " ".join(ts[: max(1, int(len(ts) * 0.6))])))
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            (r.doc_a, r.doc_b): (r.size_a, r.inter, r.cont_ppm)
            for r in containment_join(df, threshold=0.8, min_size=3).collect()
        }
        want = {}
        for (a, ta), (b, tb) in itertools.permutations(texts, 2):
            A, B = self._shingles(ta), self._shingles(tb)
            if not A or not B or len(A) < 3 or len(B) < 3:
                continue
            i = len(A & B)
            if i * 1_000_000 >= 800_000 * len(A):
                want[(a, b)] = (
                    len(A),
                    i,
                    int(i / len(A) * 1_000_000 + 0.5),
                )
        assert got == want
        assert (200, src_id) in got          # excerpt found
        assert (src_id, 200) not in got      # not the reverse

    def test_asymmetry_where_jaccard_fails(self, spark):
        from dbm_nca_ph_etl_spark.operators.dedup import (
            containment_join,
            prefix_filter_jaccard_join,
        )

        body = " ".join(f"u{i}" for i in range(200))
        excerpt = " ".join(f"u{i}" for i in range(20))
        df = spark.createDataFrame(
            [(1, body), (2, excerpt)], "doc_id long, text string"
        )
        cont = containment_join(df, threshold=0.9, min_size=3).collect()
        assert [(r.doc_a, r.doc_b, r.cont_ppm) for r in cont] == [(2, 1, 1000000)]
        # symmetric Jaccard misses it entirely at any near-dup threshold
        assert prefix_filter_jaccard_join(df, threshold=0.5).count() == 0

    def test_ppm_boundary_prefix_not_short(self, spark):
        """t=0.07, n=100: float ceil(t*n) gives 8 (prefix 93) while the
        ppm-consistent bound needs 7 (prefix 94). Rarest-first ordering
        puts A's 93 unique (df=1) tokens FIRST, so the shared tokens sit
        exactly in the disputed tail — the old float bound silently
        dropped this qualifying boundary pair (ADVICE r5)."""
        from dbm_nca_ph_etl_spark.operators.dedup import containment_join

        a_text = " ".join([f"u{i}" for i in range(93)] + [f"s{i}" for i in range(7)])
        b_text = " ".join([f"s{i}" for i in range(7)] + [f"v{i}" for i in range(10)])
        df = spark.createDataFrame(
            [(1, a_text), (2, b_text)], "doc_id long, text string"
        )
        got = {
            (r.doc_a, r.doc_b): (r.size_a, r.inter)
            for r in containment_join(
                df, threshold=0.07, shingle_n=0, min_size=3
            ).collect()
        }
        # C(A->B) = 7/100 = 0.07 >= t exactly; C(B->A) = 7/17 >= t too
        assert got[(1, 2)] == (100, 7)
        assert got[(2, 1)] == (17, 7)

    def test_min_size_drops_trivia(self, spark):
        from dbm_nca_ph_etl_spark.operators.dedup import containment_join

        df = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "a b c")],  # doc 2: 1 shingle
            "doc_id long, text string",
        )
        assert containment_join(df, threshold=0.9, min_size=2).count() == 0

    def test_guards(self, spark):
        import pytest

        from dbm_nca_ph_etl_spark.operators.dedup import containment_join

        df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
        with pytest.raises(ValueError, match="threshold"):
            containment_join(df, threshold=0.0)
        with pytest.raises(ValueError, match="min_size"):
            containment_join(df, min_size=0)

    def test_partition_invariant(self, spark):
        import random

        from dbm_nca_ph_etl_spark.operators.dedup import containment_join

        random.seed(9)
        vocab = [f"v{i}" for i in range(30)]
        texts = [
            (d, " ".join(random.choice(vocab) for _ in range(15)))
            for d in range(25)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        a = sorted(
            (r.doc_a, r.doc_b, r.cont_ppm)
            for r in containment_join(df.repartition(1), threshold=0.7).collect()
        )
        b = sorted(
            (r.doc_a, r.doc_b, r.cont_ppm)
            for r in containment_join(df.repartition(11), threshold=0.7).collect()
        )
        assert a == b
