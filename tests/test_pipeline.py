"""Behavioral tests for the training-data pipeline operators
(datajudge_spark.pipeline): dedup, similarity, text, multimodal, as-of.

These test SEMANTICS on handcrafted data; engine-vs-oracle value parity
is covered separately by test_entry_oracle.py."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datajudge_spark.operators.asof import asof_join
from datajudge_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = "the quick brown fox jumps over the lazy dog near the old river bank yesterday"
    other = "completely different words about spark shuffles partitions and catalyst plans"
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=near),      # near-dup of 0 (one word differs)
        Row(doc_id=2, text=other),
        Row(doc_id=3, text=base),      # exact dup of 0
        Row(doc_id=4, text="short text only"),
    ]
    return spark.createDataFrame(rows)


class TestDedup:
    def test_exact_duplicate_groups(self, spark, docs):
        groups = dedup.exact_duplicate_groups(docs, "doc_id", "text").collect()
        assert len(groups) == 1
        assert groups[0].n_copies == 2

    def test_minhash_lsh_finds_near_dup(self, spark, docs):
        sig = dedup.minhash_signature(docs, "doc_id", "text", num_hashes=12)
        pairs = {
            (r.d1, r.d2)
            for r in dedup.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=3).collect()
        }
        assert (0, 3) in pairs          # identical docs always collide
        assert (0, 1) in pairs          # near-dups collide in >=1 band
        assert (0, 2) not in pairs      # unrelated docs don't

    def test_minhash_signature_shape(self, spark, docs):
        sig = dedup.minhash_signature(docs, "doc_id", "text", num_hashes=6)
        assert sig.columns == ["doc_id"] + [f"h{k}" for k in range(6)]
        rows = {r.doc_id: r for r in sig.collect()}
        assert tuple(rows[0])[1:] == tuple(rows[3])[1:]  # exact dups: equal sig

    def test_simhash_properties(self, spark, docs):
        sim = dedup.simhash(docs, "doc_id", "text")
        vals = {r.doc_id: r.simhash for r in sim.collect()}
        assert vals[0] == vals[3]
        ham_near = bin(vals[0] ^ vals[1]).count("1")
        ham_far = bin(vals[0] ^ vals[2]).count("1")
        assert ham_near < ham_far

    def test_simhash_candidate_pairs_pigeonhole_recall(self, spark, docs):
        sim = dedup.simhash(docs, "doc_id", "text")
        vals = {r.doc_id: r.simhash for r in sim.collect()}
        ham01 = bin(vals[0] ^ vals[1]).count("1")
        # recall is guaranteed when bands > max_hamming (48 divisors)
        bands = next(b for b in (1, 2, 3, 4, 6, 8, 12, 16, 24, 48) if b > ham01)
        pairs = {
            (r.d1, r.d2): r.hamming
            for r in dedup.simhash_candidate_pairs(
                sim, "doc_id", max_hamming=ham01, bands=bands
            ).collect()
        }
        assert pairs.get((0, 3)) == 0
        assert pairs.get((0, 1)) == ham01

    def test_simhash_candidate_pairs_rejects_bad_bands(self, spark, docs):
        sim = dedup.simhash(docs, "doc_id", "text")
        with pytest.raises(ValueError):
            dedup.simhash_candidate_pairs(sim, "doc_id", bands=5)

    def test_containment_catches_subset_duplication(self, spark):
        short = "the quick brown fox jumps over the lazy dog today"
        long = (
            short
            + " and then a very long unrelated commentary section follows "
            + " ".join(f"word{i} filler{i} extra{i}" for i in range(30))
        )
        df = spark.createDataFrame(
            [Row(doc_id=0, text=short), Row(doc_id=1, text=long)]
        )
        cont = {
            (r.d1, r.d2): (r.c1, r.c2)
            for r in dedup.containment_pairs(
                df, "doc_id", "text", threshold=0.8
            ).collect()
        }
        # the short doc is fully contained -> c1 == 1.0
        assert cont[(0, 1)][0] == 1.0
        # ...while Jaccard dilutes the same pair below any dedup bar
        jac = dedup.jaccard_pairs(
            df, "doc_id", "text", threshold=0.6
        ).collect()
        assert not jac

    def test_lsh_hot_bucket_emits_star_not_quadratic(self, spark):
        # 40 identical docs, cap 10: every band bucket is degenerate, so
        # the output must be the 39-edge star (min id x members), never
        # the 780 all-pairs rows — AQE splits a hot bucket's shuffle but
        # not its B^2 pair output
        boiler = "this cookie banner text is identical on every single page"
        docs40 = spark.createDataFrame(
            [Row(doc_id=i, text=boiler) for i in range(40)]
        )
        sig = dedup.minhash_signature(docs40, "doc_id", "text", num_hashes=12)
        pairs = {
            (r.d1, r.d2)
            for r in dedup.lsh_candidate_pairs(
                sig, "doc_id", bands=4, rows=3, max_bucket=10
            ).collect()
        }
        assert pairs == {(0, i) for i in range(1, 40)}

    def test_lsh_pairs_unchanged_below_cap(self, spark, docs):
        sig = dedup.minhash_signature(docs, "doc_id", "text", num_hashes=12)
        uncapped = {
            (r.d1, r.d2)
            for r in dedup.lsh_candidate_pairs(
                sig, "doc_id", bands=4, rows=3, max_bucket=10**9
            ).collect()
        }
        default = {
            (r.d1, r.d2)
            for r in dedup.lsh_candidate_pairs(sig, "doc_id", bands=4, rows=3).collect()
        }
        assert default == uncapped

    def test_simhash_hot_bucket_emits_star_not_quadratic(self, spark):
        boiler = "this cookie banner text is identical on every single page"
        docs30 = spark.createDataFrame(
            [Row(doc_id=i, text=boiler) for i in range(30)]
        )
        sim = dedup.simhash(docs30, "doc_id", "text")
        pairs = {
            (r.d1, r.d2): r.hamming
            for r in dedup.simhash_candidate_pairs(
                sim, "doc_id", max_bucket=8
            ).collect()
        }
        # identical docs: hamming 0 stars off doc 0, no quadratic blowup
        assert pairs == {(0, i): 0 for i in range(1, 30)}

    def test_jaccard_pairs(self, spark, docs):
        pairs = {
            (r.d1, r.d2): r.jaccard
            for r in dedup.jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5
            ).collect()
        }
        assert pairs[(0, 3)] == 1.0
        assert 0.5 <= pairs[(0, 1)] < 1.0
        assert (0, 2) not in pairs

    def test_query_neardup_recall(self, spark, docs):
        # truth for query 0 at J >= 0.5: docs 1 (near-dup) and 3
        # (exact dup); the LSH lookup surfaces both -> recall 1.0.
        # query 2 has no true near-dup -> n_true 0, NULL recall.
        out = {
            r.query_id: r
            for r in dedup.query_neardup_recall(
                docs, "doc_id", "text", [0, 2, 4], threshold=0.5
            ).collect()
        }
        assert set(out) == {0, 2, 4}
        assert out[0].n_true == 2
        assert out[0].n_hits == 2
        assert out[0].recall == 1.0
        assert out[2].n_true == 0
        assert out[2].recall is None
        assert out[4].n_true == 0

    def test_query_neardup_recall_validation(self, spark, docs):
        with pytest.raises(ValueError):
            dedup.query_neardup_recall(docs, "doc_id", "text", [])
        with pytest.raises(ValueError):
            dedup.query_neardup_recall(
                docs, "doc_id", "text", [0], threshold=0.0
            )


@pytest.fixture(scope="module")
def vectors(spark):
    # 2-D unit-ish vectors: 0 and 1 nearly parallel, 2 orthogonal, 3 = dup of 0
    rows = [
        Row(vid=0, label=0, vvec=[1.0, 0.0]),
        Row(vid=1, label=0, vvec=[0.999, 0.045]),
        Row(vid=2, label=0, vvec=[0.0, 1.0]),
        Row(vid=3, label=0, vvec=[1.0, 0.0]),
        Row(vid=4, label=1, vvec=[0.7, 0.7]),
    ]
    return spark.createDataFrame(rows)


class TestSimilarity:
    def test_topk_bruteforce(self, spark, vectors):
        q = vectors.where("vid = 0").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        c = vectors.select(F.col("vid").alias("cid"), F.col("vvec").alias("cvec"))
        top = similarity.topk_bruteforce(q, c, k=2).orderBy("rn").collect()
        assert [r.cid for r in top] == [3, 1]  # exact dup first, near second
        assert top[0].cos == 1.0

    def test_ivf_matches_brute_when_cell_is_right(self, spark, vectors):
        q = vectors.where("vid = 1").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        c = vectors.select(F.col("vid").alias("cid"), F.col("vvec").alias("cvec"))
        cent = vectors.where("vid IN (0, 2)").select(
            F.col("vid").alias("cell"), F.col("vvec").alias("centvec")
        )
        ivf = similarity.topk_ivf(q, c, cent, k=2).orderBy("rn").collect()
        # query 1 lands in cell 0 = {0,1,3,4}; top-2 excluding self: 0 and 3
        assert {r.cid for r in ivf} == {0, 3}

    def test_near_dup_pairs_blocked(self, spark, vectors):
        pairs = similarity.near_dup_pairs(vectors, "label", threshold=0.95).collect()
        got = {(r.d1, r.d2) for r in pairs}
        assert (0, 3) in got and (0, 1) in got
        # vid 4 is alone in its label block: can never pair
        assert not any(4 in p for p in got)

    def test_ivf_neardup_recall_monotone_in_nprobe(self, spark):
        # recall grows with nprobe and is TOTAL when every vector probes
        # every cell (blocking can only lose pairs, never invent them)
        import numpy as np

        rng = np.random.default_rng(5)
        rows = []
        for i in range(120):
            v = rng.normal(size=8)
            v /= np.linalg.norm(v)
            rows.append(Row(vid=i, vvec=[float(x) for x in v]))
        vecs = spark.createDataFrame(rows)
        cent = vecs.where("vid < 4").select(
            F.col("vid").alias("cell"), F.col("vvec").alias("centvec")
        )
        a = vecs.select(F.col("vid").alias("d1"), F.col("vvec").alias("_v1"))
        b = vecs.select(F.col("vid").alias("d2"), F.col("vvec").alias("_v2"))
        truth = {
            (r.d1, r.d2)
            for r in a.join(b, F.col("d1") < F.col("d2"))
            .select("d1", "d2", similarity.cosine("_v1", "_v2").alias("cos"))
            .where(F.col("cos") > 0.5)
            .collect()
        }
        assert truth, "need true pairs for the recall comparison"
        found = {}
        for nprobe in (1, 2, 4):
            got = {
                (r.d1, r.d2)
                for r in similarity.near_dup_pairs_ivf(
                    vecs, cent, threshold=0.5, nprobe=nprobe
                ).collect()
            }
            assert got <= truth, "blocking must never invent pairs"
            found[nprobe] = got
        assert found[1] <= found[2] <= found[4]
        assert found[4] == truth  # nprobe = n_cells => exhaustive

    @pytest.fixture(scope="class")
    def clustered_vecs(self, spark):
        # 4 well-separated direction clusters in 16-d (the driver-provided
        # embeddings table is random vectors with arbitrary labels — no
        # cosine structure — so cluster-recovery tests need real clusters)
        import numpy as np

        rng = np.random.default_rng(42)
        bases = rng.normal(size=(4, 16))
        bases /= np.linalg.norm(bases, axis=1, keepdims=True)
        rows = []
        for i in range(200):
            c = i % 4
            v = bases[c] + rng.normal(scale=0.15, size=16)
            v /= np.linalg.norm(v)
            rows.append(Row(vid=i, truth=c, vvec=[float(x) for x in v]))
        return spark.createDataFrame(rows)

    def test_pq_encode_shape_and_self_consistency(self, spark, clustered_vecs):
        cb = similarity.pq_codebook(clustered_vecs, n_codes=8)
        enc = {r.vid: list(r.codes) for r in similarity.pq_encode(
            clustered_vecs, cb, m=4
        ).collect()}
        assert all(len(c) == 4 for c in enc.values())
        assert all(0 <= x < 8 for c in enc.values() for x in c)
        # a codebook member encodes to its own code in every subspace
        # (its sub-distance to itself is exactly 0, and the 8 entries
        # are distinct vectors)
        for code in range(8):
            assert enc[code] == [code] * 4

    def test_pq_topk_recall_on_clusters(self, spark, clustered_vecs):
        # PQ ADC is approximate, but with 4 well-separated clusters the
        # top-3 neighbors of a query should come from its own cluster
        cb = similarity.pq_codebook(clustered_vecs, n_codes=16)
        enc = similarity.pq_encode(
            clustered_vecs, cb, m=4
        ).withColumnRenamed("vid", "cid")
        q = clustered_vecs.where("vid IN (0, 1, 2, 3)").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        top = similarity.topk_pq(q, enc, cb, m=4, k=3).collect()
        truth = {r.vid: r.truth for r in clustered_vecs.collect()}
        hits = sum(1 for r in top if truth[r.cid] == truth[r.qid])
        assert hits >= 9, f"PQ same-cluster hits {hits}/12"
        # ascending distance, rank dense from 1
        by_q = {}
        for r in top:
            by_q.setdefault(r.qid, []).append((r.rn, r.dist))
        for rows in by_q.values():
            rows.sort()
            assert [rn for rn, _ in rows] == [1, 2, 3]
            assert all(
                rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1)
            )

    def test_pq_train_beats_seed_codebook(self, spark, clustered_vecs):
        # trained per-subspace centroids must quantize better than the
        # lowest-id seed codebook: higher same-cluster recall in ADC
        # top-3 on the clustered fixture
        seed = similarity.pq_codebook(clustered_vecs, n_codes=8)
        trained = similarity.pq_train(
            clustered_vecs, n_codes=8, m=4, max_iterations=8
        )
        assert len(trained) == 8 and all(len(e) == 16 for e in trained)
        truth = {r.vid: r.truth for r in clustered_vecs.collect()}
        q = clustered_vecs.where("vid < 8").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )

        def hits(cb):
            enc = similarity.pq_encode(
                clustered_vecs, cb, m=4
            ).withColumnRenamed("vid", "cid")
            top = similarity.topk_pq(q, enc, cb, m=4, k=3).collect()
            return sum(1 for r in top if truth[r.cid] == truth[r.qid])

        h_seed, h_trained = hits(seed), hits(trained)
        assert h_trained >= h_seed
        assert h_trained >= 20, f"trained PQ same-cluster hits {h_trained}/24"

    def test_pq_rejects_indivisible_m(self, spark, clustered_vecs):
        cb = similarity.pq_codebook(clustered_vecs, n_codes=4)
        with pytest.raises(ValueError):
            similarity.pq_encode(clustered_vecs, cb, m=5)

    def test_kmeans_recovers_clusters(self, spark, clustered_vecs):
        cent = similarity.kmeans_centroids(
            clustered_vecs, k=4, max_iterations=10
        )
        assert cent.count() == 4
        assigned = similarity.ivf_cells(clustered_vecs, cent)
        joined = clustered_vecs.select("vid", "truth").join(assigned, "vid")
        majority = (
            joined.groupBy("cell", "truth").count()
            .groupBy("cell").agg(F.max("count").alias("m"))
        )
        purity = majority.agg(F.sum("m")).first()[0] / joined.count()
        assert purity > 0.95, f"cluster purity {purity:.2f}"

    def test_kmeans_centroids_feed_ivf(self, spark, clustered_vecs):
        cent = similarity.kmeans_centroids(clustered_vecs, k=4, max_iterations=10)
        q = clustered_vecs.where("vid < 8").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        c = clustered_vecs.select(
            F.col("vid").alias("cid"), F.col("vvec").alias("cvec")
        )
        ivf = similarity.topk_ivf(q, c, cent, k=3)
        brute = similarity.topk_bruteforce(q, c, k=3)
        ivf_set = {(r.qid, r.cid) for r in ivf.collect()}
        brute_set = {(r.qid, r.cid) for r in brute.collect()}
        recall = len(ivf_set & brute_set) / len(brute_set)
        # true neighbors share the query's cluster, so single-probe IVF
        # over trained cells must recover nearly all of them
        assert recall >= 0.9, f"trained-IVF recall {recall:.2f}"

    def test_nprobe_recall_monotone(self, spark, clustered_vecs):
        cent = similarity.kmeans_centroids(clustered_vecs, k=4, max_iterations=10)
        q = clustered_vecs.where("vid < 8").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        c = clustered_vecs.select(
            F.col("vid").alias("cid"), F.col("vvec").alias("cvec")
        )
        brute = {(r.qid, r.cid)
                 for r in similarity.topk_bruteforce(q, c, k=3).collect()}

        def recall(nprobe):
            got = {(r.qid, r.cid)
                   for r in similarity.topk_ivf(
                       q, c, cent, k=3, nprobe=nprobe).collect()}
            return len(got & brute) / len(brute)

        r1, r2, r_all = recall(1), recall(2), recall(4)
        assert r1 <= r2 <= r_all  # candidate set only grows with nprobe
        # probing every cell IS brute force (minus nothing): exact recall
        assert r_all == 1.0

    def test_ivf_pq_composite_on_clusters(self, spark, clustered_vecs):
        cent = similarity.kmeans_centroids(clustered_vecs, k=4, max_iterations=10)
        cb = similarity.pq_codebook(clustered_vecs, n_codes=16)
        q = clustered_vecs.where("vid < 8").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        c = clustered_vecs.select(
            F.col("vid").alias("cid"), F.col("vvec").alias("cvec")
        )
        top = similarity.topk_ivf_pq(q, c, cent, cb, m=4, k=3).collect()
        truth = {r.vid: r.truth for r in clustered_vecs.collect()}
        # well-separated clusters: the coarse cells keep only same-cluster
        # candidates and ADC ranks within them — hits stay in-cluster
        hits = sum(1 for r in top if truth[r.cid] == truth[r.qid])
        assert hits >= 20, f"IVF-PQ same-cluster hits {hits}/24"
        by_q = {}
        for r in top:
            by_q.setdefault(r.qid, []).append((r.rn, r.dist))
        for rows in by_q.values():
            rows.sort()
            assert [rn for rn, _ in rows] == [1, 2, 3]
            assert all(
                rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1)
            )

    def test_recall_at_k(self, spark, clustered_vecs):
        cent = similarity.kmeans_centroids(clustered_vecs, k=4, max_iterations=10)
        q = clustered_vecs.where("vid < 8").select(
            F.col("vid").alias("qid"), F.col("vvec").alias("qvec")
        )
        c = clustered_vecs.select(
            F.col("vid").alias("cid"), F.col("vvec").alias("cvec")
        )
        brute = similarity.topk_bruteforce(q, c, k=3)
        # self-recall is exactly 1 for every query
        perfect = similarity.recall_at_k(brute, brute, k=3).collect()
        assert len(perfect) == 8
        assert all(r.recall == 1.0 and r.n_hits == r.n_exact == 3 for r in perfect)
        # IVF recall against ground truth: bounded [0, 1], counts consistent
        ivf = similarity.topk_ivf(q, c, cent, k=3)
        got = similarity.recall_at_k(ivf, brute, k=3).collect()
        assert len(got) == 8
        for r in got:
            assert 0.0 <= r.recall <= 1.0
            assert r.n_hits <= r.n_exact == 3
            assert r.recall == pytest.approx(r.n_hits / 3, abs=1e-6)


class TestText:
    def test_language_id(self, spark):
        rows = [
            Row(doc_id=0, text="the cat and the dog is in to the house"),
            Row(doc_id=1, text="el que de la los una casa"),
            Row(doc_id=2, text="qqq www zzz"),
        ]
        df = spark.createDataFrame(rows)
        out = {r.doc_id: r.lang for r in df.select(
            "doc_id", text.language_id("text").alias("lang")).collect()}
        assert out == {0: "en", 1: "es", 2: "und"}

    def test_bpe_token_count(self, spark):
        df = spark.createDataFrame([Row(doc_id=0, text="hello, world42 !")])
        n = df.select(text.bpe_token_count("text").alias("n")).collect()[0].n
        # hello | , | world | 42 | !
        assert n == 5

    def test_rolling_hash_deterministic(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="abc"), Row(doc_id=1, text="abc"),
             Row(doc_id=2, text="abd")]
        )
        vals = [r.h for r in df.select(text.rolling_hash("text").alias("h")).collect()]
        expected = 0
        for ch in "abc":
            expected = (expected * 131 + ord(ch)) % 2147483647
        assert vals[0] == vals[1] == expected
        assert vals[2] != expected

    def test_word_shingles(self, spark):
        df = spark.createDataFrame([Row(t="a b c d"), Row(t="a b")])
        out = df.select(text.word_shingles("t", 3).alias("s")).collect()
        assert out[0].s == ["a b c", "b c d"]
        assert out[1].s == []

    def test_boilerplate_ngrams(self, spark):
        footer = "all rights reserved"
        nav = "home about contact"
        rows = []
        # the footer appears in 4 docs spread over 2 sources;
        # the nav block repeats in 3 docs of ONE source only
        for i in range(4):
            rows.append(
                Row(
                    doc_id=i,
                    source=f"site{i % 2}",
                    t=f"unique body {i} words {footer}",
                )
            )
        for i in range(4, 7):
            rows.append(
                Row(doc_id=i, source="site0", t=f"page {i} text {nav}")
            )
        df = spark.createDataFrame(rows)
        got = {
            r.s: (r.n_docs, r.n_sources)
            for r in text.boilerplate_ngrams(
                df, "doc_id", "t", shingle_n=3,
                min_docs=3, min_sources=2, source_col="source",
            ).collect()
        }
        footer_hash = df.limit(1).select(
            text.md5_long(F.lit(footer)).alias("h")
        ).first()["h"]
        nav_hash = df.limit(1).select(
            text.md5_long(F.lit(nav)).alias("h")
        ).first()["h"]
        assert got[footer_hash] == (4, 2)
        # within-source repetition is filtered by min_sources
        assert nav_hash not in got
        # without the source gate it shows up
        got_nosrc = {
            r.s: r.n_docs
            for r in text.boilerplate_ngrams(
                df, "doc_id", "t", shingle_n=3, min_docs=3,
            ).collect()
        }
        assert got_nosrc[nav_hash] == 3
        # duplicated shingles inside one doc count that doc once
        dup_df = spark.createDataFrame(
            [
                Row(doc_id=0, source="s", t=f"{footer} x {footer}"),
                Row(doc_id=1, source="s", t=footer),
            ]
        )
        dup = {
            r.s: r.n_docs
            for r in text.boilerplate_ngrams(
                dup_df, "doc_id", "t", shingle_n=3, min_docs=2,
            ).collect()
        }
        assert dup[footer_hash] == 2


class TestMultimodal:
    def test_decode_media_meta_matches_bytes(self, spark, docs):
        media = multimodal.attach_binary_payload(docs, "doc_id", "text")
        assert [f.name for f in media.schema["media"].dataType.fields] == [
            "mime", "n_bytes",
        ]
        meta = {r.doc_id: r for r in multimodal.decode_media_meta(media).collect()}
        for row in docs.collect():
            payload = row.text.encode("utf-8")
            got = meta[row.doc_id]
            assert got.n_bytes == len(payload)
            assert got.width == len(payload) % 640
            assert got.height == payload[0] % 480

    def test_decode_image_both_branches(self, spark, docs):
        # one test, both branches, no skips: with Pillow the real
        # decoder runs (true dims, garbage -> NULL dims); without it the
        # import gate must raise a clear NotImplementedError
        try:
            import PIL.Image as PILImage
        except ImportError:
            media = multimodal.attach_binary_payload(docs, "doc_id", "text")
            with pytest.raises(NotImplementedError, match="Pillow"):
                multimodal.decode_image(media)
            return
        import io

        from pyspark.sql import Row as R

        buf = io.BytesIO()
        PILImage.new("RGB", (7, 5)).save(buf, format="PNG")
        rows = [
            R(doc_id=0, payload=bytearray(buf.getvalue())),
            R(doc_id=1, payload=bytearray(b"not an image")),
        ]
        media = spark.createDataFrame(rows)
        out = {r.doc_id: r for r in multimodal.decode_image(media).collect()}
        assert (out[0].width, out[0].height, out[0].mode) == (7, 5, "RGB")
        assert out[0].n_bytes == len(buf.getvalue())
        assert (out[1].width, out[1].height, out[1].mode) == (None, None, None)

    def test_parse_image_header_formats(self):
        # dependency-free header parse: every supported format + corrupt
        p = multimodal.parse_image_header
        assert p(b"P6\n640 480\n255\nxxx") == (640, 480, "rgb")
        assert p(b"P5 # comment\n 12\t34\n255\n") == (12, 34, "gray")
        assert p(b"P3\n# w h on separate lines\n7\n9\n255\n") == (7, 9, "rgb")
        png = (
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big") + b"IHDR"
            + (320).to_bytes(4, "big") + (200).to_bytes(4, "big")
            + bytes([8, 6, 0, 0, 0])
        )
        assert p(png) == (320, 200, "rgba")
        bmp = (
            b"BM" + bytes(16)
            + (64).to_bytes(4, "little") + (48).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        )
        assert p(bmp) == (64, 48, "rgb")
        # top-down BMP: negative height, dims are |h|
        bmp_td = (
            b"BM" + bytes(16)
            + (64).to_bytes(4, "little")
            + (-48).to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        )
        assert p(bmp_td) == (64, 48, "rgb")
        assert p(b"GIF89a" + (10).to_bytes(2, "little") + (20).to_bytes(2, "little")) == (10, 20, "palette")
        assert p(b"not an image") == (None, None, None)
        assert p(b"") == (None, None, None)
        assert p(b"P6\n0 5\n255\n") == (None, None, None)

    def test_decode_image_meta_dataframe(self, spark):
        # the Spark-side plumbing of the dependency-free decoder: PPM and
        # BMP payloads parse, garbage yields NULL dims
        from pyspark.sql import Row as R

        bmp = (
            b"BM" + bytes(16)
            + (64).to_bytes(4, "little") + (48).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        )
        rows = [
            R(doc_id=0, payload=bytearray(b"P6\n640 480\n255\n\x00\x01")),
            R(doc_id=1, payload=bytearray(bmp)),
            R(doc_id=2, payload=bytearray(b"garbage")),
        ]
        media = spark.createDataFrame(rows)
        out = {r.doc_id: r for r in multimodal.decode_image_meta(media).collect()}
        assert (out[0].width, out[0].height, out[0].mode) == (640, 480, "rgb")
        assert out[0].n_bytes == 17
        assert (out[1].width, out[1].height, out[1].mode) == (64, 48, "gray")
        assert (out[2].width, out[2].height, out[2].mode) == (None, None, None)

    def test_resize_payload(self, spark, docs):
        media = multimodal.attach_binary_payload(docs, "doc_id", "text")
        out = {r.doc_id: r for r in multimodal.resize_payload(media, 16).collect()}
        for row in docs.collect():
            payload = row.text.encode("utf-8")
            got = out[row.doc_id]
            assert got.n_bytes == len(payload)
            assert len(got.resized) <= 16
            if len(payload) > 16:
                stride = len(payload) // 16
                assert bytes(got.resized) == payload[::stride][:16]

    def test_sample_frames_expansion(self, spark, docs):
        media = multimodal.attach_binary_payload(docs, "doc_id", "text")
        frames = multimodal.sample_frames(media, frame_bytes=16, every_nth=4)
        rows = frames.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for row in docs.collect():
            payload = row.text.encode("utf-8")
            n_frames = (len(payload) + 15) // 16
            expected = (n_frames + 3) // 4  # every 4th
            got = sorted(by_doc[row.doc_id], key=lambda r: r.frame_idx)
            assert len(got) == expected
            assert bytes(got[0].frame) == payload[:16]

    def test_audio_windows_overlap(self, spark, docs):
        media = multimodal.attach_binary_payload(docs, "doc_id", "text")
        wins = multimodal.audio_windows(media, win_bytes=32, hop_bytes=16)
        by_doc = {}
        for r in wins.collect():
            by_doc.setdefault(r.doc_id, []).append(r)
        for row in docs.collect():
            payload = row.text.encode("utf-8")
            got = sorted(by_doc[row.doc_id], key=lambda r: r.win_idx)
            assert len(got) == -(-len(payload) // 16)  # one per hop start
            for r in got:
                expect = payload[r.win_idx * 16 : r.win_idx * 16 + 32]
                assert bytes(r.window) == expect
                assert r.win_len == len(expect)
            # consecutive windows overlap by win - hop = 16 bytes
            for a, b in zip(got, got[1:]):
                if a.win_len == 32:
                    assert bytes(a.window)[16:] == bytes(b.window)[: a.win_len - 16]

    def test_audio_windows_rejects_bad_hop(self, spark, docs):
        media = multimodal.attach_binary_payload(docs, "doc_id", "text")
        with pytest.raises(ValueError):
            multimodal.audio_windows(media, win_bytes=8, hop_bytes=16)


class TestAsofJoin:
    def test_semantics(self, spark):
        ev = spark.createDataFrame(
            [
                Row(event_id=1, k=1, t=dt.datetime(2024, 1, 10)),
                Row(event_id=2, k=1, t=dt.datetime(2024, 1, 20)),
                Row(event_id=3, k=2, t=dt.datetime(2024, 1, 5)),
                Row(event_id=4, k=3, t=dt.datetime(2024, 1, 5)),  # no right rows
            ]
        )
        ref = spark.createDataFrame(
            [
                Row(k=1, rt=dt.datetime(2024, 1, 8), val=10),
                Row(k=1, rt=dt.datetime(2024, 1, 15), val=20),
                Row(k=2, rt=dt.datetime(2024, 1, 5), val=30),   # exact ts: matches
                Row(k=2, rt=dt.datetime(2024, 1, 9), val=40),   # future: ignored
            ]
        )
        out = asof_join(ev, ref, on="k", left_time="t", right_time="rt",
                        payload_cols=["val"])
        got = {r.event_id: r.val for r in out.collect()}
        assert got == {1: 10, 2: 20, 3: 30, 4: None}
        assert out.count() == ev.count()


class TestDistributedKs:
    """ks_d_statistic_distributed must equal the cross-CDF windowed
    construction exactly, on both discrete and near-unique columns."""

    def test_matches_windowed_construction(self, spark):
        from datajudge_spark.operators.stats import (
            get_ks_2sample,
            ks_d_statistic_distributed,
        )
        from datajudge_spark.reference import DataReference
        from datajudge_spark.sources import ExpressionDataSource

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        d1 = li.where("l_returnflag = 'A'")
        d2 = li.where("l_returnflag = 'R'")
        for col in ("l_quantity", "l_extendedprice"):
            r1 = DataReference(ExpressionDataSource(d1, "a"), [col])
            r2 = DataReference(ExpressionDataSource(d2, "b"), [col])
            d_old, _ = get_ks_2sample(spark, r1, r2)
            d_new = ks_d_statistic_distributed(d1, d2, col, col)
            assert abs(d_old - d_new) < 1e-15

    def test_empty_sample_raises(self, spark):
        from datajudge_spark.operators.stats import ks_d_statistic_distributed

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        with pytest.raises(ValueError):
            ks_d_statistic_distributed(
                li.where("l_quantity < -1"), li, "l_quantity", "l_quantity"
            )


class TestDuplicateClusters:
    # local_threshold=0 forces the distributed propagation path; the
    # default takes driver-side union-find — both must agree
    @pytest.mark.parametrize("threshold", [2_000_000, 0])
    def test_components(self, spark, threshold):
        pairs = spark.createDataFrame(
            [Row(d1=1, d2=2), Row(d1=2, d2=3),   # chain 1-2-3
             Row(d1=10, d2=11),                  # pair
             Row(d1=20, d2=21), Row(d1=21, d2=22), Row(d1=20, d2=22)]  # triangle
        )
        out = {r.doc_id: r.cluster_id
               for r in dedup.duplicate_clusters(
                   pairs, local_threshold=threshold).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    @pytest.mark.parametrize("threshold", [2_000_000, 0])
    def test_long_chain_converges(self, spark, threshold):
        n = 12
        pairs = spark.createDataFrame([Row(d1=i, d2=i + 1) for i in range(n)])
        out = {r.doc_id: r.cluster_id
               for r in dedup.duplicate_clusters(
                   pairs, local_threshold=threshold).collect()}
        assert set(out.values()) == {0}
        assert len(out) == n + 1


class TestSampling:
    def test_partitioning_invariance(self, spark):
        from datajudge_spark.pipeline import sampling

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        base = {r.k for r in
                sampling.deterministic_sample(df, "k", 10).collect()}
        resharded = {r.k for r in
                     sampling.deterministic_sample(
                         df.repartition(7), "k", 10).collect()}
        assert base == resharded
        assert 0 < len(base) < 2000

    def test_salts_are_independent(self, spark):
        from datajudge_spark.pipeline import sampling

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        a = {r.k for r in
             sampling.deterministic_sample(df, "k", 50, salt=1).collect()}
        b = {r.k for r in
             sampling.deterministic_sample(df, "k", 50, salt=2).collect()}
        assert a != b
        # ~50% each, overlap ~25% of the universe — loose bounds
        assert 800 < len(a) < 1200 and 800 < len(b) < 1200
        assert 300 < len(a & b) < 700

    def test_rate_monotonicity(self, spark):
        from datajudge_spark.pipeline import sampling

        df = spark.range(0, 1000).withColumnRenamed("id", "k")
        small = {r.k for r in
                 sampling.deterministic_sample(df, "k", 10).collect()}
        big = {r.k for r in
               sampling.deterministic_sample(df, "k", 60).collect()}
        assert small <= big  # nested samples: rate-10 subset of rate-60

    def test_stratified_counts(self, spark):
        from datajudge_spark.pipeline import sampling

        rows = [Row(lang="en", doc_id=i) for i in range(500)]
        rows += [Row(lang="de", doc_id=i + 500) for i in range(500)]
        df = spark.createDataFrame(rows)
        out = {r.stratum: r for r in sampling.stratified_sample_counts(
            df, "lang", "doc_id", rates={"en": 10}, default_rate=50
        ).collect()}
        assert out["en"].total == 500 and out["de"].total == 500
        # deterministic hash buckets -> loose binomial bounds
        assert 20 <= out["en"].sampled <= 90
        assert 180 <= out["de"].sampled <= 320
        assert out["en"].observed_rate == round(out["en"].sampled / 500, 6)


class TestDecontamination:
    def test_planted_contamination(self, spark):
        from datajudge_spark.pipeline import decontam

        train = spark.createDataFrame([
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="pack my box with five dozen liquor jugs"),
        ])
        ev = spark.createDataFrame([
            # identical to train doc 1 -> fully contaminated
            Row(doc_id=10, text="the quick brown fox jumps over the lazy dog"),
            # novel text -> zero overlap
            Row(doc_id=11, text="completely novel words appearing nowhere else at all"),
            # 4 tokens = two 3-grams, one shared with train doc 2
            Row(doc_id=12, text="pack my box today"),
            # shorter than the shingle width -> absent from the output
            Row(doc_id=13, text="too short"),
        ])
        out = {r.eval_id: r for r in decontam.ngram_contamination(
            train, ev, "doc_id", "text", shingle_n=3).collect()}
        assert out[10].contamination == 1.0 and out[10].shared == out[10].total
        assert out[11].contamination == 0.0 and out[11].shared == 0
        assert out[12].total == 2 and out[12].shared == 1
        assert 13 not in out

    def test_train_multiplicity_is_ignored(self, spark):
        from datajudge_spark.pipeline import decontam

        # the same train n-gram appearing in many train docs counts once
        train = spark.createDataFrame(
            [Row(doc_id=i, text="alpha beta gamma") for i in range(5)]
        )
        ev = spark.createDataFrame([Row(doc_id=99, text="alpha beta gamma")])
        row = decontam.ngram_contamination(
            train, ev, "doc_id", "text", shingle_n=3).collect()[0]
        assert (row.total, row.shared, row.contamination) == (1, 1, 1.0)


class TestNgramTopK:
    def test_boundary_is_deterministic(self, spark):
        from datajudge_spark.pipeline import text as T

        df = spark.createDataFrame([
            Row(text="a b a b a b"),   # "a b" x3, "b a" x2
            Row(text="c d"),           # "c d" x1
            Row(text="b c"),           # "b c" x1
        ])
        out = [(r.ngram, r.cnt) for r in T.ngram_topk(df, "text", n=2, k=3).collect()]
        # ties at cnt=1 break by ngram ASC: "b c" beats "c d"
        assert out == [("a b", 3), ("b a", 2), ("b c", 1)]


class TestChunking:
    def test_chunk_shapes(self, spark):
        from datajudge_spark.pipeline import text as T

        df = spark.createDataFrame([
            Row(doc_id=1, text=" ".join(f"w{i}" for i in range(10))),  # 10 toks
            Row(doc_id=2, text="only three tokens"),
            Row(doc_id=3, text=""),   # tokens('') -> [''] -> one chunk
        ])
        out = sorted(
            T.chunk_documents(df, "doc_id", "text", chunk_tokens=4).collect(),
            key=lambda r: (r.doc_id, r.chunk_idx),
        )
        d1 = [r for r in out if r.doc_id == 1]
        assert [r.n_tokens for r in d1] == [4, 4, 2]
        assert d1[0].chunk_text == "w0 w1 w2 w3"
        assert d1[2].chunk_text == "w8 w9"
        d2 = [r for r in out if r.doc_id == 2]
        assert len(d2) == 1 and d2[0].n_tokens == 3
        d3 = [r for r in out if r.doc_id == 3]
        assert len(d3) == 1 and d3[0].chunk_text == ""

    def test_reassembly_roundtrip(self, spark):
        from datajudge_spark.pipeline import text as T

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        chunks = T.chunk_documents(docs, "doc_id", "text", chunk_tokens=7)
        glued = (
            chunks.orderBy("doc_id", "chunk_idx")
            .groupBy("doc_id")
            .agg(F.array_join(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text")))
                .getField("chunk_text"), " ").alias("re"))
        )
        orig = docs.select(
            "doc_id", F.array_join(F.split(F.trim("text"), r"\s+"), " ").alias("t")
        )
        bad = glued.join(orig, "doc_id").where(F.col("re") != F.col("t")).count()
        assert bad == 0


class TestRepetition:
    def test_signals(self, spark):
        from datajudge_spark.pipeline import text as T

        df = spark.createDataFrame([
            Row(doc_id=1, text="spam spam spam spam"),        # all same token
            Row(doc_id=2, text="all words here are unique"),  # no repetition
            Row(doc_id=3, text="one"),                        # no bigrams
        ])
        out = {r.doc_id: r for r in
               T.repetition_signals(df, "doc_id", "text").collect()}
        assert out[1].dup_token_fraction == 0.75       # 1 distinct of 4
        assert out[1].top_bigram_fraction == 1.0       # "spam spam" x3 of 3
        assert out[2].dup_token_fraction == 0.0
        assert out[2].top_bigram_fraction == 0.25      # 4 bigrams, all unique
        assert out[3].top_bigram_fraction == 0.0       # absent bigrams -> 0


class TestStratifiedTrim:
    def test_matches_per_group_exact_percentile(self, spark):
        from datajudge_spark.operators.scalars import exact_percentile_df
        from datajudge_spark.pipeline import sampling

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        thr = {r.stratum: r.threshold for r in
               sampling.stratified_percentile_threshold(
                   docs, "lang", "n_chars", 10.0).collect()}
        for lang in thr:
            single = exact_percentile_df(
                docs.where(F.col("lang") == lang), "n_chars", 10.0
            ).first()["value"]
            assert float(thr[lang]) == float(single), lang

    def test_trim_counts_are_consistent(self, spark):
        from datajudge_spark.pipeline import sampling

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for r in sampling.stratified_trim_counts(
                docs, "lang", "n_chars", 10.0).collect():
            assert r.kept + r.trimmed == r.total
            # at most ~10% below the p10 threshold, and never everything
            assert r.trimmed <= 0.1 * r.total + 1
            assert r.kept > 0

    def test_threshold_join_is_broadcast(self, spark):
        from datajudge_spark.pipeline import sampling

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (sampling.stratified_trim_counts(docs, "lang", "n_chars", 10.0)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan


class TestTfIdf:
    def test_discriminative_terms_win(self, spark):
        import math

        from datajudge_spark.pipeline import text as T

        df = spark.createDataFrame([
            Row(doc_id=1, text="common zebra common common"),
            Row(doc_id=2, text="common common yak"),
            Row(doc_id=3, text="common common common"),
        ])
        out = {(r.doc_id, r.rn): r for r in
               T.tfidf_top_terms(df, "doc_id", "text", k=2).collect()}
        # "common" appears in all docs -> idf = ln(1) = 0; unique terms win
        assert out[(1, 1)].term == "zebra"
        assert out[(1, 1)].score == round(1 * math.log(3 / 1), 6)
        assert out[(2, 1)].term == "yak"
        # doc 3 has only zero-idf terms; "common" still ranked (score 0)
        assert out[(3, 1)].term == "common" and out[(3, 1)].score == 0.0
        # k=2 but doc 3 has one distinct term -> no rn=2 row
        assert (3, 2) not in out


class TestSourceQualityReport:
    def test_pooled_math(self, spark):
        from datajudge_spark.pipeline import text as T

        df = spark.createDataFrame([
            Row(source="web", text="spam spam spam spam"),   # 4 tok, 1 dist, 3 bg (top 3)
            Row(source="web", text="a b"),                   # 2 tok, 2 dist, 1 bg (top 1)
            Row(source="book", text="one"),                  # 1 tok, no bigrams
        ])
        out = {r.stratum: r for r in
               T.source_quality_report(df, "source", "text").collect()}
        web = out["web"]
        assert web.n_docs == 2 and web.total_tokens == 6
        assert web.pooled_dup_fraction == round(1 - 3 / 6, 6)
        assert web.pooled_top_bigram_fraction == round((3 + 1) / 4, 6)
        book = out["book"]
        assert book.total_tokens == 1
        assert book.pooled_top_bigram_fraction == 0.0
        assert book.avg_chars == 3.0


class TestPacking:
    def test_shard_shuffle_deterministic_across_partitionings(self, spark):
        from datajudge_spark.pipeline.packing import shard_shuffle

        df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        a = sorted(map(tuple, shard_shuffle(df, "doc_id", 8).collect()))
        b = sorted(
            map(tuple, shard_shuffle(df.repartition(13), "doc_id", 8).collect())
        )
        assert a == b

    def test_shard_shuffle_positions_contiguous(self, spark):
        from datajudge_spark.pipeline.packing import shard_shuffle

        out = shard_shuffle(
            spark.range(0, 200).withColumnRenamed("id", "doc_id"), "doc_id", 4
        )
        per_shard = (
            out.groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.min("pos").alias("lo"),
                F.max("pos").alias("hi"),
            )
            .collect()
        )
        assert {r["shard"] for r in per_shard} == {0, 1, 2, 3}
        for r in per_shard:
            assert (r["lo"], r["hi"]) == (1, r["n"])  # dense 1..n per shard

    def test_pack_sequences_running_layout(self, spark):
        from datajudge_spark.pipeline.packing import pack_sequences, shard_shuffle

        df = spark.createDataFrame(
            [Row(doc_id=i, n_tokens=100) for i in range(40)]
        )
        out = pack_sequences(df, "doc_id", "n_tokens", budget=256, n_shards=1)
        rows = sorted(out.collect(), key=lambda r: (r.pack_id, r.pack_offset))
        # single shard: offsets are the running total mod 256 of docs in
        # shuffle order; doc k (0-based in order) starts at 100*k
        order = [
            r.doc_id
            for r in shard_shuffle(df, "doc_id", 1).orderBy("pos").collect()
        ]
        expected = {
            doc: ((100 * k) // 256, (100 * k) % 256)
            for k, doc in enumerate(order)
        }
        got = {r.doc_id: (r.pack_id, r.pack_offset) for r in rows}
        assert got == expected

    def test_pack_sequences_rejects_bad_budget(self, spark):
        from datajudge_spark.pipeline.packing import pack_sequences

        with pytest.raises(ValueError):
            pack_sequences(
                spark.createDataFrame([Row(doc_id=1, n_tokens=3)]),
                "doc_id",
                "n_tokens",
                budget=0,
            )


class TestRedaction:
    def test_redact_terms_counts_and_rewrites(self, spark):
        rows = [
            Row(doc_id=0, text="call me at home"),
            Row(doc_id=1, text="secret secret stuff"),
            Row(doc_id=2, text="nothing here"),
        ]
        out = {
            r.doc_id: r
            for r in text.redact_terms(
                spark.createDataFrame(rows), "doc_id", "text", r"\bsecret\b", "<X>"
            ).collect()
        }
        assert out[0].n_redacted == 0
        assert out[1].n_redacted == 2
        assert out[1].redacted_len == len("<X> <X> stuff")
        assert out[2].n_redacted == 0

    def test_redact_pii_default_patterns(self, spark):
        rows = [
            Row(doc_id=0, text="mail bob@example.com or 192.168.0.1 now"),
            Row(doc_id=1, text="ssn 123-45-6789 leaked"),
            Row(doc_id=2, text="clean document"),
        ]
        out = {
            r.doc_id: r.n_redacted
            for r in text.redact_pii(
                spark.createDataFrame(rows), "doc_id", "text"
            ).collect()
        }
        assert out[0] == 2 and out[1] == 1 and out[2] == 0


class TestQuantize:
    def test_quantize_unit_axes(self, spark):
        df = spark.createDataFrame(
            [
                Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
                Row(vec_id=1, embedding=[0.0, -2.0, 0.0]),
                Row(vec_id=2, embedding=[0.0, 0.0, 0.0]),  # zero vector
            ]
        )
        out = {
            r.vec_id: r
            for r in similarity.quantize_embeddings(df, "vec_id", "embedding").collect()
        }
        # axis vectors quantize to +-127 on one component
        assert out[0].q_checksum == 127 * 1
        assert out[1].q_checksum == -127 * 2
        assert out[2].q_checksum == 0 and out[2].l2_norm == 0.0
        assert all(r.dim == 3 for r in out.values())

    def test_quantize_components_in_range(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            Row(vec_id=i, embedding=[rng.uniform(-5, 5) for _ in range(16)])
            for i in range(50)
        ]
        df = spark.createDataFrame(rows)
        # |q_i| <= 127 implies |checksum| <= 127 * sum(1..16)
        bound = 127 * sum(range(1, 17))
        for r in similarity.quantize_embeddings(df, "vec_id", "embedding").collect():
            assert abs(r.q_checksum) <= bound
            assert r.l2_norm > 0


class TestHardeningKnobs:
    def test_iter_checkpoint_reliable_when_dir_set(self, spark, tmp_path):
        from datajudge_spark.pipeline._util import iter_checkpoint

        # no checkpoint dir -> localCheckpoint path still truncates lineage
        out = iter_checkpoint(spark.range(10))
        assert out.count() == 10

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            out2 = iter_checkpoint(spark.range(7).withColumn("x", F.lit(1)))
            assert out2.count() == 7
            # reliable checkpoint writes to the configured directory
            assert any((tmp_path / "ckpt").rglob("*"))
        finally:
            getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
                spark._jvm.scala.Option.apply(None)
            )

    def test_clusters_with_reliable_checkpoint(self, spark, tmp_path):
        # the distributed CC loop works identically under reliable
        # checkpointing (the unreliable-cluster configuration)
        rows = [("a", "b"), ("b", "c"), ("x", "y")]
        pairs = spark.createDataFrame(rows, ["d1", "d2"])
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt2"))
        try:
            out = dedup.duplicate_clusters(pairs, local_threshold=0)
            got = {(r.doc_id, r.cluster_id) for r in out.collect()}
        finally:
            getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
                spark._jvm.scala.Option.apply(None)
            )
        assert got == {
            ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
        }


class TestClusterRepresentatives:
    def test_picks_longest_then_smallest_id(self, spark):
        from datajudge_spark.pipeline.dedup import cluster_representatives

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, cluster_id long",
        )
        docs = spark.createDataFrame(
            [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)],
            "doc_id long, n_chars long",
        )
        kept = {
            (r["cluster_id"], r["doc_id"])
            for r in cluster_representatives(clusters, docs).collect()
        }
        # cluster 1: docs 2 and 3 tie on length -> smallest id (2);
        # cluster 10: tie -> doc 10
        assert kept == {(1, 2), (10, 10)}

    def test_custom_order(self, spark):
        from pyspark.sql import functions as F

        from datajudge_spark.pipeline.dedup import cluster_representatives

        clusters = spark.createDataFrame(
            [(1, 1), (2, 1)], "doc_id long, cluster_id long"
        )
        docs = spark.createDataFrame(
            [(1, 100), (2, 5)], "doc_id long, n_chars long"
        )
        kept = cluster_representatives(
            clusters, docs, order_cols=[F.col("n_chars").asc()]
        ).collect()
        assert [r["doc_id"] for r in kept] == [2]


class TestChunkDuplicateStats:
    def test_detects_shared_chunks(self, spark):
        from datajudge_spark.pipeline.dedup import chunk_duplicate_stats

        boiler = "t0 t1 t2 t3"  # one full 4-token chunk, shared
        docs = spark.createDataFrame(
            [
                (1, boiler + " unique one text here"),
                (2, boiler + " other tail words go here now"),
                (3, "completely different body text"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"])
            for r in chunk_duplicate_stats(
                docs, "doc_id", "text", chunk_tokens=4
            ).collect()
        }
        assert rows[1][1] == 1 and rows[2][1] == 1  # the shared boilerplate
        assert rows[3] == (1, 0)

    def test_identical_docs_fully_duplicated(self, spark):
        from datajudge_spark.pipeline.dedup import chunk_duplicate_stats

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
            "doc_id long, text string",
        )
        rows = chunk_duplicate_stats(docs, "doc_id", "text", 4).collect()
        for r in rows:
            assert r["n_chunks"] == r["n_dup_chunks"] == 2


class TestCovariancePca:
    def test_covariance_matches_numpy(self, spark):
        import numpy as np

        from datajudge_spark.pipeline.similarity import covariance_matrix

        rng = np.random.default_rng(11)
        data = rng.normal(size=(40, 5)).astype(np.float32)
        rows = [(i, [float(x) for x in data[i]]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, v array<float>")
        got = {
            (r["comp_i"], r["comp_j"]): r["cov"]
            for r in covariance_matrix(df, "vec_id", "v").collect()
        }
        # expected: population covariance of the 6dp-rounded data
        rounded = np.round(data.astype(np.float64), 6)
        exp = np.cov(rounded, rowvar=False, bias=True)
        for (i, j), cov in got.items():
            assert cov == pytest.approx(exp[i - 1, j - 1], abs=1e-9)
        assert len(got) == 15  # upper triangle of 5x5

    def test_components_limit(self, spark):
        from datajudge_spark.pipeline.similarity import covariance_matrix

        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [2.0, 1.0, 0.0])],
            "vec_id long, v array<float>",
        )
        got = covariance_matrix(df, "vec_id", "v", components=2).collect()
        assert {(r["comp_i"], r["comp_j"]) for r in got} == {
            (1, 1), (1, 2), (2, 2)
        }

    def test_pca_recovers_dominant_direction(self, spark):
        import numpy as np

        from datajudge_spark.pipeline.similarity import pca_components

        # points along (1, 1)/sqrt(2) with small orthogonal noise
        rng = np.random.default_rng(3)
        t = rng.normal(size=200) * 5.0
        noise = rng.normal(size=200) * 0.05
        xs = (t + noise) / np.sqrt(2)
        ys = (t - noise) / np.sqrt(2)
        rows = [(i, [float(xs[i]), float(ys[i])]) for i in range(200)]
        df = spark.createDataFrame(rows, "vec_id long, v array<float>")
        comps = pca_components(df, "vec_id", "v", k=2)
        assert comps[0][0] > comps[1][0] > 0
        v0 = np.array(comps[0][1])
        target = np.array([1.0, 1.0]) / np.sqrt(2)
        assert abs(float(np.dot(v0, target))) > 0.999
        # deterministic sign: largest loading positive
        assert v0[np.argmax(np.abs(v0))] > 0


class TestBigramLm:
    def test_known_corpus(self, spark):
        import math

        from datajudge_spark.pipeline.text import bigram_logprob

        # corpus bigrams: "a b" x2 (doc1), "a c" x1 (doc2) -> B=2
        # cf(a)=3; p(b|a)=(2+1)/(3+2)=0.6, p(c|a)=(1+1)/(3+2)=0.4
        rows = [(1, "a b a b"), (2, "a c"), (3, "x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in bigram_logprob(df, "doc_id", "text").collect()}
        # doc 3 has <2 tokens: absent
        assert set(got) == {1, 2}
        # doc1 bigrams: (a,b),(b,a),(a,b) -> counts: ab x2, ba x1, ac x1
        # recompute expected from the actual model (B=3 distinct bigrams)
        cb = {("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1}
        cf = {"a": 3, "b": 1}
        B = len(cb)
        p = {k: (v + 1) / (cf[k[0]] + B) for k, v in cb.items()}
        exp1 = (2 * -math.log(p[("a", "b")]) + 1 * -math.log(p[("b", "a")])) / 3
        exp2 = -math.log(p[("a", "c")])
        assert got[1]["n_bigrams"] == 3
        assert got[1]["mean_neg_logprob"] == pytest.approx(exp1, abs=1e-6)
        assert got[2]["mean_neg_logprob"] == pytest.approx(exp2, abs=1e-6)


class TestMinhashJaccardEstimate:
    def test_exact_side_and_bounded_error(self, spark, docs):
        from datajudge_spark.pipeline.dedup import minhash_jaccard_estimate

        # the docs fixture's (0, 1) near-dup pair is known to collide
        # under these exact parameters (test_minhash_lsh_finds_near_dup)
        got = {(r.d1, r.d2): r for r in minhash_jaccard_estimate(
            docs, "doc_id", "text", num_hashes=12, shingle_n=3
        ).collect()}
        assert (0, 1) in got
        r = got[(0, 1)]
        # expected exact Jaccard from first principles on the texts
        texts = {d.doc_id: d.text for d in docs.collect()}

        def shingles(t):
            w = t.split()
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        s0, s1 = shingles(texts[0]), shingles(texts[1])
        expected = len(s0 & s1) / len(s0 | s1)
        assert r["exact"] == pytest.approx(round(expected, 6), abs=1e-9)
        assert 0.0 <= r["est"] <= 1.0
        assert r["abs_err"] == pytest.approx(abs(r["est"] - r["exact"]), abs=1e-6)
        # the exact-dup pair (0, 3) must sit at 1.0 on both columns
        assert got[(0, 3)]["exact"] == 1.0 and got[(0, 3)]["est"] == 1.0

    def test_identical_docs_estimate_one(self, spark):
        from datajudge_spark.pipeline.dedup import minhash_jaccard_estimate

        txt = "alpha beta gamma delta epsilon zeta eta theta"
        df = spark.createDataFrame(
            [(1, txt), (2, txt)], "doc_id long, text string"
        )
        r = minhash_jaccard_estimate(df, "doc_id", "text").first()
        assert (r["est"], r["exact"], r["abs_err"]) == (1.0, 1.0, 0.0)


class TestWeightedSample:
    def test_favors_heavy_weights_and_is_deterministic(self, spark):
        from datajudge_spark.pipeline.sampling import weighted_sample

        # 100 heavy keys (w=50) among 900 light (w=1): a k=100 draw
        # should be dominated by heavy keys (E[heavy] ~ 85 under A-Res;
        # uniform would give ~10) — and identical on every run
        rows = [(i, 50 if i < 100 else 1) for i in range(1000)]
        df = spark.createDataFrame(rows, "k long, w long")
        got1 = [r.key for r in weighted_sample(df, "k", "w", k=100).collect()]
        got2 = [
            r.key
            for r in weighted_sample(
                df.repartition(7), "k", "w", k=100
            ).collect()
        ]
        assert got1 == got2, "must be partition- and run-stable"
        heavy = sum(1 for k in got1 if k < 100)
        assert heavy > 50, f"heavy keys under-sampled: {heavy}/100"

    def test_nonpositive_weights_excluded(self, spark):
        from datajudge_spark.pipeline.sampling import weighted_sample

        rows = [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)]
        df = spark.createDataFrame(rows, "k long, w double")
        got = {r.key for r in weighted_sample(df, "k", "w", k=10).collect()}
        assert got == {1, 5}

    def test_salt_gives_independent_draw(self, spark):
        from datajudge_spark.pipeline.sampling import weighted_sample

        rows = [(i, 1) for i in range(500)]
        df = spark.createDataFrame(rows, "k long, w long")
        a = {r.key for r in weighted_sample(df, "k", "w", k=50).collect()}
        b = {
            r.key
            for r in weighted_sample(df, "k", "w", k=50, salt=1).collect()
        }
        assert a != b
        # both are valid 50-element draws
        assert len(a) == len(b) == 50


class TestDensityCorePoints:
    def test_cluster_members_core_isolated_not(self, spark):
        import numpy as np

        from datajudge_spark.pipeline import similarity

        rng = np.random.default_rng(11)
        bases = rng.normal(size=(3, 12))
        bases /= np.linalg.norm(bases, axis=1, keepdims=True)
        rows = []
        vid = 0
        for c in range(3):  # 3 tight clusters of 5
            for _ in range(5):
                v = bases[c] + rng.normal(scale=0.02, size=12)
                v /= np.linalg.norm(v)
                rows.append(Row(vid=vid, vvec=[float(x) for x in v]))
                vid += 1
        for _ in range(3):  # isolated noise
            v = rng.normal(size=12)
            v /= np.linalg.norm(v)
            rows.append(Row(vid=vid, vvec=[float(x) for x in v]))
            vid += 1
        vecs = spark.createDataFrame(rows)
        cent = vecs.where("vid IN (0, 5, 10, 15)").select(
            F.col("vid").alias("cell"), F.col("vvec").alias("centvec")
        )
        got = {
            r.vid: (r.n_neighbors, r.is_core)
            for r in similarity.density_core_points(
                vecs, cent, threshold=0.95, min_neighbors=3, nprobe=4
            ).collect()
        }
        assert len(got) == 18  # isolated points present with n=0
        for v in range(15):
            assert got[v] == (4, True), (v, got[v])
        for v in range(15, 18):
            assert got[v][0] == 0 and got[v][1] is False


class TestBM25TopK:
    def test_matches_hand_computation(self, spark):
        import math

        from datajudge_spark.pipeline.text import bm25_topk

        corpus = {
            1: "hash join hash scan",
            2: "vector vector vector sort",
            3: "merge sort scan filter",
            4: "hash vector",
        }
        df = spark.createDataFrame(
            [(i, t) for i, t in corpus.items()], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: (r["score_e6"], r["n_terms"])
            for r in bm25_topk(
                df, "doc_id", "text", ["hash", "vector"], k=10
            ).collect()
        }
        # hand BM25: N=4, avgdl=14/4, df(hash)=2, df(vector)=2
        n, avgdl, k1, b = 4, 14 / 4, 1.2, 0.75
        tfs = {1: {"hash": 2}, 2: {"vector": 3}, 4: {"hash": 1, "vector": 1}}
        dls = {1: 4, 2: 4, 3: 4, 4: 2}
        want = {}
        for d, terms in tfs.items():
            se6 = 0
            for t, tf in terms.items():
                idf = math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0)
                s = idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * dls[d] / avgdl)
                )
                se6 += round(s * 1e6)
            want[d] = (se6, len(terms))
        assert got == want  # doc 3 matches nothing and must be absent

    def test_topk_cut_deterministic_tiebreak(self, spark):
        from datajudge_spark.pipeline.text import bm25_topk

        # 6 identical docs tie exactly; k=3 must keep the 3 smallest ids
        df = spark.createDataFrame(
            [(i, "hash scan") for i in range(6)], ["doc_id", "text"]
        )
        ids = [
            r["doc_id"]
            for r in bm25_topk(df, "doc_id", "text", ["hash"], k=3).collect()
        ]
        assert ids == [0, 1, 2]


class TestRrfFuse:
    def test_hand_computed_fusion_and_missing_items(self, spark):
        from datajudge_spark.pipeline.similarity import rrf_fuse

        lex = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], ["id", "rank"]
        )
        dense = spark.createDataFrame(
            [(3, 1), (4, 2)], ["id", "rank"]
        )
        rows = {
            r["id"]: r for r in rrf_fuse([lex, dense], k=10).collect()
        }
        # item 3: both lists; items 1,2: lexical only; item 4: dense only
        assert round(1 / 63 + 1 / 61, 6) == rows[3]["rrf"]
        assert round(1 / 61, 6) == rows[1]["rrf"]
        assert rows[1]["rank_1"] is None and rows[4]["rank_0"] is None
        # fused order: 3 (two contributions) first
        ordered = sorted(rows.values(), key=lambda r: (-r["rrf"], r["id"]))
        assert ordered[0]["id"] == 3

    def test_k_cut_and_tiebreak(self, spark):
        from datajudge_spark.pipeline.similarity import rrf_fuse

        # same rank in disjoint lists -> equal score, id tiebreak
        a = spark.createDataFrame([(10, 1)], ["id", "rank"])
        b = spark.createDataFrame([(5, 1)], ["id", "rank"])
        got = [r["id"] for r in rrf_fuse([a, b], k=1).collect()]
        assert got == [5]

    def test_requires_a_ranking(self, spark):
        import pytest as _pytest

        from datajudge_spark.pipeline.similarity import rrf_fuse

        with _pytest.raises(ValueError):
            rrf_fuse([], k=3)


class TestMmrRerank:
    def _cands(self, spark):
        # 1 and 2 are near-identical high-relevance vectors; 3 is
        # orthogonal with lower relevance
        return spark.createDataFrame(
            [
                (1, [1.0, 0.0], 0.9),
                (2, [0.999, 0.01], 0.89),
                (3, [0.0, 1.0], 0.5),
            ],
            "id long, vec array<double>, rel double",
        )

    def test_diversification_beats_raw_relevance(self, spark):
        from datajudge_spark.pipeline.similarity import mmr_rerank

        picks = [
            r["id"]
            for r in mmr_rerank(self._cands(spark), k=2, lam=0.5)
            .orderBy("mmr_rank")
            .collect()
        ]
        # pure relevance would pick (1, 2); MMR skips the near-dup
        assert picks == [1, 3]

    def test_lambda_one_is_pure_relevance(self, spark):
        from datajudge_spark.pipeline.similarity import mmr_rerank

        picks = [
            r["id"]
            for r in mmr_rerank(self._cands(spark), k=3, lam=1.0)
            .orderBy("mmr_rank")
            .collect()
        ]
        assert picks == [1, 2, 3]

    def test_deterministic_tiebreak_and_bound(self, spark):
        import pytest as _pytest

        from datajudge_spark.pipeline.similarity import mmr_rerank

        tie = spark.createDataFrame(
            [(7, [1.0, 0.0], 0.5), (3, [0.0, 1.0], 0.5)],
            "id long, vec array<double>, rel double",
        )
        first = mmr_rerank(tie, k=1).collect()[0]
        assert first["id"] == 3  # equal score -> smaller id
        with _pytest.raises(ValueError):
            mmr_rerank(self._cands(spark), k=1, max_candidates=2)


class TestWinnowing:
    @staticmethod
    def _naive_fps(text, k, w):
        import hashlib

        toks = text.split()
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
        ]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}

    def test_matches_naive_selection(self, spark):
        from datajudge_spark.pipeline.dedup import winnowing_fingerprints

        texts = [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "short doc"),
            (3, "a b c d e"),
            (4, ""),
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {}
        for r in winnowing_fingerprints(df, "doc_id", "text", 4, 5).collect():
            got.setdefault(r["doc_id"], set()).add(r["fp"])
        for i, t in texts:
            assert got.get(i, set()) == self._naive_fps(t, 4, 5), i

    def test_shared_passage_guarantee(self, spark):
        from datajudge_spark.pipeline.dedup import winnowing_pairs

        # docs 1 and 2 share a passage of w+k-1 = 8 words inside
        # otherwise different text: the guarantee demands >= 1 shared
        # fingerprint; doc 3 shares nothing
        passage = "one two three four five six seven eight"
        rows = [
            (1, "intro words here " + passage + " tail piece"),
            (2, "completely different opening " + passage + " other end"),
            (3, "nothing in common with those documents at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["d1"], r["d2"]): r["n_shared"]
            for r in winnowing_pairs(df, "doc_id", "text", 4, 5).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] >= 1
        assert not any(3 in p for p in pairs)

    def test_hot_fingerprint_star(self, spark):
        from datajudge_spark.pipeline.dedup import winnowing_pairs

        # 6 identical docs with max_bucket=3: all-pairs (15) must thin
        # to a 5-row star against the min id, n_shared NULL
        rows = [(i, "same boilerplate text repeated here always") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = winnowing_pairs(
            df, "doc_id", "text", 4, 5, max_bucket=3
        ).collect()
        assert {(r["d1"], r["d2"]) for r in got} == {(0, i) for i in range(1, 6)}
        assert all(r["n_shared"] is None for r in got)

    def test_shared_and_hot_pair_emits_one_row(self, spark):
        from datajudge_spark.pipeline.dedup import winnowing_pairs

        # docs 0 and 1 share passage B (bucket size 2, counted) AND the
        # hot passage A (bucket size 5 > max_bucket, starred from min id
        # 0): the pair (0,1) sits in BOTH branches and must come out as
        # ONE row carrying the count, not a counted row plus a NULL row
        a = "common boilerplate text that every single document repeats verbatim here"
        b = "special shared secret passage that only the first two documents contain"
        rows = [(0, f"{b} {a}"), (1, f"{b} {a}")] + [
            (i, f"prefix{i} {a}") for i in range(2, 5)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = winnowing_pairs(
            df, "doc_id", "text", 4, 5, max_bucket=3
        ).collect()
        by_pair = {}
        for r in got:
            key = (r["d1"], r["d2"])
            assert key not in by_pair, f"duplicate pair row {key}"
            by_pair[key] = r["n_shared"]
        assert by_pair[(0, 1)] is not None and by_pair[(0, 1)] >= 1
        for j in (2, 3, 4):
            assert by_pair[(0, j)] is None

    def test_validation(self, spark):
        from datajudge_spark.pipeline.dedup import winnowing_fingerprints

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            winnowing_fingerprints(df, "doc_id", "text", k=0)


class TestSqlLiteralBuilders:
    """The r12 SQL-string expression builders must be value-identical to
    the Column-API builds they replaced (the rewrites exist only to cut
    py4j round-trips during plan build, never to change a result)."""

    def test_sql_num_lit_exactness(self, spark):
        from decimal import Decimal

        from datajudge_spark.operators.stats import _sql_num_lit

        cases = [
            0,
            7,
            -3,
            2**31 - 1,
            2**31,           # needs the L suffix to stay bigint
            -(2**31),
            2**62,
            0.1,             # repr round-trip must be exact
            -123.456e-7,
            3.0,
            Decimal("12.340"),   # scale 3 preserved
            Decimal("-0.5"),
            Decimal("7"),
        ]
        exprs, lits = [], []
        for i, x in enumerate(cases):
            s = _sql_num_lit(x)
            assert s is not None, x
            exprs.append(F.expr(s).alias(f"s{i}"))
            lits.append(F.lit(x).alias(f"l{i}"))
        row = spark.range(1).select(*exprs, *lits).first()
        for i, x in enumerate(cases):
            got, want = row[f"s{i}"], row[f"l{i}"]
            assert got == want and type(got) is type(want), (x, got, want)
        # no exact SQL literal form -> caller must fall back
        assert _sql_num_lit(True) is None
        assert _sql_num_lit("s") is None
        assert _sql_num_lit(None) is None

    def test_sql_double_array_matches_lit_array(self, spark):
        from datajudge_spark.operators.stats import _sql_double_array

        fracs = [i / 127.0 for i in range(1, 127)]
        row = spark.range(1).select(
            _sql_double_array(fracs).alias("s"),
            F.array(*[F.lit(v) for v in fracs]).alias("l"),
        ).first()
        assert row["s"] == row["l"]

    def test_bounds_bucket_sql_matches_column_fold(self, spark):
        from decimal import Decimal

        from datajudge_spark.operators.stats import _bounds_bucket_sql

        for bounds in (
            [1, 5, 9],
            [0.5, 2.5, 2.5, 7.25],
            [Decimal("1.10"), Decimal("3.30")],
            [-(2**40), 0, 2**40],
        ):
            fold = F.aggregate(
                F.array(*[F.lit(b) for b in bounds]),
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col("v") >= b, F.lit(1)).otherwise(F.lit(0)),
            )
            sql = _bounds_bucket_sql("v", bounds)
            assert sql is not None, bounds
            df = spark.range(12).select(
                (F.col("id") - 2).cast("double").alias("v")
            )
            got = df.select(sql.alias("b")).collect()
            want = df.select(fold.alias("b")).collect()
            assert got == want, bounds
        # non-numeric boundary: no SQL form, caller keeps the Column fold
        assert _bounds_bucket_sql("v", [1, "x"]) is None
        assert _bounds_bucket_sql("v", [True]) is None

    def test_in_literal_list_matches_isin(self, spark):
        from datajudge_spark.pipeline._util import in_literal_list

        ints = spark.range(10).select(F.col("id").alias("k"))
        assert (
            ints.where(in_literal_list("k", [1, 3, 2**35])).collect()
            == ints.where(F.col("k").isin([1, 3, 2**35])).collect()
        )
        strs = spark.createDataFrame(
            [("a",), ("o'b",), ("c\\d",), ("e",)], "k string"
        )
        vals = ["o'b", "c\\d", "missing"]
        assert (
            strs.where(in_literal_list("k", vals)).collect()
            == strs.where(F.col("k").isin(vals)).collect()
        )
        # unsupported element types fall back to the isin build (floats
        # have no handler; bool aborts the literal build mid-list)
        dbls = spark.range(5).select((F.col("id") / 2).alias("k"))
        assert (
            dbls.where(in_literal_list("k", [0.5, 1.5])).collect()
            == dbls.where(F.col("k").isin([0.5, 1.5])).collect()
        )
        assert "IN (" not in str(in_literal_list("k", [1, True]))
