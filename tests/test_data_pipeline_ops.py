"""Dedup / similarity / clustering / text-quality / multimodal operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import SF0001 as SF
from lnex_spark.operators import dedup, multimodal, similarity, textquality


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog"),  # near dup
        (3, "completely different words entirely here now"),
        (4, ""),
        (5, "der hund und die katze ist nicht da"),
        (6, "le chat et la souris des les oiseaux"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    got = dedup.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 2 and got[0]["keep_doc_id"] == 0


def test_shingles(docs):
    sh = dedup.shingles(docs.filter("doc_id = 0"), n=3).collect()
    texts = {r["shingle"] for r in sh}
    assert "the quick brown" in texts and "the lazy dog" in texts
    assert len(sh) == 7  # 9 tokens -> 7 trigrams (all distinct)


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs, k=8, n=3)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sigs, bands=4).collect()}
    assert (0, 1) in pairs  # exact dups always collide
    assert all(a < b for a, b in pairs)


def test_jaccard_pairs(docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs, n=3, threshold=0.3).collect()}
    assert got[(0, 1)] == 1.0
    assert 0.3 <= got[(0, 2)] < 1.0
    assert (0, 3) not in got


def test_simhash_hamming(docs):
    sigs = dedup.simhash_signatures(docs)
    near = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_near_dups(sigs, max_hamming=6).collect()}
    assert near[(0, 1)] == 0  # identical text -> identical signature
    assert (0, 2) in near  # one-word change -> few bits


def test_token_count_and_fingerprint(docs):
    tc = {r["doc_id"]: r["n_tokens"] for r in docs.select("doc_id", textquality.token_count_col(F.col("text")).alias("n_tokens")).collect()}
    assert tc[0] == 9 and tc[4] == 0
    fp = {r["doc_id"]: r["fp"] for r in textquality.fingerprint(docs).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_lang_id(docs):
    got = {r["doc_id"]: r["pred_lang"] for r in textquality.lang_id(docs).collect()}
    assert got[0] == "en" and got[5] == "de" and got[6] == "fr"
    assert got[3] == "und"  # no marker hits


def test_quality_score_bounds(docs):
    rows = textquality.quality_features(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["punct_ratio"] >= 0.0 and r["stop_ratio"] >= 0.0


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((20, 16)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(20)]
    # 20 and 21: exact copy + tiny perturbation of vector 0
    rows.append((20, base[0].tolist()))
    rows.append((21, (base[0] + 0.001 * rng.standard_normal(16).astype("float32")).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bruteforce_topk_exact(emb):
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk_bruteforce(emb, q, k=3).collect()
    assert len(got) == 3
    # top neighbors of 0 are its exact copy (cos=1) and the perturbed one
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {20, 21}
    assert got[0]["cosine"] >= 0.999


def test_lsh_topk_contains_exact_copy(emb):
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk_lsh(emb, q, dim=16, k=5, n_planes=4).collect()
    ids = {r["vec_id"] for r in got}
    assert 20 in ids  # identical vector always shares every bucket


def test_lsh_multiprobe_recall_dominates_single_probe(emb):
    """probe_bits=1 candidate set is a superset of single-probe (Hamming-0
    ⊂ Hamming-≤1), so recall vs brute force can only go up."""
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    single = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_lsh(emb, q, dim=16, k=5, n_planes=6).collect()
    }
    multi = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk_lsh(
            emb, q, dim=16, k=5, n_planes=6, probe_bits=1
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert (0, 20) in multi  # identical vector still found
    with pytest.raises(ValueError):
        similarity.cosine_topk_lsh(emb, q, dim=16, probe_bits=3)


def test_embedding_near_dups(emb):
    got = {(r["vec_a"], r["vec_b"]) for r in similarity.embedding_near_dups(emb, threshold=0.99).collect()}
    assert (0, 20) in got and (0, 21) in got


def test_multimodal_plumbing(docs):
    media = multimodal.synthesize_media(docs)
    feats = multimodal.decode_features(media).collect()
    assert len(feats) == docs.count()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[4]["n_bytes"] == 0 and by_id[4]["feature"] == [0.0] * 8
    assert by_id[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert all(len(r["feature"]) == 8 for r in feats)
    # deterministic across invocations
    feats2 = multimodal.decode_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_multimodal_real_decoder_stubbed(docs):
    media = multimodal.synthesize_media(docs).limit(1)
    with pytest.raises(Exception):  # NotImplementedError inside the worker
        multimodal.decode_features(media, use_real_decoder=True).collect()


def test_frame_sample_plan(docs):
    media = multimodal.synthesize_media(docs)
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert all(r["ts_ms"] == r["frame_no"] * 1000 for r in rows)
    vids = {r["media_id"] for r in rows}
    assert vids == {2, 5}  # doc_id % 3 == 2


def test_frame_plan_short_clip_yields_no_frames(spark):
    """A clip shorter than the sampling interval produces zero frames,
    not a descending-sequence frame -1."""
    media = spark.createDataFrame(
        [(1, "video", None, (16, 16, 16000, 500)), (2, "video", None, (16, 16, 16000, 2500))],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,duration_ms:int>",
    )
    got = {(r["media_id"], r["frame_no"]) for r in multimodal.frame_sample_plan(media, 1000).collect()}
    assert got == {(2, 0), (2, 1)}


def test_kmeans_deterministic_across_parallelism(emb):
    from lnex_spark.operators.clustering import kmeans_lloyd

    spark = emb.sparkSession
    c1, a1 = kmeans_lloyd(emb.repartition(2), k=3, iters=2)
    c2, a2 = kmeans_lloyd(emb.repartition(7), k=3, iters=2)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    # every vector assigned exactly once; near-identical vectors co-cluster
    assign = {r["vec_id"]: r["cell_id"] for r in a1.collect()}
    assert len(assign) == emb.count()
    assert assign[0] == assign[20] == assign[21]


def test_prefix_filter_matches_bruteforce(docs):
    """The prefix-filtered join must emit EXACTLY the pairs the
    unrestricted postings join finds at the same threshold — the
    no-candidate-loss guarantee of the AllPairs prefix bound."""
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.prefix_filter_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert pref == brute
    assert pref[(0, 1)] == 1.0  # exact dup pair survives


def test_prefix_filter_high_threshold_drops_near_dup(docs):
    pref = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.prefix_filter_pairs(docs, n=3, threshold=0.95).collect()
    }
    assert pref == {(0, 1)}  # only the exact duplicate reaches 0.95


def test_pq_codes_shape_and_range(emb):
    # dim 16 -> 4 subspaces of 4; codebook from vec_id < 8
    got = similarity.pq_codes(emb, m_subspaces=4, n_codes=8).collect()
    assert len(got) == 22 * 4
    assert {r["m"] for r in got} == {0, 1, 2, 3}
    assert all(0 <= r["code"] < 8 for r in got)
    # a codebook vector's own subvectors encode to themselves (d2 = 0)
    own = {r["m"]: r["code"] for r in got if r["vec_id"] == 3}
    assert own == {0: 3, 1: 3, 2: 3, 3: 3}


def test_pq_adc_exact_duplicate_ranks_first(emb):
    # vec 20 is an exact copy of vec 0: identical codes -> adc 0 -> rank 1
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.pq_adc_topk(emb, q, m_subspaces=4, n_codes=8, k=3).collect()
    top = sorted(got, key=lambda r: r["rank"])[0]
    assert (top["vec_id"], top["adc"], top["rank"]) == (20, 0, 1)


def test_pq_adc_partition_invariant(emb):
    q = emb.filter("vec_id < 2").select(F.col("vec_id").alias("query_id"), "embedding")

    def run(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["adc"], r["rank"])
            for r in similarity.pq_adc_topk(df, q, m_subspaces=4, n_codes=8, k=4).collect()
        )

    # per-batch top-k truncation must be lossless under any partitioning
    assert run(emb.coalesce(1)) == run(emb.repartition(7))


def test_ivfpq_duplicate_found_and_partition_invariant(emb):
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")

    def run(df):
        return sorted(
            (r["query_id"], r["vec_id"], r["adc"], r["rank"])
            for r in similarity.ann_ivfpq_topk(
                df, q, n_cells=4, nprobe=2, m_subspaces=4, n_codes=8, k=3
            ).collect()
        )

    got = run(emb)
    # vec 20 (exact copy of the query) lands in the same IVF cell,
    # encodes to the same codes -> adc 0, rank 1
    top = next(r for r in got if r[3] == 1)
    assert top[1:] == (20, 0, 1)
    assert got == run(emb.repartition(5))


def test_trained_pq_codebook_drops_into_adc_path(emb):
    # production-recall codebook (per-subspace Lloyd over a bounded
    # sample) must be shape-compatible, deterministic, and carry the
    # exact-duplicate invariant through the SAME integer-ADC path
    cb = similarity.train_pq_codebook(emb, m_subspaces=4, n_codes=8, sample_n=16, iters=4)
    assert cb.shape == (4, 8, 4) and cb.dtype.kind == "i"
    cb2 = similarity.train_pq_codebook(emb, m_subspaces=4, n_codes=8, sample_n=16, iters=4)
    assert (cb == cb2).all()
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.pq_adc_topk(emb, q, m_subspaces=4, n_codes=8, k=3, codebook=cb).collect()
    top = sorted(got, key=lambda r: r["rank"])[0]
    # vec 20 is an exact copy of vec 0: identical codes under ANY
    # codebook -> minimal possible adc -> rank 1.  (adc is only 0 when
    # the query itself is a codebook entry — true for the default
    # first-K codebook, not for a trained one: ADC is asymmetric, the
    # query side is never encoded.)
    assert (top["vec_id"], top["rank"]) == (20, 1)
    assert top["adc"] == min(r["adc"] for r in got)
    got2 = similarity.ann_ivfpq_topk(
        emb, q, n_cells=4, nprobe=2, m_subspaces=4, n_codes=8, k=3, codebook=cb
    ).collect()
    top2 = sorted(got2, key=lambda r: r["rank"])[0]
    assert (top2["vec_id"], top2["rank"]) == (20, 1)


def test_assign_np_round6_grid_boundary():
    # round-6 grid values whose double repr sits BELOW the integer
    # (0.000249*1e6 = 248.99999999999997): a truncating int cast would
    # collapse 0.000249 and 0.000248 into the same key and let the
    # cell-id tiebreak pick the WRONG cell — np.rint must keep them
    # strictly ordered, matching the relational ivf_assign
    import numpy as np

    a, b = 0.000248, 0.000249
    x = np.array([[a, b, float(np.sqrt(1 - a * a - b * b))]])
    cn = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    cids = np.array([0, 1], dtype=np.int64)
    assert similarity._assign_np(x, cids, cn)[0] == 1


def test_ivf_pruned_index_matches_relational_ivf(emb, tmp_path, spark):
    # the cell-partitioned index path must be result-identical to the
    # relational IVF (same probe rule, round-6 cosine, rank ties) while
    # its scan plans ONLY the probed cells (partition pruning)
    cents = emb.filter("vec_id < 4").select(
        F.col("vec_id").cast("int").alias("cell_id"), "embedding"
    )
    idx = str(tmp_path / "ivf_idx")
    similarity.write_ivf_index(emb, cents, idx)
    # Arrow assignment must agree with the relational assigner exactly
    rel = {
        (r["vec_id"], r["cell_id"])
        for r in similarity.ivf_assign(emb, cents).select("vec_id", "cell_id").collect()
    }
    arr = {
        (r["vec_id"], r["cell_id"])
        for r in spark.read.parquet(idx).select("vec_id", "cell_id").collect()
    }
    assert arr == rel
    q = emb.filter("vec_id IN (0, 5)").select(F.col("vec_id").alias("query_id"), "embedding")
    want = sorted(
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"])
        for r in similarity.cosine_topk_ivf(emb, q, nprobe=2, k=3, centroids=cents).collect()
    )
    pruned = similarity.cosine_topk_ivf_pruned(spark, idx, q, cents, nprobe=2, k=3)
    got = sorted(
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"]) for r in pruned.collect()
    )
    assert got == want
    # the probed-cell filter must reach the scan as a partition filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan


def test_semantic_dedup_keeps_one_per_dup_group(emb):
    got = {r["vec_id"]: r for r in similarity.semantic_dedup(emb, n_cells=4, tau=0.99).collect()}
    assert len(got) == 22  # every input vector classified
    trio = [got[i] for i in (0, 20, 21)]
    # identical/near-identical vectors land in one cell and exactly one survives
    assert len({r["cell_id"] for r in trio}) == 1
    assert sum(r["keep"] for r in trio) == 1
    # no random 16-dim gaussian pair reaches cos >= 0.99: everything else kept
    others = [r for i, r in got.items() if i not in (0, 20, 21)]
    assert all(r["keep"] for r in others)


def test_semantic_dedup_arrow_matches_relational(emb, spark):
    """The BLAS twin implements the exact relational spec: identical
    (cell_id, csim, keep) per vector — default centroids AND an
    arbitrary centroid table, at more than one partitioning."""
    def canon(df):
        return sorted(
            (r["vec_id"], r["cell_id"], round(r["csim"], 6), r["keep"])
            for r in df.collect()
        )

    for e in (emb, emb.repartition(5)):
        assert canon(similarity.semantic_dedup_arrow(e, n_cells=4, tau=0.99)) == canon(
            similarity.semantic_dedup(e, n_cells=4, tau=0.99)
        )
    cent = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 15), (7, [0.0, 1.0] + [0.0] * 14)],
        "cell_id int, embedding array<double>",
    )
    assert canon(similarity.semantic_dedup_arrow(emb, tau=0.95, centroids=cent)) == canon(
        similarity.semantic_dedup(emb, tau=0.95, centroids=cent)
    )


def test_kmeans_arrow_matches_relational(emb):
    """kmeans_lloyd_arrow reproduces the relational twin exactly under
    the shared determinism contract: same rounded centroids AND the
    same final assignment (made with the centroids entering the last
    iteration), at more than one partitioning."""
    from lnex_spark.operators import clustering

    def canon(pair):
        cents, assign = pair
        return (
            sorted((r["cell_id"], tuple(round(x, 6) for x in r["cemb"])) for r in cents.collect()),
            sorted((r["vec_id"], r["cell_id"]) for r in assign.collect()),
        )

    for e in (emb, emb.repartition(5)):
        assert canon(clustering.kmeans_lloyd_arrow(e, k=4, iters=3)) == canon(
            clustering.kmeans_lloyd(e, k=4, iters=3)
        )


def test_cosine_topk_arrow_matches_relational(emb, spark):
    """cosine_topk_bruteforce_arrow returns exactly the relational
    baseline's rows (rounded cosines, vec_id tie-breaks, self-match
    exclusion) — and its rank window sees only batches*Q*k candidate
    rows, not the N*Q corpus product."""
    q = emb.limit(3).selectExpr("vec_id as query_id", "embedding")

    def canon(df):
        return sorted(
            (r["query_id"], r["vec_id"], round(r["cosine"], 6), r["rank"]) for r in df.collect()
        )

    for e in (emb, emb.repartition(5)):
        assert canon(similarity.cosine_topk_bruteforce_arrow(e, q, k=4)) == canon(
            similarity.cosine_topk_bruteforce(e, q, k=4)
        )


def test_zero_vector_cosine_parity(spark):
    """A zero embedding must score cosine 0.0 on BOTH paths (ADVICE r03):
    the Arrow twins clamp norms with np.maximum(norm, 1e-300); the
    relational _cosine now clamps the denominator with greatest(...,
    1e-300) so 0/0 never produces NaN and keep/drop + top-k membership
    agree on degenerate input."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0] * 4),           # zero vector in the corpus
        (2, [0.5, 0.5, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter("vec_id = 0").selectExpr("vec_id as query_id", "embedding")

    def canon(df):
        return sorted(
            (r["query_id"], r["vec_id"], round(r["cosine"], 6), r["rank"]) for r in df.collect()
        )

    rel = canon(similarity.cosine_topk_bruteforce(e, q, k=2))
    arw = canon(similarity.cosine_topk_bruteforce_arrow(e, q, k=2))
    assert rel == arw
    # the zero vector is present with a finite score of exactly 0.0
    zero = [r for r in rel if r[1] == 1]
    assert zero and zero[0][2] == 0.0

    # zero-vector QUERY as well: every corpus vector scores 0.0
    qz = spark.createDataFrame([(99, [0.0] * 4)], "query_id long, embedding array<float>")
    relq = canon(similarity.cosine_topk_bruteforce(e, qz, k=3))
    arwq = canon(similarity.cosine_topk_bruteforce_arrow(e, qz, k=3))
    assert relq == arwq
    assert all(r[2] == 0.0 for r in relq)


def test_arrow_query_set_guard(emb):
    """The Arrow/PQ paths collect the query set to the driver; past
    max_queries they must refuse with the relational fallback named
    (guard added per ADVICE/VERDICT r03) rather than OOM the driver."""
    q = emb.limit(3).selectExpr("vec_id as query_id", "embedding")
    with pytest.raises(ValueError, match="cosine_topk_bruteforce"):
        similarity.cosine_topk_bruteforce_arrow(emb, q, k=2, max_queries=2)
    with pytest.raises(ValueError, match="max_queries"):
        similarity.pq_adc_topk(emb, q, k=2, max_queries=1)
    # under the cap: unchanged behavior
    assert similarity.cosine_topk_bruteforce_arrow(emb, q, k=2, max_queries=3).count() > 0


def test_silhouette_bounded(spark):
    from lnex_spark.oracle_defs62 import silhouette_embeddings

    rows = silhouette_embeddings(spark, SF).collect()
    assert rows and sum(r.n for r in rows) == 300
    for r in rows:
        assert -1.0 <= r.avg_silhouette <= 1.0
