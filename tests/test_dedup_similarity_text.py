"""Unit tests for the training-data pipeline operators: dedup, similarity,
text analysis. Property-style checks against small hand-built corpora
(the DuckDB value-exact check runs separately via
tools/compare_oracle.py / the external driver)."""

import math
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geofeaturegeneration_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    md5_long,
    quality_score,
    token_count,
)
from geofeaturegeneration_spark.operators import (
    ann_lsh_topk,
    cosine_topk,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    semantic_dedup,
    simhash,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
        (3, "The  Quick brown fox jumps over the lazy dog"),        # dup after normalize
        (4, "the quick brown fox jumps over the lazy cat today"),   # near dup
        (5, "completely different content about spark engines"),
        (6, "a b"),                                                 # shorter than shingle k
    ]
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_md5_long_known_value(spark):
    # md5('abc') = 900150983cd24fb0... -> 0x900150983cd24fb
    v = spark.range(1).select(md5_long(F.lit("abc")).alias("h")).collect()[0]["h"]
    assert v == 648541476951500027


def test_exact_dedup_groups_normalized(spark, corpus):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(corpus, "doc_id", "text").collect()}
    # 1,2,3 collapse (case/whitespace-normalized); keep smallest id
    assert out[1] == 3
    assert out[4] == 1 and out[5] == 1 and out[6] == 1


def test_minhash_finds_identical_and_skips_disjoint(spark, corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(corpus, "doc_id", "text").collect()}
    assert (1, 2) in pairs        # identical docs always collide on every band
    assert not any(5 in p for p in pairs)   # disjoint shingles never collide
    assert not any(6 in p for p in pairs)   # no shingles -> no signature


def test_ngram_jaccard_values(spark, corpus):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.1).collect()}
    assert out[(1, 2)] == 1.0
    # doc4 shares 6 of its shingles with doc1 (7 + 8 distinct, 6 common)
    assert 0.4 < out[(1, 4)] < 0.8
    assert (1, 5) not in out


def test_simhash_identical_and_pairs(spark, corpus):
    sims = {r["doc_id"]: r["simhash"] for r in simhash(corpus, "doc_id", "text").collect()}
    assert sims[1] == sims[2]
    assert 0 <= sims[1] < 2 ** 32
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_pairs(corpus, "doc_id", "text", max_hamming=4).collect()}
    assert pairs[(1, 2)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")


def test_cosine_topk_ordering(spark, vectors):
    out = cosine_topk(vectors, "vec_id", "embedding", k=3)
    for_zero = sorted(
        ((r["rank"], r["nn_id"], r["cos_sim"]) for r in out.collect() if r["vec_id"] == 0)
    )
    assert [x[1] for x in for_zero] == [1, 2, 3]   # by decreasing cosine
    assert for_zero[0][2] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert for_zero[2][2] == -1.0


def test_cosine_topk_blocked_matches_join(spark, vectors):
    """The blocked-GEMM plan is an exactness twin of the fold-join plan:
    identical rows on the canonical 4-vector fixture AND on the sf0.001
    embeddings table (500 dense random vectors, every block pair hit,
    including blocks with k-boundary candidates in multiple tiles)."""
    from geofeaturegeneration_spark.operators import cosine_topk_blocked

    a = sorted(map(tuple, cosine_topk(vectors, "vec_id", "embedding", k=3).collect()))
    b = sorted(map(tuple, cosine_topk_blocked(
        vectors, "vec_id", "embedding", k=3, n_blocks=3).collect()))
    assert a == b
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ra = sorted(map(tuple, cosine_topk(emb, "vec_id", "embedding", k=5).collect()))
    rb = sorted(map(tuple, cosine_topk_blocked(
        emb, "vec_id", "embedding", k=5, n_blocks=8).collect()))
    assert ra == rb


def test_ann_lsh_restricts_to_bucket(spark, vectors):
    out = ann_lsh_topk(vectors, "vec_id", "embedding", k=3, n_bits=4)
    rows = out.collect()
    # 0 and 1 share sign pattern (+,0/.. bucket bit0 only); 3 is alone
    buckets = {r["vec_id"]: r["bucket"] for r in rows}
    for r in rows:
        assert buckets[r["nn_id"]] == r["bucket"]
    assert not any(r["vec_id"] == 3 for r in rows)  # lone bucket -> no rows


def test_lang_id_and_quality(spark):
    rows = [
        (1, "the cat and the dog of the house"),
        (2, "le chat et la maison des les amis"),
        (3, "der hund und die katze das ein haus"),
        (4, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
        token_count(F.col("text")).alias("nt"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "fr"
    assert out[3]["lang"] == "de"
    assert out[4]["lang"] == "und"
    assert all(0.0 <= out[i]["q"] <= 1.0 for i in out)
    assert out[4]["nt"] == 3
    assert len({out[i]["fp"] for i in out}) == 4


def test_lang_stopword_lists_disjoint_enough(spark):
    # guard: en/fr/de lists must not share words (zh/es intentionally share
    # 'de'-like romanizations with other langs and lose ties by code order)
    en, fr, de = (set(LANG_STOPWORDS[l]) for l in ("en", "fr", "de"))
    assert not (en & fr) and not (en & de) and not (fr & de)


def test_ann_ivf_topk(spark, vectors):
    from geofeaturegeneration_spark.operators import ann_ivf_topk

    # centroids = first 2 vectors (ids 0, 1); every vector lands in list 1
    # or 2 by cosine to those seeds
    out = ann_ivf_topk(vectors, "vec_id", "embedding", k=3, n_centroids=2)
    rows = out.collect()
    assert all(r["list_id"] in (1, 2) for r in rows)
    # assignment by cosine to seed centroids (c1 = vec0, c2 = vec1):
    # vec0 -> list 1; vec1, vec2, vec3 -> list 2. vec 3's in-list
    # neighbors are therefore {1, 2}, ranked 2 first (cos 0 > cos -0.994)
    mine = [r for r in rows if r["vec_id"] == 3]
    assert [r["nn_id"] for r in mine] == [2, 1]
    # nprobe=2 searches both lists -> vec 3 now also sees 0 and 1
    out2 = ann_ivf_topk(vectors, "vec_id", "embedding", k=3, n_centroids=2, nprobe=2)
    mine2 = {r["nn_id"] for r in out2.collect() if r["vec_id"] == 3}
    assert mine2 == {0, 1, 2}


def test_ann_lsh_multi_gemm_matches_fold_hasher(spark):
    """The GEMM hashing stage must reproduce the expression-fold hasher's
    buckets (hence candidates, hence output) exactly — a sign flip would
    need a hyperplane dot within ~1e-13 of zero."""
    from geofeaturegeneration_spark.operators import (
        ann_lsh_multi_topk,
        embedding_neardup_multi_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for use_gemm in (False, True):
        out = sorted(
            map(
                tuple,
                ann_lsh_multi_topk(
                    emb, "vec_id", "embedding", dim=64, k=3, n_tables=3,
                    n_bits=8, use_gemm_hasher=use_gemm,
                ).collect(),
            )
        )
        if not use_gemm:
            want = out
        else:
            assert out == want
    for use_gemm in (False, True):
        pairs = sorted(
            map(
                tuple,
                embedding_neardup_multi_pairs(
                    emb, "vec_id", "embedding", dim=64, threshold=0.3,
                    n_tables=3, n_bits=8, use_gemm_hasher=use_gemm,
                ).collect(),
            )
        )
        if not use_gemm:
            want_p = pairs
        else:
            assert pairs == want_p


def test_ann_ivf_blocked_matches_join_form(spark):
    """The blocked-GEMM IVF plan must reproduce the join form exactly —
    same assignment (ties to smaller _cid), same candidates, same ranks —
    at nprobe 1 and 2, including when sub-blocks are finer than lists, and
    including degenerate inputs (a NULL and a zero-norm vector, which both
    forms must exclude rather than crash on / NaN-rank differently)."""
    from geofeaturegeneration_spark.operators import (
        ann_ivf_topk,
        ann_ivf_topk_blocked,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    degenerate = spark.createDataFrame(
        [(100001, None), (100002, [0.0] * 64)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    emb = emb.select("vec_id", "embedding").unionByName(degenerate)
    for nprobe in (1, 2):
        want = sorted(
            map(
                tuple,
                ann_ivf_topk(
                    emb, "vec_id", "embedding", k=3, n_centroids=8, nprobe=nprobe
                ).collect(),
            )
        )
        for n_blocks in (1, 4):
            got = sorted(
                map(
                    tuple,
                    ann_ivf_topk_blocked(
                        emb, "vec_id", "embedding", k=3, n_centroids=8,
                        nprobe=nprobe, n_blocks=n_blocks,
                    ).collect(),
                )
            )
            assert got == want, (nprobe, n_blocks)


def test_embedding_neardup_pairs(spark):
    from geofeaturegeneration_spark.operators import embedding_neardup_pairs

    rows = [
        (0, [1.0, 0.02, 0.0, 0.0]),   # sign pattern (+,+,0,0) = bucket 3
        (1, [0.99, 0.01, 0.0, 0.0]),  # near-dup of 0, same sign bucket
        (2, [0.0, 1.0, 0.0, 0.0]),    # different bucket
        (3, [1.0, 0.01, 0.0, 0.0]),   # near-dup of 0 and 1
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    out = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
           embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.99, n_bits=4).collect()}
    assert set(out) == {(0, 1), (0, 3), (1, 3)}
    assert all(v >= 0.99 for v in out.values())


def test_multi_table_lsh_amplifies_recall(spark):
    """OR-ing T independent random-hyperplane tables must beat one table
    (candidates of T tables are a superset of table 0's, so recall is
    monotone in T by construction) and the legacy raw-leading-dims bucket.
    Measured on the deterministic sf0.001 embeddings (500 x 64): raw-dims
    0.146, 1 table 0.135, 3 tables 0.372, 6 tables 0.578 (recall@3 vs the
    exact cosine_topk ground truth)."""
    from geofeaturegeneration_spark.operators import ann_lsh_multi_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    gt = {
        (r["vec_id"], r["nn_id"])
        for r in cosine_topk(emb, "vec_id", "embedding", k=3).collect()
    }

    def recall(df):
        got = {(r["vec_id"], r["nn_id"]) for r in df.collect()}
        return len(got & gt) / len(gt)

    r_raw = recall(ann_lsh_topk(emb, "vec_id", "embedding", k=3, n_bits=4))
    r_t1 = recall(
        ann_lsh_multi_topk(emb, "vec_id", "embedding", dim=64, k=3, n_tables=1, n_bits=4)
    )
    r_t3 = recall(
        ann_lsh_multi_topk(emb, "vec_id", "embedding", dim=64, k=3, n_tables=3, n_bits=4)
    )
    assert r_t3 >= 2 * r_t1, (r_t1, r_t3)
    assert r_t3 > r_raw, (r_raw, r_t3)
    assert r_t3 >= 0.3, r_t3


def test_embedding_neardup_multi_pairs(spark, vectors):
    """Near-identical vectors co-bucket in every hyperplane table (their
    sign patterns agree); opposite vectors are excluded by the exact-cosine
    verify even when hashed together."""
    from geofeaturegeneration_spark.operators import embedding_neardup_multi_pairs

    out = embedding_neardup_multi_pairs(
        vectors, "vec_id", "embedding", dim=4, threshold=0.9, n_tables=3, n_bits=4
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out}
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """Adversarial constant vectors co-bucket in EVERY hyperplane table
    (identical sign patterns), so without a cap the per-bucket self-join is
    quadratic in the cluster size across all T tables at once.
    max_bucket_size drops those cells while genuinely small buckets (the
    real near-dup pair) survive, and the plan stays equi-join only."""
    from geofeaturegeneration_spark.operators import (
        ann_lsh_multi_topk,
        embedding_neardup_multi_pairs,
    )

    const = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(30)]
    neardup = [(100, [1.0, -1.0, 0.5, -0.5]), (101, [1.0, -1.0, 0.5, -0.4])]
    df = spark.createDataFrame(
        const + neardup, "vec_id INT, embedding ARRAY<FLOAT>"
    )

    capped = embedding_neardup_multi_pairs(
        df, "vec_id", "embedding", dim=4, threshold=0.9,
        n_tables=3, n_bits=4, max_bucket_size=5,
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs              # small bucket survives the cap
    assert not any(a < 100 for a, _ in pairs)   # constant cluster dropped
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # uncapped keeps the quadratic cluster: 30*29/2 constant pairs
    uncapped = embedding_neardup_multi_pairs(
        df, "vec_id", "embedding", dim=4, threshold=0.9, n_tables=3, n_bits=4
    ).count()
    assert uncapped == 30 * 29 // 2 + 1

    # same guard on the top-k variant
    topk = ann_lsh_multi_topk(
        df, "vec_id", "embedding", dim=4, k=3,
        n_tables=3, n_bits=4, max_bucket_size=5,
    )
    got = {(r["vec_id"], r["nn_id"]) for r in topk.collect()}
    assert got == {(100, 101), (101, 100)}


def test_ngram_max_doc_freq_cap(spark):
    """A shingle shared by more than max_doc_freq docs is removed from the
    universe BEFORE sizes: 4 docs tied together only by one stopword-like
    shingle produce 6 pairs uncapped and none capped, making the
    per-shingle pair bound explicit instead of AQE-dependent."""
    rows = [(i, f"common shingle words tail{i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")

    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()}
    # each doc: 2 shingles, 1 shared -> jaccard 1/3 for all 6 pairs
    assert len(vals) == 6
    assert all(v == pytest.approx(1 / 3, abs=1e-6) for v in vals.values())

    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.1, max_doc_freq=3
    )
    assert capped.count() == 0
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    # a cap above the hot shingle's doc freq changes nothing
    loose = ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.1, max_doc_freq=4
    )
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in loose.collect()} == vals


def test_ivf_trained_quantizers_on_clustered_data(spark):
    """The first-N-by-id seed quantizer is pathological exactly when id
    order correlates with the data source (the production norm): if the
    first N vectors all come from one cluster, other clusters' queries land
    in home lists full of unrelated vectors. On this 3-cluster fixture the
    measured numbers are: worst-case cosine to the nearest centroid
    ("coverage") seed -0.24 vs fps +0.58 / km +0.68, and IVF recall@3 at
    nprobe=1 seed 0.467 vs fps 0.764 / km 0.723. (Raw list-size imbalance
    does not discriminate on synthetic mixtures — seed centroids split
    their own cluster evenly while stranding the rest — so the assertions
    pin coverage and recall, the metrics that actually degrade.)"""
    import numpy as np

    from geofeaturegeneration_spark.operators import (
        ann_ivf_topk,
        farthest_point_centroids,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    dim, centers = 16, rng.normal(size=(3, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # ids 0..199 all draw from cluster 0 (id order ~ source order), then
    # clusters 1 and 2 — the first-8 seed set is entirely cluster 0
    for cl, n in [(0, 200), (1, 100), (2, 100)]:
        for _ in range(n):
            v = centers[cl] + 0.15 * rng.normal(size=dim)
            rows.append((len(rows), [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)

    gt = {
        (r["vec_id"], r["nn_id"])
        for r in cosine_topk(df, "vec_id", "embedding", k=3).collect()
    }

    def recall(cents):
        got = ann_ivf_topk(
            df, "vec_id", "embedding", k=3, n_centroids=8, nprobe=1, centroids=cents
        ).collect()
        return len({(r["vec_id"], r["nn_id"]) for r in got} & gt) / len(gt)

    def coverage(cent_rows):
        C = np.array([c[1] for c in cent_rows], dtype=np.float64)
        Cn = np.array([c[2] for c in cent_rows], dtype=np.float64)
        return (X @ (C / np.maximum(Cn, 1e-300)[:, None]).T).max(axis=1).min()

    fps_df = farthest_point_centroids(df, "vec_id", "embedding", 8)
    km_df = train_ivf_centroids(df, "vec_id", "embedding", 8, sample_n=400)
    fps = [(r["_cid"], list(r["_cv"]), float(r["_cn"])) for r in fps_df.collect()]
    km = [(r["_cid"], list(r["_cv"]), float(r["_cn"])) for r in km_df.collect()]
    from geofeaturegeneration_spark.operators.similarity import with_norm

    seed_rows = with_norm(df, "vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    seed = [(i + 1, list(r["_v"]), float(r["_n"])) for i, r in enumerate(seed_rows)]

    r_seed = recall(None)
    r_fps = recall(spark.createDataFrame(fps, "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE"))
    r_km = recall(spark.createDataFrame(km, "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE"))
    assert r_fps > r_seed + 0.2, (r_seed, r_fps)
    assert r_km > r_seed + 0.2, (r_seed, r_km)
    assert coverage(fps) > coverage(seed) + 0.5
    assert coverage(km) > coverage(seed) + 0.5
    # trained quantizers cover every true cluster (cos >= 0.8 to each centre)
    for cents in (fps, km):
        C = np.array([c[1] for c in cents], dtype=np.float64)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        assert (centers @ C.T).max(axis=1).min() >= 0.8


def test_hp_dim_mismatch_fails_fast(spark, vectors):
    """zip_with would silently null-pad a wrong-dim vector; the guard must
    throw instead."""
    from geofeaturegeneration_spark.operators import ann_lsh_multi_topk

    with pytest.raises(Exception, match="hyperplane dim"):
        ann_lsh_multi_topk(
            vectors, "vec_id", "embedding", dim=8, k=3, n_tables=1, n_bits=2
        ).collect()


def test_ann_ivf_nprobe_monotone_recall(spark):
    """Probing more inverted lists can only widen each query's candidate
    set, so recall vs the exact ground truth must be monotone in nprobe."""
    from geofeaturegeneration_spark.operators import ann_ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    gt = {
        (r["vec_id"], r["nn_id"])
        for r in cosine_topk(emb, "vec_id", "embedding", k=3).collect()
    }

    def recall(nprobe):
        got = ann_ivf_topk(
            emb, "vec_id", "embedding", k=3, n_centroids=8, nprobe=nprobe
        ).collect()
        return len({(r["vec_id"], r["nn_id"]) for r in got} & gt) / len(gt)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r4 > r1, (r1, r4)  # wider probes must actually help on this data


def test_connected_components_and_dedup_clusters(spark):
    from geofeaturegeneration_spark.operators import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a BIGINT, id_b BIGINT")
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id BIGINT")
    cc = {
        r["id"]: r["component"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    cl = dedup_clusters(docs, "doc_id", pairs)
    m = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in cl.collect()}
    assert m == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True),
        5: (5, True), 6: (5, False), 7: (7, True),
    }
    # an 11-node chain needs multiple propagation rounds to converge
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 20)], "id_a BIGINT, id_b BIGINT"
    )
    cc2 = {
        r["id"]: r["component"]
        for r in connected_components(chain, "id_a", "id_b").collect()
    }
    assert set(cc2.values()) == {10} and len(cc2) == 11


def test_repetition_signals_hand_computed(spark):
    from geofeaturegeneration_spark.functions.text import (
        dup_line_fraction,
        dup_word_fraction,
        top_bigram_share,
        top_word_share,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "a a a b"),          # 4 words, 2 distinct; top word 3/4; bigram "a a" 2/3
        (2, "x y"),              # no repetition, 1 bigram
        (3, "solo"),             # single word: no bigrams -> share 0.0
        (4, "l1\nl2\nl1"),       # duplicate line
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    t = F.col("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.round(dup_word_fraction(t), 6).alias("dwf"),
            F.round(top_word_share(t), 6).alias("tws"),
            F.round(top_bigram_share(t), 6).alias("tbs"),
            F.round(dup_line_fraction(t), 6).alias("dlf"),
        ).collect()
    }
    assert got[1]["dwf"] == 0.5 and got[1]["tws"] == 0.75
    assert got[1]["tbs"] == pytest.approx(2 / 3, abs=1e-6)
    assert got[2]["dwf"] == 0.0 and got[2]["tws"] == 0.5 and got[2]["tbs"] == 1.0
    assert got[3]["tbs"] == 0.0 and got[3]["tws"] == 1.0
    assert got[4]["dlf"] == pytest.approx(1 / 3, abs=1e-6)


def test_hp_null_embedding_skipped(spark):
    from geofeaturegeneration_spark.operators import ann_lsh_multi_topk

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]), (2, None)],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    out = ann_lsh_multi_topk(
        df, "vec_id", "embedding", dim=4, k=3, n_tables=2, n_bits=2
    ).collect()
    ids = {r["vec_id"] for r in out} | {r["nn_id"] for r in out}
    assert 2 not in ids  # null vector neither queries nor matches


def test_dedup_clusters_keeper_exists_when_pairs_exceed_docs(spark):
    """pairs mined from a superset corpus: the cluster representative is
    re-derived from the docs side, so every cluster keeps exactly one
    survivor even when the component-min id is absent from docs."""
    from geofeaturegeneration_spark.operators import dedup_clusters

    docs = spark.createDataFrame([(2,), (3,), (9,)], "doc_id BIGINT")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a BIGINT, id_b BIGINT")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
            for r in dedup_clusters(docs, "doc_id", pairs).collect()}
    # component {1,2,3}: min PRESENT doc is 2 -> keeper
    assert rows == {2: (2, True), 3: (2, False), 9: (9, True)}
    # invariant: one keeper per cluster
    from collections import Counter
    keepers = Counter(c for c, k in rows.values() if k)
    clusters = {c for c, _ in rows.values()}
    assert set(keepers) == clusters and all(v == 1 for v in keepers.values())


def test_minhash_cross_consistent_with_self_join(spark, corpus):
    """Cross-corpus pairs over a (left, right) split must equal the
    self-join pairs restricted to one-side-each — signatures are
    per-document, so splitting the corpus cannot change them."""
    from geofeaturegeneration_spark.operators import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
    )
    from pyspark.sql import functions as F

    left = corpus.filter(F.col("doc_id") % 2 == 1)
    right = corpus.filter(F.col("doc_id") % 2 == 0)
    cross = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_cross(
            left, right, "doc_id", "text", k=2, n_hashes=8, bands=4
        ).collect()
    }
    full = minhash_lsh_pairs(
        corpus, "doc_id", "text", k=2, n_hashes=8, bands=4
    ).collect()
    want = set()
    for r in full:  # self-join emits a<b; cross emits (odd, even) any order
        a, b = r["id_a"], r["id_b"]
        if a % 2 == 1 and b % 2 == 0:
            want.add((a, b))
        elif a % 2 == 0 and b % 2 == 1:
            want.add((b, a))
    assert cross == want and cross  # non-empty on the dup-bearing corpus


# ---------------------------------------------------------------------------
# span_dedup — exact substring-level dedup at k-token window granularity
# ---------------------------------------------------------------------------


def test_span_dedup_cross_doc_span_survives_once(spark):
    from geofeaturegeneration_spark.operators import span_dedup

    rows = [
        (1, "a b c d e S1 S2 S3 S4 tail one"),
        (2, "x y S1 S2 S3 S4 z w q"),   # verbatim span of doc 1
        (3, "p q r s t u v"),            # untouched
        (5, "tiny"),                     # shorter than k: never touched
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r.asDict() for r in span_dedup(df, "doc_id", "text", k=4).collect()}
    assert out[1]["clean"] == "a b c d e S1 S2 S3 S4 tail one"  # winner keeps
    assert out[1]["n_dup_tokens"] == 0
    assert out[2]["clean"] == "x y z w q"                       # span cut
    assert out[2]["n_dup_tokens"] == 4
    assert out[3]["clean"] == "p q r s t u v"
    assert out[5]["clean"] == "tiny" and out[5]["n_tokens"] == 1


def test_span_dedup_self_repeat_and_island_merge(spark):
    """A document repeating the winner's span twice loses BOTH copies, and
    the two overlapping loser windows merge into one maximal span (the
    junction tokens are covered, not double-counted)."""
    from geofeaturegeneration_spark.operators import span_dedup

    rows = [
        (1, "a b c d e S1 S2 S3 S4 tail one"),
        (4, "m S1 S2 S3 S4 S1 S2 S3 S4 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r.asDict() for r in span_dedup(df, "doc_id", "text", k=4).collect()}
    assert out[4]["clean"] == "m end"
    assert out[4]["n_dup_tokens"] == 8
    assert out[4]["n_tokens"] == 10


def test_span_dedup_winner_is_global_min_position(spark):
    """Within one doc, a span repeated later keeps only its FIRST
    occurrence; a whole-doc duplicate is fully emptied."""
    from geofeaturegeneration_spark.operators import span_dedup

    rows = [
        (7, "w1 w2 w3 w4 mid w1 w2 w3 w4"),   # self-repeat: second copy cut
        (8, "z1 z2 z3 z4 z5"),
        (9, "z1 z2 z3 z4 z5"),                 # whole-doc duplicate of 8
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r["doc_id"]: r.asDict() for r in span_dedup(df, "doc_id", "text", k=4).collect()}
    assert out[7]["clean"] == "w1 w2 w3 w4 mid"
    assert out[8]["clean"] == "z1 z2 z3 z4 z5"
    assert out[9]["clean"] == "" and out[9]["n_dup_tokens"] == 5


def test_span_dedup_conservation(spark):
    """kept tokens + cut tokens == original tokens for every doc."""
    from geofeaturegeneration_spark.operators import span_dedup

    rows = [
        (1, "a b c d e S1 S2 S3 S4 tail one"),
        (2, "x y S1 S2 S3 S4 z w q"),
        (4, "m S1 S2 S3 S4 S1 S2 S3 S4 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    for r in span_dedup(df, "doc_id", "text", k=4).collect():
        n_kept = len(r["clean"].split(" ")) if r["clean"] else 0
        assert n_kept + r["n_dup_tokens"] == r["n_tokens"], r


def test_span_dedup_python_oracle_parity(spark):
    """Exhaustive parity against a brute-force pure-Python oracle on a
    seeded random small-vocab corpus (organic duplicated windows everywhere,
    plus injected cross-doc spans) — catches winner-tie, island-merge, and
    boundary-slice bugs the hand-built cases can't enumerate."""
    import random

    from geofeaturegeneration_spark.operators import span_dedup

    k = 4
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(15)]
    docs = {}
    for i in range(60):
        n = rng.randint(2, 40)
        docs[i] = " ".join(rng.choice(vocab) for _ in range(n))
    shared = "alpha beta gamma delta epsilon zeta"
    for i in range(0, 60, 7):  # inject a verbatim cross-doc span
        docs[i] = docs[i] + " " + shared

    def py_span_dedup(corpus: dict) -> dict:
        toks = {i: t.split(" ") for i, t in corpus.items()}
        wins = {}
        for i in sorted(toks):  # ascending (doc, pos) = global min wins
            ws = toks[i]
            for p in range(len(ws) - k + 1):
                wins.setdefault(" ".join(ws[p:p + k]), (i, p))
        out = {}
        for i, ws in toks.items():
            dup = [False] * len(ws)
            for p in range(len(ws) - k + 1):
                if wins[" ".join(ws[p:p + k])] != (i, p):
                    for q in range(p, p + k):
                        dup[q] = True
            kept = [w for w, d in zip(ws, dup) if not d]
            out[i] = (" ".join(kept), len(ws), sum(dup))
        return out

    want = py_span_dedup(docs)
    df = spark.createDataFrame(list(docs.items()), "doc_id INT, text STRING")
    got = {
        r["doc_id"]: (r["clean"], r["n_tokens"], r["n_dup_tokens"])
        for r in span_dedup(df, "doc_id", "text", k=k).collect()
    }
    assert got == want
    # the random corpus genuinely exercised the operator
    assert sum(d for _, _, d in want.values()) > 50


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup, Abbas et al. 2023)
# ---------------------------------------------------------------------------


def _sem_corpus(spark):
    """Two well-separated directions (x-ish and y-ish); ids ordered so the
    min-id exemplar rule is observable. 10,11,12 are x-cluster near-dups of
    each other; 20,21 are y-cluster near-dups; 30 is x-cluster but far from
    everything (kept)."""
    rows = [
        (10, [1.0, 0.02, 0.0, 0.0]),
        (11, [1.0, 0.01, 0.0, 0.0]),   # near-dup of 10 -> dropped
        (12, [0.99, 0.03, 0.0, 0.0]),  # near-dup of 10 -> dropped
        (30, [0.72, 0.69, 0.0, 0.0]),  # x-side but ~45 deg away -> kept
        (20, [0.0, 1.0, 0.01, 0.0]),
        (21, [0.0, 1.0, 0.02, 0.0]),   # near-dup of 20 -> dropped
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")


def _sem_centroids(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 1.0), (2, [0.0, 1.0, 0.0, 0.0], 1.0)],
        "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE",
    )


def test_semantic_dedup_min_id_exemplar(spark):
    out = semantic_dedup(
        _sem_corpus(spark), "vec_id", "embedding",
        threshold=0.99, centroids=_sem_centroids(spark),
    )
    got = {r.vec_id: (r.cluster_id, r.keep) for r in out.collect()}
    assert got == {
        10: (1, True),
        11: (1, False),
        12: (1, False),
        30: (1, True),   # same cluster, below threshold to everything
        20: (2, True),
        21: (2, False),
    }


def test_semantic_dedup_cross_cluster_blindness(spark):
    """Near-identical vectors in DIFFERENT clusters are both kept — the
    documented SemDeDup trade (pairs only meet within a cluster); recall
    across the boundary is the quantizer's job, not the screen's."""
    rows = [
        (1, [1.0, 1.0, 0.0, 0.0]),   # equidistant-ish, lands cluster 1 (tie->cid asc)
        (2, [1.0, 1.001, 0.0, 0.0]),  # nearly identical but tips to cluster 2
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    out = semantic_dedup(
        df, "vec_id", "embedding", threshold=0.9,
        centroids=_sem_centroids(spark),
    )
    got = {r.vec_id: (r.cluster_id, r.keep) for r in out.collect()}
    assert got == {1: (1, True), 2: (2, True)}


def test_semantic_dedup_degenerate_vectors_kept(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),   # zero norm: no direction
        (3, None),                   # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    out = semantic_dedup(
        df, "vec_id", "embedding", threshold=0.5,
        centroids=_sem_centroids(spark),
    )
    got = {r.vec_id: (r.cluster_id, r.keep) for r in out.collect()}
    assert got == {1: (1, True), 2: (None, True), 3: (None, True)}


def test_similarity_zero_norm_excluded_and_ties_deterministic(spark):
    """The two fuzz-found rules (tools/fuzz_oracle.py, round 4), pinned:

    1. zero-norm / null vectors are excluded from every cosine operator on
       BOTH sides — under ANSI mode the join forms previously threw
       DIVIDE_BY_ZERO the moment a corpus contained one zero vector;
    2. top-k rank ties break on the ROUNDED cosine then nn_id: two scaled
       copies of one direction (cos exactly equal in real arithmetic) must
       rank by id in every physical form, not by which engine's float
       association computed the larger 16th decimal."""
    from geofeaturegeneration_spark.operators import (
        cosine_topk_blocked,
        embedding_neardup_pairs,
        farthest_point_centroids,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),        # zero norm
        (4, None),                        # null
        (5, [1e-30, 1e-30, 0.0, 0.0]),    # same direction, tiny scale
        (6, [1e18, 1e18, 0.0, 0.0]),      # same direction, huge scale
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")

    for fn in (cosine_topk, lambda d, i, v, k: cosine_topk_blocked(d, i, v, k=k)):
        out = fn(df, "vec_id", "embedding", 6).collect()
        ids = {r.vec_id for r in out} | {r.nn_id for r in out}
        assert 3 not in ids and 4 not in ids, "zero/null vector not excluded"
        # 5 and 6 are exact ties from vec 1's viewpoint: id order decides
        nn1 = [r.nn_id for r in sorted(out, key=lambda r: r.rank) if r.vec_id == 1]
        assert nn1.index(5) < nn1.index(6), f"tie not id-ordered: {nn1}"

    pairs = embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.9, n_bits=4
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (5, 6) in got and all(3 not in p and 4 not in p for p in got)

    cents = farthest_point_centroids(df, "vec_id", "embedding", k=3).collect()
    assert all(c["_cn"] > 0 for c in cents), "zero-norm vector became a seed"

    out = ann_lsh_topk(df, "vec_id", "embedding", k=6, n_bits=4).collect()
    ids = {r.vec_id for r in out} | {r.nn_id for r in out}
    assert 3 not in ids and 4 not in ids


def test_semantic_dedup_max_cluster_size_exempts(spark):
    """A cluster above the cap skips the screen entirely (all kept) — the
    explicit bound against a degenerate quantizer piling the corpus into
    one list; the other cluster still dedups."""
    out = semantic_dedup(
        _sem_corpus(spark), "vec_id", "embedding",
        threshold=0.99, centroids=_sem_centroids(spark),
        max_cluster_size=3,
    )
    got = {r.vec_id: (r.cluster_id, r.keep) for r in out.collect()}
    # cluster 1 has 4 members (> 3): exempt; cluster 2 has 2: screened
    assert got == {
        10: (1, True), 11: (1, True), 12: (1, True), 30: (1, True),
        20: (2, True), 21: (2, False),
    }


def test_semantic_dedup_default_quantizer_and_invariance(spark):
    """Default farthest-point quantizer path; output invariant under input
    partitioning (the keep rule depends only on ids and cosines)."""
    df = _sem_corpus(spark)
    a = semantic_dedup(df, "vec_id", "embedding", threshold=0.99, n_clusters=2)
    b = semantic_dedup(
        df.repartition(7), "vec_id", "embedding", threshold=0.99, n_clusters=2
    )
    ga = sorted((r.vec_id, r.cluster_id, r.keep) for r in a.collect())
    gb = sorted((r.vec_id, r.cluster_id, r.keep) for r in b.collect())
    assert ga == gb
    assert sum(1 for _, _, k in ga if not k) == 3  # same 3 near-dups drop


def _ref_lloyd(rows, cents, iters, scale=10**9):
    """Independent pure-Python quantized spherical Lloyd — the semantics
    lloyd_refine promises, written row-at-a-time: argmax cos (ties to the
    smaller cid), per-coordinate HALF_UP round(scale*x/|x|) int sums,
    left-associated sum-of-squares finisher. rows = [(id, [float32 vals])]."""
    import math

    def half_up(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    # float32 storage then double widening, like ARRAY<FLOAT> -> _to_double
    import numpy as np

    X = [[float(np.float32(x)) for x in vec] for _, vec in rows]
    norms = []
    for v in X:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        norms.append(math.sqrt(acc))
    cents = [(cid, list(cv), cn) for cid, cv, cn in cents]
    dim = len(cents[0][1])
    for _ in range(iters):
        sums = {}
        for v, n in zip(X, norms):
            if n <= 0:
                continue
            best = None
            for cid, cv, cn in cents:
                acc = 0.0
                for x, c in zip(v, cv):
                    acc = acc + x * c
                key = (acc / (n * cn), -cid)
                if best is None or key > best[0]:
                    best = (key, cid)
            cid = best[1]
            s = sums.setdefault(cid, [0] * dim)
            for d, x in enumerate(v):
                s[d] += half_up(scale * x / n)
        nxt = []
        for cid, cv, cn in cents:
            if cid not in sums:
                nxt.append((cid, cv, cn))
                continue
            sv = [float(s) for s in sums[cid]]
            acc = 0.0
            for x in sv:
                acc = acc + x * x
            nrm = math.sqrt(acc)
            if nrm == 0.0:
                nxt.append((cid, cv, cn))
                continue
            nxt.append((cid, [x / nrm for x in sv], 1.0))
        cents = nxt
    return cents


def test_lloyd_refine_matches_reference_and_improves(spark):
    """lloyd_refine == the independent reference bit-for-bit after 2
    full-corpus iterations, and the refined quantizer covers every true
    cluster direction better than the raw farthest-point seeds."""
    import numpy as np

    from geofeaturegeneration_spark.operators import (
        farthest_point_centroids,
        lloyd_refine,
    )

    rng = np.random.default_rng(23)
    dim, centers = 8, rng.normal(size=(3, 8))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for cl, n in [(0, 40), (1, 25), (2, 15)]:
        for _ in range(n):
            v = centers[cl] + 0.2 * rng.normal(size=dim)
            rows.append((len(rows), [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")

    seeds_df = farthest_point_centroids(df, "vec_id", "embedding", k=3)
    seeds = [
        (int(r["_cid"]), list(r["_cv"]), float(r["_cn"]))
        for r in seeds_df.orderBy("_cid").collect()
    ]
    got = lloyd_refine(df, "vec_id", "embedding", seeds_df, iters=2)
    got_rows = [
        (int(r["_cid"]), list(r["_cv"]), float(r["_cn"]))
        for r in got.orderBy("_cid").collect()
    ]
    exp = _ref_lloyd(rows, seeds, iters=2)
    assert got_rows == exp  # exact, no tolerance

    def cover(cents):
        C = np.array([c[1] for c in cents], dtype=np.float64)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        return (centers @ C.T).max(axis=1).min()

    assert cover(got_rows) >= cover(seeds) - 1e-12
    assert cover(got_rows) >= 0.95  # every true direction is represented


def test_lloyd_refine_partitioning_invariant(spark):
    """The scaled-int sums make the refined centroids EXACTLY equal under
    any input partitioning — the property a float avg() k-means lacks."""
    import numpy as np

    from geofeaturegeneration_spark.operators import (
        farthest_point_centroids,
        lloyd_refine,
    )

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=6)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    cents = farthest_point_centroids(df, "vec_id", "embedding", k=4)
    a = lloyd_refine(df, "vec_id", "embedding", cents, iters=2).collect()
    b = lloyd_refine(
        df.repartition(13), "vec_id", "embedding", cents, iters=2
    ).collect()
    ka = sorted((r["_cid"], list(r["_cv"]), r["_cn"]) for r in a)
    kb = sorted((r["_cid"], list(r["_cv"]), r["_cn"]) for r in b)
    assert ka == kb


def test_lloyd_refine_empty_cluster_keeps_seed(spark):
    """A centroid that captures no vectors (and iters=0) passes through
    unchanged — Lloyd never invents or drops a center."""
    from geofeaturegeneration_spark.operators import lloyd_refine

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],  # 3: zero-norm
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0], 1.0), (2, [-1.0, 0.0], 1.0)],
        "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE",
    )
    out = {
        r["_cid"]: (list(r["_cv"]), r["_cn"])
        for r in lloyd_refine(df, "vec_id", "embedding", cents, iters=1).collect()
    }
    assert out[2] == ([-1.0, 0.0], 1.0)  # empty cluster: seed kept verbatim
    assert out[1][0][0] > 0.99  # the +x cluster mean stays on +x
    same = lloyd_refine(df, "vec_id", "embedding", cents, iters=0).collect()
    assert sorted((r["_cid"], list(r["_cv"]), r["_cn"]) for r in same) == [
        (1, [1.0, 0.0], 1.0), (2, [-1.0, 0.0], 1.0),
    ]


# ---------------------------------------------------------------------------
# edit_join / deletion_variants
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    d = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, d[0] = d[:], i
        for j, cb in enumerate(b, 1):
            d[j] = min(prev[j] + 1, d[j - 1] + 1, prev[j - 1] + (ca != cb))
    return d[len(b)]


def test_deletion_variants_exact_neighborhood(spark):
    from geofeaturegeneration_spark.operators.dedup import deletion_variants

    df = spark.createDataFrame([("abc",), ("a",), ("",)], "key STRING")
    got = {
        r["key"]: set(r["vs"])
        for r in df.select("key", deletion_variants(F.col("key"), 1).alias("vs")).collect()
    }
    assert got["abc"] == {"abc", "bc", "ac", "ab"}
    assert got["a"] == {"a", ""}
    assert got[""] == {""}
    got2 = {
        r["key"]: set(r["vs"])
        for r in df.select("key", deletion_variants(F.col("key"), 2).alias("vs")).collect()
    }
    assert got2["abc"] == {"abc", "bc", "ac", "ab", "a", "b", "c"}
    assert got2[""] == {""}


def test_edit_join_known_typos(spark):
    from geofeaturegeneration_spark.operators.dedup import edit_join

    rows = [
        (1, "spark engine"),
        (2, "spork engine"),   # 1 substitution from 1
        (3, "spark engin"),    # 1 deletion from 1, 2 edits from 2
        (4, "entirely different"),
        (5, "spark engine"),   # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id BIGINT, key STRING")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_join(df, "id", "key", max_dist=1).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (1, 5): 0, (2, 5): 1, (3, 5): 1}
    got2 = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_join(df, "id", "key", max_dist=2).collect()
    }
    assert got2[(2, 3)] == 2 and len(got2) == 6


def test_edit_join_equals_bruteforce(spark):
    """Completeness of the symmetric-delete blocking: exactly the naive
    quadratic levenshtein join, on a corpus dense enough that every edit
    kind (sub/del/ins) and distance 0/1/2 occurs."""
    import itertools
    import random

    from geofeaturegeneration_spark.operators.dedup import edit_join

    rng = random.Random(41)
    strs = [
        "".join(rng.choice("abc ") for _ in range(rng.randrange(0, 8)))
        for _ in range(150)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "id BIGINT, key STRING"
    )
    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_join(df, "id", "key", max_dist=d, min_len=0).collect()
        }
        want = {
            (i, j, _lev(strs[i], strs[j]))
            for i, j in itertools.combinations(range(len(strs)), 2)
            if _lev(strs[i], strs[j]) <= d
        }
        assert got == want


def test_edit_join_min_len_and_bucket_cap(spark):
    from geofeaturegeneration_spark.operators.dedup import edit_join

    rows = [(i, "") for i in range(5)] + [(10, "abcdef"), (11, "abcdefg")]
    df = spark.createDataFrame(rows, "id BIGINT, key STRING")
    # default min_len=1: the five empty keys never pair
    got = {
        (r["id_a"], r["id_b"]) for r in edit_join(df, "id", "key").collect()
    }
    assert got == {(10, 11)}
    # min_len=0 admits them (10 empty-empty pairs at dist 0)
    got0 = edit_join(df, "id", "key", max_dist=1, min_len=0).collect()
    assert len(got0) == 11
    # a bucket cap below the hot empty-variant population drops those pairs
    # but keeps the well-behaved pair (documented recall loss, like LSH)
    capped = {
        (r["id_a"], r["id_b"])
        for r in edit_join(
            df, "id", "key", max_dist=1, min_len=0, max_bucket_size=4
        ).collect()
    }
    assert capped == {(10, 11)}


def test_edit_join_partition_invariant(spark):
    from geofeaturegeneration_spark.operators.dedup import edit_join

    rows = [(i, s) for i, s in enumerate(["abc", "abd", "abcd", "xyz", "xy"])]
    df = spark.createDataFrame(rows, "id BIGINT, key STRING")
    a = sorted(map(tuple, edit_join(df, "id", "key", max_dist=2).collect()))
    b = sorted(
        map(
            tuple,
            edit_join(df.repartition(5, "id"), "id", "key", max_dist=2).collect(),
        )
    )
    assert a == b


def test_ascii_key_hostile_unicode(spark):
    """The canonical form is pure [a-z0-9 ] regardless of input bytes, so
    levenshtein counts the same edits in Spark and the DuckDB oracle."""
    from geofeaturegeneration_spark.functions.text import ascii_key

    rows = [
        (1, "Café  DÉCOMPOSÉ!!"),
        (2, "ＦＵＬＬｗｉｄｔｈ ＡＢＣ"),
        (3, "  Spaces   Runs\t tab"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING")
    got = {
        r["id"]: r["k"]
        for r in df.select("id", ascii_key(F.col("text"), 24).alias("k")).collect()
    }
    assert got[1] == "caf dcompos"
    assert got[2] == ""             # fullwidth letters are non-ASCII: stripped
    assert got[3] == "spaces runs tab"[:24]
    assert got[4] == ""


def test_edit_join_cross_equals_bruteforce_and_persisted_variants(spark, tmp_path):
    import itertools
    import random

    from geofeaturegeneration_spark.operators.dedup import (
        edit_join_cross,
        edit_variant_table,
    )

    rng = random.Random(99)
    strs = [
        "".join(rng.choice("ab c") for _ in range(rng.randrange(1, 7)))
        for _ in range(120)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "id BIGINT, key STRING"
    )
    batch = df.filter("id % 2 = 1")
    corpus = df.filter("id % 2 = 0")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_join_cross(batch, corpus, "id", "key", max_dist=1).collect()
    }
    want = {
        (i, j, _lev(strs[i], strs[j]))
        for i in range(1, len(strs), 2)
        for j in range(0, len(strs), 2)
        if _lev(strs[i], strs[j]) <= 1
    }
    assert got == want
    # the corpus variant table persisted to parquet and reloaded yields the
    # identical join (the build-once-screen-forever contract)
    vt_path = str(tmp_path / "variants")
    edit_variant_table(corpus, "id", "key", max_dist=1).write.parquet(vt_path)
    stored = spark.read.parquet(vt_path)
    got2 = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_join_cross(
            batch, corpus, "id", "key", max_dist=1, right_variants=stored
        ).collect()
    }
    assert got2 == want


def test_edit_join_cross_same_id_semantics(spark):
    """ADVICE r04 #1: equal ids across INDEPENDENT id spaces are a
    legitimate match — exclude_same_id=False keeps them; the default
    (shared-id-space re-ingest semantics) drops exactly those pairs."""
    from geofeaturegeneration_spark.operators.dedup import edit_join_cross

    batch = spark.createDataFrame(
        [(7, "abc"), (9, "zzz")], "id BIGINT, key STRING"
    )
    corpus = spark.createDataFrame(
        [(7, "abd"), (8, "abc")], "id BIGINT, key STRING"
    )
    dflt = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_join_cross(batch, corpus, "id", "key", max_dist=1).collect()
    }
    # default: the (7, 7) match is suppressed by the same-id rule
    assert dflt == {(7, 8, 0)}
    full = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_join_cross(
            batch, corpus, "id", "key", max_dist=1, exclude_same_id=False
        ).collect()
    }
    assert full == {(7, 8, 0), (7, 7, 1)}
