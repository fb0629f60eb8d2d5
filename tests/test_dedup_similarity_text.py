"""Unit tests for the training-data pipeline operators: dedup and text
analysis. Property-style checks against small hand-built corpora
(the DuckDB value-exact check runs separately via
tools/compare_oracle.py / the external driver)."""

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
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
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


def test_similarity_zero_norm_excluded_and_ties_deterministic(spark):
    """The two fuzz-found similarity rules, as they hold for the
    shingle-set operators:

    1. a doc with an EMPTY shingle set (null text, empty text, fewer than
       k words) — the set analogue of a zero-norm vector — takes part in
       no pair on either side, so no Jaccard is ever 0/0 and empty docs
       never bucket together as "duplicates" of each other;
    2. ties are deterministic: exact copies all score jaccard 1.0, and the
       cluster keeper is the min id under every input partitioning."""
    from geofeaturegeneration_spark.operators import dedup_clusters

    fox = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, fox),
        (2, None),          # null text
        (3, "too short"),   # < k words
        (4, ""),            # empty text
        (5, fox),
        (6, fox),
        (7, "too short"),   # identical to 3, still no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    copies = {(1, 5), (1, 6), (5, 6)}

    jac = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.0)
    assert {(r.id_a, r.id_b): r.jaccard for r in jac.collect()} == {
        p: 1.0 for p in copies
    }
    for d in (
        df,
        df.repartition(5, "doc_id"),
        df.orderBy(F.desc("doc_id")).repartition(3),
    ):
        pairs = minhash_lsh_pairs(d, "doc_id", "text", k=3)
        assert {(r.id_a, r.id_b) for r in pairs.collect()} == copies
        got = {
            r.doc_id: (r.cluster_id, r.is_keeper)
            for r in dedup_clusters(d.select("doc_id"), "doc_id", pairs).collect()
        }
        assert got == {
            1: (1, True), 5: (1, False), 6: (1, False),
            2: (2, True), 3: (3, True), 4: (4, True), 7: (7, True),
        }


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
