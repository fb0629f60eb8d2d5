"""Property-based tests (hypothesis): randomized inputs against exact
pure-Python models of the operator contracts. Complements the fixed-
corpus unit tests and the DuckDB oracle gate with a third independent
check — hypothesis explores input shapes (empty strings, adversarial
rates, boundary lengths) no hand-written fixture enumerates.

Each property runs a real Spark job per example, so ``max_examples`` is
deliberately small and ``deadline`` disabled (JVM latency is not a
property failure). Failures shrink to minimal counterexamples as usual.
"""

import hashlib
import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    print_blob=True,
)


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------- epochs
@settings(**SETTINGS)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1, max_size=30, unique=True,
    ),
    rates=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=3_500_000),
        max_size=3,
    ),
    default_ppm=st.integers(min_value=0, max_value=2_000_000),
)
def test_epoch_upsample_matches_python_model(spark, ids, rates, default_ppm):
    """Copy multiset == the documented pure function of (id, salt, ppm)."""
    from geofeaturegeneration_spark.operators import epoch_upsample

    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in ids]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    got = sorted(
        (r["doc_id"], r["epoch"])
        for r in epoch_upsample(
            df, "doc_id", rates, default_ppm=default_ppm
        ).collect()
    )
    want = []
    for i, src in rows:
        ppm = rates.get(src, default_ppm)
        n = ppm // 1_000_000 + (
            1 if _md5_60(f"{i}#epoch") % 1_000_000 < ppm % 1_000_000 else 0
        )
        want.extend((i, e) for e in range(1, n + 1))
    assert got == sorted(want)


# ------------------------------------------------------ chunk round-trip
@settings(**SETTINGS)
@given(
    toks=st.lists(
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=10,
    ),
    seq_len=st.integers(min_value=1, max_value=16),
)
def test_chunk_reassemble_roundtrip(spark, toks, seq_len):
    """chunk_sequences -> reassemble_chunks recovers every token array
    byte-for-byte for arbitrary lengths (incl. empty) and seq_len."""
    from geofeaturegeneration_spark.operators import (
        chunk_sequences,
        reassemble_chunks,
    )

    rows = [(i, arr, len(arr)) for i, arr in enumerate(toks)]
    df = spark.createDataFrame(
        rows, "doc_id INT, tokens ARRAY<INT>, n_tok INT"
    )
    chunks = chunk_sequences(df.select("doc_id", "n_tok", "tokens"),
                             "tokens", seq_len)
    back = reassemble_chunks(
        chunks, ["doc_id"], idx_col="chunk_idx", chunk_col="chunk",
        out_col="tokens", n_col="n_tok",
    )
    got = {r["doc_id"]: list(r["tokens"]) for r in back.collect()}
    # empty docs round-trip too: chunk_sequences emits one all-pad chunk
    # even for an empty array (greatest(n_chunks, 1) — no doc silently
    # vanishes from the export) and the n_tok slice recovers []
    assert got == {i: arr for i, arr, _ in rows}


# ------------------------------------------------------------- edit_join
@settings(**SETTINGS)
@given(
    strs=st.lists(
        st.text(alphabet="ab ", max_size=6), min_size=2, max_size=25
    ),
    d=st.integers(min_value=0, max_value=2),
)
def test_edit_join_matches_python_model(spark, strs, d):
    """Pairs == the naive quadratic levenshtein join (completeness of the
    symmetric-delete blocking) on arbitrary short keys incl. empties."""
    import itertools

    from geofeaturegeneration_spark.operators import edit_join

    def lev(a, b):
        dd = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dd[0] = dd[:], i
            for j, cb in enumerate(b, 1):
                dd[j] = min(prev[j] + 1, dd[j - 1] + 1, prev[j - 1] + (ca != cb))
        return dd[len(b)]

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "id LONG, key STRING"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_join(df, "id", "key", max_dist=d, min_len=0).collect()
    }
    want = {
        (i, j, lev(strs[i], strs[j]))
        for i, j in itertools.combinations(range(len(strs)), 2)
        if lev(strs[i], strs[j]) <= d
    }
    assert got == want


# -------------------------------------------------------------- pagerank
@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1, max_size=40,
    ),
    d=st.integers(min_value=0, max_value=1_000_000),
    iters=st.integers(min_value=0, max_value=4),
)
def test_pagerank_matches_python_model(spark, edges, d, iters):
    """Ranks == the documented integer recurrence for any graph shape
    (self-loop-free dedup applied), damping in [0, 1e6], and iteration
    count — including n_iter=0 (uniform) and damping 0/1e6 extremes."""
    from collections import defaultdict

    from geofeaturegeneration_spark.operators import pagerank

    es = sorted({(a, b) for a, b in edges if a != b})
    if not es:
        return
    df = spark.createDataFrame(es, "src BIGINT, dst BIGINT")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=iters, damping_ppm=d).collect()
    }
    nodes = sorted({a for a, _ in es} | {b for _, b in es})
    n, scale = len(nodes), 10**12
    deg = defaultdict(int)
    for a, _ in es:
        deg[a] += 1
    rank = {v: scale // n for v in nodes}
    base = ((1_000_000 - d) * scale) // 1_000_000 // n
    for _ in range(iters):
        s = defaultdict(int)
        for a, b in es:
            s[b] += rank[a] // deg[a]
        rank = {v: base + d * s[v] // 1_000_000 for v in nodes}
    assert got == rank
