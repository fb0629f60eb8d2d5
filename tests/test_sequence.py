"""Sequence export: pad/reshape parity vs oracle and the BASELINE.json
per-row invariant — token arrays byte-equal to source through the full
chunk → reassemble round trip."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geofeaturegeneration_spark.datagen import generate_sequences, generate_sequences_pdf
from geofeaturegeneration_spark.operators.sequence import (
    chunk_sequences,
    ordered_tokens,
    pad_to_multiple,
    reassemble_chunks,
)
from tests import oracle


@pytest.fixture(scope="module")
def seqs(spark):
    return generate_sequences(spark, n_docs=40, max_len=130, seed=11), generate_sequences_pdf(
        n_docs=40, max_len=130, seed=11
    )


def test_datagen_deterministic():
    a = generate_sequences_pdf(n_docs=10, seed=5)
    b = generate_sequences_pdf(n_docs=10, seed=5)
    assert all(list(x) == list(y) for x, y in zip(a["tokens"], b["tokens"]))


def test_n_tok_invariant(seqs):
    df, _ = seqs
    bad = df.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_pad_matches_oracle(seqs, spark):
    df, pdf = seqs
    got = (
        df.withColumn("padded", pad_to_multiple(F.col("tokens"), 100))
        .select("doc_id", "padded")
        .toPandas()
        .set_index("doc_id")
    )
    for _, r in pdf.iterrows():
        exp = oracle.pad_reshape(r["tokens"], 100).reshape(-1)
        np.testing.assert_array_equal(
            np.asarray(got.loc[r["doc_id"], "padded"], dtype=np.int32), exp
        )


def test_chunk_shapes(seqs):
    df, pdf = seqs
    got = chunk_sequences(df, "tokens", 100).toPandas()
    assert (got["chunk"].map(len) == 100).all()
    for doc_id, g in got.groupby("doc_id"):
        n = int(pdf.loc[pdf["doc_id"] == doc_id, "n_tok"].iloc[0])
        exp_chunks = oracle.pad_reshape(
            pdf.loc[pdf["doc_id"] == doc_id, "tokens"].iloc[0], 100
        )
        assert len(g) == exp_chunks.shape[0]
        g = g.sort_values("chunk_idx")
        np.testing.assert_array_equal(
            np.stack(g["chunk"].map(lambda c: np.asarray(c, dtype=np.int32))), exp_chunks
        )


def test_roundtrip_byte_equality(seqs):
    """chunk → reassemble must reproduce the source token arrays exactly
    (BASELINE.json per-row invariant)."""
    df, pdf = seqs
    chunked = chunk_sequences(df, "tokens", 100)
    back = reassemble_chunks(
        chunked, ["doc_id", "source"], n_col="n_tok", out_col="tokens2"
    )
    joined = df.join(back, ["doc_id", "source"]).select("doc_id", "tokens", "tokens2")
    mismatches = joined.filter(F.col("tokens") != F.col("tokens2")).count()
    assert mismatches == 0
    assert joined.count() == df.count()
    # byte-level check through Arrow on a sample
    sample = joined.limit(10).toPandas()
    for _, r in sample.iterrows():
        a = np.asarray(r["tokens"], dtype=np.int32)
        b = np.asarray(r["tokens2"], dtype=np.int32)
        assert a.tobytes() == b.tobytes()


def test_ordered_tokens(spark):
    pdf = pd.DataFrame(
        {
            "uid": ["u1"] * 5 + ["u2"] * 3,
            "pos": [4, 2, 0, 1, 3, 2, 0, 1],
            "tok": [14, 12, 10, 11, 13, 22, 20, 21],
        }
    )
    got = (
        ordered_tokens(spark.createDataFrame(pdf).repartition(4), ["uid"], "pos", "tok")
        .toPandas()
        .set_index("uid")
    )
    assert list(got.loc["u1", "tokens"]) == [10, 11, 12, 13, 14]
    assert list(got.loc["u2", "tokens"]) == [20, 21, 22]


def test_ordered_tokens_fast_path_matches_struct_path(spark):
    """The packed-long fast path (int order, int token) must be
    row-identical to the struct sort — including tie-break on duplicate
    order values carrying NEGATIVE tokens (the offset-encoding property)
    and negative order values. The struct path is forced by widening the
    order column to bigint (which also exercises the overflow-safe
    fallback the fast path refuses)."""
    rng = np.random.default_rng(5)
    n = 3000
    pdf = pd.DataFrame(
        {
            "uid": rng.integers(0, 40, n),
            # heavy duplication so ties are common; include negatives
            "pos": rng.integers(-50, 50, n).astype("int32"),
            "tok": rng.integers(-(2**31), 2**31, n, dtype=np.int64).astype("int32"),
        }
    )
    df = spark.createDataFrame(pdf)
    df = df.withColumn("pos", F.col("pos").cast("int")).withColumn(
        "tok", F.col("tok").cast("int")
    )
    fast = ordered_tokens(df, ["uid"], "pos", "tok")
    slow = ordered_tokens(
        df.withColumn("pos", F.col("pos").cast("bigint")), ["uid"], "pos", "tok"
    )
    f = {r["uid"]: r["tokens"] for r in fast.collect()}
    s = {r["uid"]: r["tokens"] for r in slow.collect()}
    assert f == s


def test_ordered_tokens_bigint_order_out_of_int32_range(spark):
    """Epoch-micros-sized order values (outside int32) must take the struct
    path and still order correctly — the old packed path silently discarded
    high bits (ADVICE round 1)."""
    base = 1_700_000_000_000_000  # epoch micros
    rows = [("a", base + 3, 30), ("a", base + 1, 10), ("a", base + 2, 20)]
    df = spark.createDataFrame(rows, "uid STRING, pos BIGINT, tok INT")
    out = {r["uid"]: r["tokens"] for r in ordered_tokens(df, ["uid"], "pos", "tok").collect()}
    assert out == {"a": [10, 20, 30]}


def test_ordered_tokens_null_rows_dropped_consistently(spark):
    """Null order/token rows are dropped identically by the packed and
    struct paths; an all-null entity emits no row."""
    rows = [
        ("a", 2, 20), ("a", None, 99), ("a", 1, 10), ("a", 3, None),
        ("b", None, 1),
    ]
    df = spark.createDataFrame(rows, "uid STRING, pos INT, tok INT")
    fast = {r["uid"]: r["tokens"] for r in ordered_tokens(df, ["uid"], "pos", "tok").collect()}
    slow = {
        r["uid"]: r["tokens"]
        for r in ordered_tokens(
            df.withColumn("pos", F.col("pos").cast("bigint")), ["uid"], "pos", "tok"
        ).collect()
    }
    assert fast == slow == {"a": [10, 20]}


def test_chunk_strided_matches_python_replay(spark):
    from geofeaturegeneration_spark.operators.sequence import chunk_sequences

    rows = [(1, list(range(10))), (2, list(range(3))), (3, []),
            (4, list(range(8)))]
    df = spark.createDataFrame(rows, "doc_id INT, tokens array<int>")
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk"]
        for r in chunk_sequences(df, "tokens", 8, stride=4).collect()
    }

    def replay(toks, seq_len=8, stride=4, pad=0):
        n = len(toks)
        import math
        nw = max(math.ceil((n - seq_len) / stride) + 1, 1)
        padded = toks + [pad] * ((nw - 1) * stride + seq_len - n)
        return {i: padded[i * stride: i * stride + seq_len] for i in range(nw)}

    want = {
        (d, i): c for d, toks in rows for i, c in replay(toks).items()
    }
    assert got == want
    # every original token appears in at least one window of its doc
    for d, toks in rows:
        seen = [t for (dd, _), c in got.items() if dd == d for t in c]
        for t in toks:
            assert t in seen


def test_chunk_strided_default_equals_disjoint(spark):
    from geofeaturegeneration_spark.operators.sequence import chunk_sequences

    df = spark.createDataFrame(
        [(1, list(range(20))), (2, [7])], "doc_id INT, tokens array<int>"
    )
    a = sorted(map(tuple, chunk_sequences(df, "tokens", 8).collect()))
    b = sorted(map(tuple, chunk_sequences(df, "tokens", 8, stride=8).collect()))
    assert a == b


def test_chunk_strided_validates_stride(spark):
    from geofeaturegeneration_spark.operators.sequence import chunk_sequences

    df = spark.createDataFrame([(1, [1, 2])], "doc_id INT, tokens array<int>")
    with pytest.raises(ValueError):
        chunk_sequences(df, "tokens", 8, stride=9)  # gaps would drop tokens
    with pytest.raises(ValueError):
        chunk_sequences(df, "tokens", 8, stride=0)
