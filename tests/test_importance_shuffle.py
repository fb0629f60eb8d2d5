"""Unit tests for the deterministic global shuffle->shard exporter
(split.shuffle_shards), replayed by an exact Python oracle over the same
md5 primitive; the DuckDB value-exact check runs separately via
tools/compare_oracle.py."""

import hashlib
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geofeaturegeneration_spark.operators import shuffle_shards


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def shuffle_docs(spark):
    rows = [(i, f"src{i % 3}") for i in range(97)]
    return spark.createDataFrame(rows, "doc_id INT, source STRING")


def _py_order(ids, salt="shuffle"):
    return sorted(ids, key=lambda i: (_md5_long(f"{i}#{salt}"), i))


def test_shuffle_shards_matches_rank_definition(spark, shuffle_docs):
    out = shuffle_shards(shuffle_docs, "doc_id", shard_size=10).collect()
    exp_order = _py_order([r[0] for r in shuffle_docs.collect()])
    got = {r["doc_id"]: (r["pos"], r["shard"], r["shard_pos"]) for r in out}
    for pos, did in enumerate(exp_order):
        assert got[did] == (pos, pos // 10, pos % 10)
    # input columns survive
    assert {r["source"] for r in out} == {"src0", "src1", "src2"}


def test_shuffle_shards_parallelism_invariant(spark, shuffle_docs):
    a = sorted(
        (r["doc_id"], r["pos"])
        for r in shuffle_shards(
            shuffle_docs, "doc_id", shard_size=7, num_partitions=3
        ).collect()
    )
    b = sorted(
        (r["doc_id"], r["pos"])
        for r in shuffle_shards(
            shuffle_docs.repartition(11), "doc_id", shard_size=7,
            num_partitions=13,
        ).collect()
    )
    assert a == b


def test_shuffle_shards_salt_redraws(spark, shuffle_docs):
    a = {r["doc_id"]: r["pos"] for r in
         shuffle_shards(shuffle_docs, "doc_id", 10).collect()}
    b = {r["doc_id"]: r["pos"] for r in
         shuffle_shards(shuffle_docs, "doc_id", 10, salt="epoch2").collect()}
    assert a != b                      # different permutation...
    assert sorted(a.values()) == sorted(b.values())  # ...same positions


def test_shuffle_shards_guards(spark, shuffle_docs):
    with pytest.raises(ValueError):
        shuffle_shards(shuffle_docs, "doc_id", 0)
    with pytest.raises(ValueError):
        shuffle_shards(
            shuffle_docs.withColumn("pos", F.lit(1)), "doc_id", 10
        )
