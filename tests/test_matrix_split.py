"""series_to_matrix (SQL pad, AttachFeature.py:629-711 analog),
hash_split, negative_samples."""

import math
import os
import sys
from datetime import datetime

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geofeaturegeneration_spark.operators import (
    hash_split,
    negative_samples,
    series_to_matrix,
)


def test_series_to_matrix_pads_orders_and_drops(spark):
    rows = [
        # user a, one week, 3 rows out of order
        ("a", datetime(2024, 1, 10, 12), 3.0),
        ("a", datetime(2024, 1, 9, 12), 2.0),
        ("a", datetime(2024, 1, 8, 12), 1.0),
        # user b, too many rows (5 > max_rows=4) -> dropped
        *[("b", datetime(2024, 1, 8 + i), float(i)) for i in range(5)],
        # user a, second week
        ("a", datetime(2024, 1, 15, 1), 9.0),
        # user c, exactly max_rows rows -> kept, no padding
        *[("c", datetime(2024, 1, 8 + i), float(i)) for i in range(4)],
        # user d, a null feature -> NaN
        ("d", datetime(2024, 1, 9), None),
        ("d", datetime(2024, 1, 8), 4.0),
        # null entity or null time -> dropped
        (None, datetime(2024, 1, 8), 5.0),
        ("a", None, 7.0),
        # user e, three rows tied on time
        *[("e", datetime(2024, 1, 8), v) for v in (2.0, 1.0, 3.0)],
    ]
    df = spark.createDataFrame(rows, "uid STRING, ts TIMESTAMP, v DOUBLE")
    out = series_to_matrix(df, "uid", "ts", ["v"], max_rows=4, period="week")
    got = {(r["uid"], str(r["period_start"])): r for r in out.collect()}
    wk1, wk2 = "2024-01-08 00:00:00", "2024-01-15 00:00:00"
    assert set(got) == {("a", wk1), ("a", wk2), ("c", wk1), ("d", wk1), ("e", wk1)}
    assert got[("a", wk1)]["n_rows"] == 3
    assert got[("a", wk1)]["matrix"] == [[1.0], [2.0], [3.0], [0.0]]  # time-ordered + pad
    assert got[("a", wk2)]["matrix"] == [[9.0], [0.0], [0.0], [0.0]]
    assert got[("c", wk1)]["n_rows"] == 4
    assert got[("c", wk1)]["matrix"] == [[0.0], [1.0], [2.0], [3.0]]
    d = got[("d", wk1)]["matrix"]
    assert d[0] == [4.0] and math.isnan(d[1][0]) and d[2:] == [[0.0], [0.0]]
    # tied rows give the same matrix on a second run over a reshuffled input
    again = series_to_matrix(df.repartition(3), "uid", "ts", ["v"], max_rows=4, period="week")
    ties = [r["matrix"] for r in again.filter(F.col("uid") == "e").collect()]
    assert ties == [got[("e", wk1)]["matrix"]]
    assert sorted(x for (x,) in ties[0][:3]) == [1.0, 2.0, 3.0]


def test_series_to_matrix_multi_feature(spark):
    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 8), 1.0, 10.0)],
        "uid STRING, ts TIMESTAMP, x DOUBLE, y DOUBLE",
    )
    out = series_to_matrix(df, "uid", "ts", ["x", "y"], max_rows=2).collect()[0]
    assert out["matrix"] == [[1.0, 10.0], [0.0, 0.0]]


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, "doc_id").collect()
    b = hash_split(df, "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    frac = sum(r["is_test"] for r in a) / len(a)
    assert 0.15 < frac < 0.25
    # different salt -> different membership
    c = hash_split(df, "doc_id", salt="other").collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_negative_samples_unvisited_only(spark):
    inter = spark.createDataFrame(
        [("u1", "g1"), ("u1", "g2"), ("u2", "g1")], "uid STRING, item STRING"
    )
    items = spark.createDataFrame(
        [("g1",), ("g2",), ("g3",), ("g4",)], "item STRING"
    )
    out = negative_samples(inter, items, "uid", "item", k=2)
    got = {(r["uid"], r["item"]) for r in out.collect()}
    visited = {("u1", "g1"), ("u1", "g2"), ("u2", "g1")}
    assert not (got & visited)
    assert len([p for p in got if p[0] == "u1"]) == 2  # g3, g4
    assert len([p for p in got if p[0] == "u2"]) == 2  # top-2 of g2,g3,g4
    # deterministic
    again = {(r["uid"], r["item"]) for r in
             negative_samples(inter, items, "uid", "item", k=2).collect()}
    assert got == again


def test_negative_samples_null_entity_same_on_both_paths(spark):
    """A NULL entity draws no samples on EITHER path — the sampled path's
    slot hash is null by construction, and the enumeration path now filters
    identically, so switching n_candidates never changes null-key rows."""
    inter = spark.createDataFrame(
        [("u1", "g1"), (None, "g1")], "uid STRING, item STRING"
    )
    items = spark.createDataFrame(
        [("g1",), ("g2",), ("g3",)], "item STRING"
    )
    enum = negative_samples(inter, items, "uid", "item", k=2)
    sampled = negative_samples(
        inter, items, "uid", "item", k=2, n_candidates=16
    )
    assert all(r["uid"] is not None for r in enum.collect())
    assert all(r["uid"] is not None for r in sampled.collect())


def test_contrastive_samples(spark):
    from geofeaturegeneration_spark.operators.split import contrastive_samples
    import pyspark.sql.functions as F

    rows = [
        ("u1", i, 100 + i, (100 + i) % 3) for i in range(6)
    ]  # entity, ts(int order), event item, grid in {0,1,2}
    df = spark.createDataFrame(rows, "user STRING, ts INT, item INT, grid INT")
    pool = spark.createDataFrame([(g,) for g in range(6)], "grid INT")
    out = contrastive_samples(
        df, "user", "ts", "item", pool, "grid", seq_len=3, k_neg=2
    ).collect()
    # rows exist only once a full window of 3 and a next item exist: ts 2..4
    assert sorted(r["ts"] for r in out) == [2, 3, 4]
    by_ts = {r["ts"]: r for r in out}
    assert by_ts[2]["query"] == [100, 101, 102] and by_ts[2]["pos"] == 103
    assert by_ts[4]["query"] == [102, 103, 104] and by_ts[4]["pos"] == 105
    # negatives: unvisited grids are {3,4,5}; same deterministic pair on
    # every row of the entity, ordered by hash rank
    negsets = {tuple(r["neg"]) for r in out}
    assert len(negsets) == 1
    only = negsets.pop()
    assert len(only) == 2 and set(only) <= {3, 4, 5}


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every member of a near-dup cluster lands in the same split; docs
    without an assignment fall back to their own id (== hash_split)."""
    from geofeaturegeneration_spark.operators import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id INT"
    )
    # clusters: {0..4} -> 0, {10,11} -> 10, rest unassigned
    clusters = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(10, 10), (11, 10)],
        "doc_id INT, cluster_id INT",
    )
    out = leakage_safe_split(docs, "doc_id", clusters).collect()
    by_id = {r["doc_id"]: (r["split_bucket"], r["is_test"]) for r in out}
    assert len(by_id) == 40  # the split is total
    assert len({by_id[i] for i in range(5)}) == 1  # whole cluster together
    assert by_id[10] == by_id[11]
    # unassigned docs match the plain per-doc draw with the same salt
    plain = {
        r["doc_id"]: (r["split_bucket"], r["is_test"])
        for r in hash_split(docs, "doc_id").collect()
    }
    for i in range(12, 40):
        assert by_id[i] == plain[i]
    # cluster members inherit the cluster representative's draw
    assert by_id[0] == plain[0] and by_id[10] == plain[10]
