"""HyperLogLog cardinality sketch / HDR histogram quantiles
(operators/sketch.py).

Properties pinned here:

* The HLL register table and the HDR bucket table are exact Python
  replays of the integer rules, so both are pure functions of the values.
* hll_merge / hist_merge over shard sketches == one build over the union,
  exactly, with and without group_cols.
* HLL estimates land within 5 % on both estimator branches; duplicates,
  nulls and repartitioning do not move them.
* hist_quantiles honours its rank guarantee within the bucket's relative
  width, for row counts and for weighted mass, over negative values too.
"""

import pytest
from pyspark.sql import functions as F

from geofeaturegeneration_spark.operators.sketch import (
    hist_build,
    hist_merge,
    hist_quantile_values,
    hist_quantiles,
    hll_build,
    hll_count,
    hll_estimate,
    hll_merge,
)


# ---------------------------------------------------------------------------
# HyperLogLog cardinality sketch
# ---------------------------------------------------------------------------


def _vals(spark, n, prefix="v"):
    return spark.range(n).select(
        F.concat(F.lit(f"{prefix}-"), F.col("id")).alias("v")
    )


def test_hll_register_table_is_exact_python_replay(spark):
    # the register table is a pure integer function of the value set:
    # replay r / rank in python over the same md5-60bit hash
    import hashlib

    vals = [f"x{i}" for i in range(500)] + ["x7", "x7"]  # dups collapse
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    p, m = 6, 64
    regs = {}
    for v in set(vals):
        h = int(hashlib.md5(f"{v}#hll".encode()).hexdigest()[:15], 16)
        r, w = h % m, h >> p
        rank = (60 - p) - w.bit_length() + 1
        regs[r] = max(regs.get(r, 0), rank)
    got = {
        row["r"]: row["rank"]
        for row in hll_build(df, "v", p=p).collect()
    }
    assert got == regs


def test_hll_merge_equals_build_on_union_exactly(spark):
    df = _vals(spark, 20_000)
    a = df.filter(F.col("v") < "v-3")
    b = df.filter(F.col("v") >= "v-3")
    p = 10
    merged = hll_merge(hll_build(a, "v", p=p), hll_build(b, "v", p=p))
    whole = hll_build(df, "v", p=p)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # and therefore the estimates agree bit-for-bit
    assert (
        hll_estimate(merged, p=p).collect()
        == hll_estimate(whole, p=p).collect()
    )


def test_hll_estimate_accuracy_raw_branch(spark):
    # 100k distinct at p=12 (m=4096): raw-estimate branch; standard
    # error 1.04/sqrt(m) ~ 1.6%, assert a generous 3-sigma 5%
    n = 100_000
    [row] = hll_count(_vals(spark, n), "v", p=12).collect()
    assert row["filled"] == 4096  # every register hit at this scale
    assert abs(row["est"] - n) / n < 0.05


def test_hll_estimate_accuracy_linear_counting_branch(spark):
    # 300 distinct at p=12: zeros abound -> linear-counting branch,
    # which is near-exact at this load factor
    [row] = hll_count(_vals(spark, 300, "s"), "v", p=12).collect()
    assert row["filled"] < 4096
    assert abs(row["est"] - 300) / 300 < 0.05


def test_hll_duplicates_do_not_move_the_estimate(spark):
    # cardinality, not frequency: 50x-duplicated stream == distinct stream
    base = _vals(spark, 2_000)
    dup = base.crossJoin(spark.range(50).select(F.lit(1).alias("_k"))).select("v")
    p = 10
    assert (
        hll_count(dup, "v", p=p).collect()
        == hll_count(base, "v", p=p).collect()
    )


def test_hll_partitioning_invariant_and_null_skip(spark):
    df = _vals(spark, 5_000).withColumn(
        "v", F.when(F.col("v") < "v-2", F.col("v"))  # ~ nulls elsewhere
    )
    p = 8
    one = hll_build(df.coalesce(1), "v", p=p)
    many = hll_build(df.repartition(17), "v", p=p)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))
    # nulls contributed nothing: same table as the pre-filtered stream
    clean = hll_build(df.filter(F.col("v").isNotNull()), "v", p=p)
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, clean.collect())
    )


def test_hll_empty_input_estimates_zero(spark):
    df = spark.createDataFrame([], "v string")
    [row] = hll_count(df, "v", p=8).collect()
    assert row["filled"] == 0 and row["est"] == 0.0


def test_hll_param_validation(spark):
    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError):
        hll_build(df, "v", p=3)
    with pytest.raises(ValueError):
        hll_build(df, "v", p=19)
    with pytest.raises(ValueError):
        hll_merge()


# ---------------------------------------------------------------------------
# Base-2 HDR histogram + quantile sketch
# ---------------------------------------------------------------------------


def _hist_truth_quantile(vals, q_ppm):
    sv = sorted(vals)
    target = -(-q_ppm * len(sv) // 1_000_000)  # ceil
    return sv[target - 1], target


def test_hist_bucket_rule_exact_python_replay(spark):
    # bucket id is a pure integer function of the value: replay in python
    vals = list(range(0, 70)) + [100, 1023, 1024, 1025, 2**40, 2**62,
                                 -1, -31, -32, -1000000]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    s = 5

    def pos_id(v):
        if v < (1 << s):
            return v
        e = v.bit_length() - 1
        return ((e - s + 1) << s) + (v >> (e - s)) - (1 << s)

    def bid(v):
        return pos_id(v) if v >= 0 else -pos_id(-v) - 1

    import collections

    truth = collections.Counter(bid(v) for v in vals)
    got = {r["b"]: r["cnt"] for r in hist_build(df, "v", sub_bits=s).collect()}
    assert got == dict(truth)


def test_hist_quantiles_rank_guarantee_and_relative_error(spark):
    import random

    rng = random.Random(11)
    vals = [rng.randrange(0, 10_000_000) for _ in range(30_000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(13)
    s = 5
    qs = [1, 10_000, 250_000, 500_000, 900_000, 999_000, 1_000_000]
    got = {
        r["q_ppm"]: (r["value"], r["rank"])
        for r in hist_quantile_values(df, "v", qs, sub_bits=s).collect()
    }
    for q in qs:
        true, target = _hist_truth_quantile(vals, q)
        est, rank = got[q]
        assert rank == target
        # lower-edge rule: est is <= the true order statistic and within
        # one bucket's relative width (2^-s) of it
        assert est <= true
        assert est >= true * (1 - 2**-s) - 1


def test_hist_merge_equals_build_on_union_exactly(spark):
    import random

    rng = random.Random(3)
    vals = [rng.randrange(0, 100_000) for _ in range(5_000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    a = hist_build(df.filter(F.col("v") % 3 == 0), "v", sub_bits=4)
    b = hist_build(df.filter(F.col("v") % 3 != 0), "v", sub_bits=4)
    whole = hist_build(df, "v", sub_bits=4)
    assert sorted(map(tuple, hist_merge(a, b).collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hist_weighted_mass_quantile(spark):
    # token-mass quantile: the doc length below which half the TOKENS sit.
    # lengths 10 (weight 1 each, x9) and 1000 (weight 991): half the mass
    # sits in the single heavy doc
    rows = [(10, 1)] * 9 + [(1000, 991)]
    df = spark.createDataFrame(rows, "v long, wt long")
    [row] = hist_quantile_values(
        df, "v", [500_000], sub_bits=5, weight_col="wt"
    ).collect()
    # p50 by mass must land in the 1000-bucket (lower edge 992), not at 10
    assert row["value"] >= 992
    # by rows it would land at 10
    [row2] = hist_quantile_values(df, "v", [500_000], sub_bits=5).collect()
    assert row2["value"] == 10


def test_hist_negative_values_order_and_edges(spark):
    vals = [-1000, -10, -1, 0, 1, 10, 1000]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    s = 5
    got = {
        r["q_ppm"]: r["value"]
        for r in hist_quantile_values(
            df, "v", [1, 500_000, 1_000_000], sub_bits=s
        ).collect()
    }
    # q→0 lands in the most negative bucket (lower edge <= -1000),
    # median is exact (singleton bucket), max bucket's lower edge <= 1000
    assert got[1] <= -1000
    assert got[500_000] == 0
    assert 1000 * (1 - 2**-s) - 1 <= got[1_000_000] <= 1000


def test_hist_partitioning_invariance_and_null_skip(spark):
    df = spark.createDataFrame(
        [(v,) for v in range(2_000)] + [(None,)] * 50, "v long"
    )
    one = hist_build(df.coalesce(1), "v", sub_bits=3)
    many = hist_build(df.repartition(17), "v", sub_bits=3)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))
    assert one.agg(F.sum("cnt")).collect()[0][0] == 2_000  # nulls skipped


def test_hist_sub_bits_zero_is_pure_log2(spark):
    df = spark.createDataFrame([(0,), (1,), (2,), (3,), (4,), (7,), (8,)], "v long")
    got = {r["b"]: r["cnt"] for r in hist_build(df, "v", sub_bits=0).collect()}
    # id: 0->0, 1->1, {2,3}->2, {4..7}->3, {8..15}->4
    assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 1}


def test_hist_param_validation_and_empty(spark):
    df = spark.createDataFrame([], "v long")
    with pytest.raises(ValueError):
        hist_build(df, "v", sub_bits=9)
    with pytest.raises(ValueError):
        hist_quantiles(hist_build(df, "v"), [])
    with pytest.raises(ValueError):
        hist_quantiles(hist_build(df, "v"), [0])
    with pytest.raises(ValueError):
        hist_merge()
    # empty input -> empty quantile table (quantiles of nothing)
    assert hist_quantile_values(df, "v", [500_000]).count() == 0


def test_hist_grouped_equals_per_slice_ungrouped(spark):
    # per-group histogram/quantiles == the ungrouped operator run on each
    # group's slice independently (same buckets, same cuts)
    import random

    rng = random.Random(5)
    rows = [
        (g, rng.randrange(0, 10_000 * (1 + 3 * gi)))
        for gi, g in enumerate("abc")
        for _ in range(4_000)
    ]
    df = spark.createDataFrame(rows, "g string, v long").repartition(7)
    s, qs = 4, [500_000, 990_000]
    got_b = {
        (r["g"], r["b"]): r["cnt"]
        for r in hist_build(df, "v", sub_bits=s, group_cols=["g"]).collect()
    }
    got_q = {
        (r["g"], r["q_ppm"]): (r["value"], r["rank"])
        for r in hist_quantile_values(
            df, "v", qs, sub_bits=s, group_cols=["g"]
        ).collect()
    }
    for g in "abc":
        sl = df.filter(F.col("g") == g)
        for r in hist_build(sl, "v", sub_bits=s).collect():
            assert got_b[(g, r["b"])] == r["cnt"]
        for r in hist_quantile_values(sl, "v", qs, sub_bits=s).collect():
            assert got_q[(g, r["q_ppm"])] == (r["value"], r["rank"])
    assert len(got_q) == 6  # 3 groups x 2 quantiles


def test_hist_grouped_merge_equals_build_on_union(spark):
    rows = [("a", i % 97) for i in range(1_000)] + [
        ("b", i % 31) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    x = hist_build(df.filter(F.col("v") % 2 == 0), "v", sub_bits=3,
                   group_cols=["g"])
    y = hist_build(df.filter(F.col("v") % 2 != 0), "v", sub_bits=3,
                   group_cols=["g"])
    whole = hist_build(df, "v", sub_bits=3, group_cols=["g"])
    assert sorted(
        map(tuple, hist_merge(x, y, group_cols=["g"]).collect())
    ) == sorted(map(tuple, whole.collect()))


def test_hll_grouped_equals_per_slice_ungrouped(spark):
    # per-group registers/estimates == the ungrouped operator run on each
    # group's slice (values overlap across groups: registers must not)
    rows = [(g, f"{'xy'[i % 2]}-{i % (300 * (gi + 1))}")
            for gi, g in enumerate("abc") for i in range(2_000)]
    df = spark.createDataFrame(rows, "g string, v string").repartition(7)
    p = 10
    got_r = {
        (r["g"], r["r"]): r["rank"]
        for r in hll_build(df, "v", p=p, group_cols=["g"]).collect()
    }
    got_e = {
        r["g"]: (r["filled"], r["z_scaled"], r["est"])
        for r in hll_count(df, "v", p=p, group_cols=["g"]).collect()
    }
    for g in "abc":
        sl = df.filter(F.col("g") == g)
        for r in hll_build(sl, "v", p=p).collect():
            assert got_r[(g, r["r"])] == r["rank"]
        [e] = hll_count(sl, "v", p=p).collect()
        assert got_e[g] == (e["filled"], e["z_scaled"], e["est"])
    # grouped merge == grouped build-on-union
    x = hll_build(df.filter(F.col("v") < "y"), "v", p=p, group_cols=["g"])
    y = hll_build(df.filter(F.col("v") >= "y"), "v", p=p, group_cols=["g"])
    assert sorted(
        map(tuple, hll_merge(x, y, group_cols=["g"]).collect())
    ) == sorted(map(tuple, hll_build(df, "v", p=p, group_cols=["g"]).collect()))
