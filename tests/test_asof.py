"""As-of join: both physical strategies (union, salted) must agree with
the naive row-by-row oracle (backward, inclusive), including:
* timestamp ties (right row at exactly t IS visible — <= rule)
* probes before any right row (nulls)
* keys present on only one side
* hot-key salting returns identical results
* zero-temporal-leakage property: recomputing each probe from only the
  right rows with ts <= probe ts gives the same answer (SURVEY.md §5.3)
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geofeaturegeneration_spark.operators.asof import asof_join
from tests import oracle

BASE = pd.Timestamp("2024-06-01 00:00:00")


def _mk():
    rng = np.random.default_rng(7)
    # probes: 4 keys x many times; key "hot" gets 200 rows
    probe_rows = []
    for k, n in [("a", 25), ("b", 10), ("hot", 200), ("noref", 5)]:
        ts = np.sort(rng.choice(np.arange(0, 100_000, 7), size=n, replace=False))
        for i, t in enumerate(ts):
            probe_rows.append((k, BASE + pd.Timedelta(seconds=int(t)), i))
    left = pd.DataFrame(probe_rows, columns=["key", "pts", "probe_seq"])

    ref_rows = []
    for k, n in [("a", 8), ("b", 3), ("hot", 40), ("onlyright", 4)]:
        ts = np.sort(rng.choice(np.arange(0, 100_000, 13), size=n, replace=False))
        for t in ts:
            ref_rows.append((k, BASE + pd.Timedelta(seconds=int(t)), float(t) / 10, f"s{t}"))
    right = pd.DataFrame(ref_rows, columns=["key", "rts", "val", "tag"])

    # force exact tie cases: right row at exactly a probe time
    tie_t = left.iloc[0]["pts"]
    right = pd.concat(
        [right, pd.DataFrame([("a", tie_t, -1.0, "tie")], columns=right.columns)],
        ignore_index=True,
    )
    return left, right


@pytest.fixture(scope="module")
def data(spark):
    left, right = _mk()
    return spark.createDataFrame(left), spark.createDataFrame(right), left, right


def _expected(left, right):
    exp = oracle.asof_join(left, right, ["key"], "pts", "rts", ["val", "tag"])
    return exp.sort_values(["key", "pts", "probe_seq"]).reset_index(drop=True)


@pytest.mark.parametrize("strategy", ["union", "salted"])
def test_asof_matches_oracle(data, strategy):
    ldf, rdf, left, right = data
    kwargs = {}
    if strategy == "salted":
        kwargs = dict(hot_key_threshold=50, n_salts=4)  # force "hot" to salt
    got = (
        asof_join(ldf, rdf, ["key"], "pts", "rts", ["val", "tag"], strategy=strategy, **kwargs)
        .toPandas()
        .sort_values(["key", "pts", "probe_seq"])
        .reset_index(drop=True)
    )
    exp = _expected(left, right)
    assert len(got) == len(exp)
    assert got["val"].astype(float).equals(exp["val"].astype(float)) or np.allclose(
        got["val"].astype(float), exp["val"].astype(float), equal_nan=True
    )
    assert list(got["tag"].fillna("<null>")) == list(exp["tag"].fillna("<null>"))


def test_tie_is_visible(data):
    ldf, rdf, left, right = data
    got = asof_join(ldf, rdf, ["key"], "pts", "rts", ["val", "tag"]).toPandas()
    tie_t = left.iloc[0]["pts"]
    row = got[(got["key"] == "a") & (got["pts"] == tie_t)]
    assert list(row["tag"]) == ["tie"]  # right row at exactly t won


def test_no_leakage_property(data):
    """For every probe, recompute from ONLY the right rows at-or-before its
    timestamp; the engine's answer must match → no future row ever leaks."""
    ldf, rdf, left, right = data
    got = (
        asof_join(ldf, rdf, ["key"], "pts", "rts", ["val", "tag"])
        .toPandas()
        .sort_values(["key", "pts", "probe_seq"])
        .reset_index(drop=True)
    )
    for _, r in got.sample(n=40, random_state=1).iterrows():
        prefix = right[(right["key"] == r["key"]) & (right["rts"] <= r["pts"])]
        if prefix.empty:
            assert pd.isna(r["val"])
        else:
            best = prefix.sort_values("rts").iloc[-1]
            assert r["val"] == best["val"]


def test_left_rowcount_preserved(data):
    ldf, rdf, left, _ = data
    for strategy in ["union", "salted"]:
        got = asof_join(ldf, rdf, ["key"], "pts", "rts", ["val", "tag"], strategy=strategy)
        assert got.count() == len(left)


def test_strategies_agree_on_skewed_random_data(spark):
    """union / salted must be value-identical on a larger deterministic
    random workload with a hot key owning ~half the rows (the regime
    salting exists for)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(3)
    n_l, n_r = 4000, 3000
    pool = [f"k{i}" for i in range(50)]

    def mk(n, seed):
        r = np.random.RandomState(seed)
        keys = np.where(r.rand(n) < 0.5, "hot", r.choice(pool, n))
        ts = pd.to_datetime(1_700_000_000 + r.randint(0, 500_000, n), unit="s")
        return pd.DataFrame({"key": keys, "t": ts, "v": r.rand(n).round(6)})

    lpdf, rpdf = mk(n_l, 3), mk(n_r, 4)
    # null keys and null probe/right times: strategies must also agree on
    # these (null key = ordinary key value; null time = earliest). A single
    # null-time right row per null key keeps ties deterministic.
    lpdf.loc[0:19, "key"] = None          # null-key probes
    lpdf.loc[30:39, "t"] = pd.NaT         # null-time probes on real keys
    rpdf.loc[0:4, "key"] = None           # null-key right rows
    rpdf.loc[10, ["key", "t"]] = [None, pd.NaT]  # null key AND time
    rpdf.loc[11, "t"] = pd.NaT            # null-time right row, real key
    n_l = len(lpdf)
    lpdf["rid"] = range(n_l)
    ldf = spark.createDataFrame(lpdf.rename(columns={"t": "pts", "v": "lv"}))
    rdf = spark.createDataFrame(rpdf.rename(columns={"t": "rts", "v": "val"}))

    outs = {}
    for strategy, kw in [
        ("union", {}),
        ("salted", {"hot_key_threshold": 100, "n_salts": 4}),
    ]:
        got = asof_join(
            ldf, rdf, ["key"], "pts", "rts", ["val"], strategy=strategy, **kw
        ).toPandas().sort_values("rid").reset_index(drop=True)
        outs[strategy] = got

    base, o = outs["union"], outs["salted"]
    assert len(o) == len(base) == n_l
    a = base["val"].astype(float).to_numpy()
    b = o["val"].astype(float).to_numpy()
    assert np.array_equal(np.isnan(a), np.isnan(b))
    assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)])


STRATEGIES = [("union", {}), ("salted", {"hot_key_threshold": 1, "n_salts": 4})]


def _by_rid(left, right):
    return {
        s: {
            r["rid"]: r["val"]
            for r in asof_join(
                left, right, ["key"], "pts", "rts", ["val"], strategy=s, **kw
            ).collect()
        }
        for s, kw in STRATEGIES
    }


def test_bigint_times_above_2_53_with_nulls(spark):
    """Integer times at epoch-nano scale order exactly: values differing by
    1 above float64's 2^53 integer range must not collapse and let a probe
    match a right row from its future."""
    base = (1 << 55) + 10
    left = spark.createDataFrame(
        [("k", base, 1), ("k", base + 1, 2), (None, base, 3)],
        "key STRING, pts BIGINT, rid INT",
    )
    right = spark.createDataFrame(
        [("k", base + 1, 99.0), ("k", base - 5, 7.0)],
        "key STRING, rts BIGINT, val DOUBLE",
    )
    for s, got in _by_rid(left, right).items():
        assert got == {1: 7.0, 2: 99.0, 3: None}, s


def test_nullable_bigint_times_above_2_53_exact(spark):
    """Null times on both sides of a bigint time column above 2^53: a null
    time sorts first, and the real times still order exactly."""
    base = (1 << 55) + 10
    left = spark.createDataFrame(
        [("k", base, 1), ("k", None, 2), ("k", base + 1, 3)],
        "key STRING, pts BIGINT, rid INT",
    )
    right = spark.createDataFrame(
        [("k", base + 1, 99.0), ("k", base - 5, 7.0), ("k", None, 5.0)],
        "key STRING, rts BIGINT, val DOUBLE",
    )
    for s, got in _by_rid(left, right).items():
        assert got == {1: 7.0, 2: 5.0, 3: 99.0}, s


def test_fractional_double_times_with_int_left(spark):
    """Mixed bigint/double time schema with genuinely fractional right
    times: 10.5 must not truncate to 10 (a probe at 10 would then see a
    right row from its future)."""
    left = spark.createDataFrame(
        [("k", 10, 1), ("k", 11, 2), (None, 10, 3)],
        "key STRING, pts BIGINT, rid INT",
    )
    right = spark.createDataFrame(
        [("k", 10.5, 99.0), ("k", 9.0, 7.0)],
        "key STRING, rts DOUBLE, val DOUBLE",
    )
    for s, got in _by_rid(left, right).items():
        assert got == {1: 7.0, 2: 99.0, 3: None}, s


def test_unknown_strategy_rejected(data):
    ldf, rdf, _, _ = data
    with pytest.raises(ValueError, match="merge_asof"):
        asof_join(ldf, rdf, ["key"], "pts", "rts", ["val"], strategy="merge_asof")
