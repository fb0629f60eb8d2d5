"""End-to-end north-rule parity: the full spark-submit pipeline
(jobs/run_pipeline.build_features: explode -> event-time from position ->
state-change sessionize -> previous stay's run length as a lag on the stays
window -> lag/lead) against the
row-by-row pandas oracle, allclose at EVERY (entity, timestamp) — the
BASELINE.json acceptance criterion, including zero temporal leakage (the
oracle's as-of is the naive prefix-scan definition)."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geofeaturegeneration_spark.datagen import generate_sequences
from jobs.run_pipeline import build_features
from tests import oracle as O


@pytest.fixture(scope="module")
def parity(spark):
    seq = generate_sequences(spark, n_docs=25, seed=11)
    got = build_features(seq).toPandas()

    pdf = seq.toPandas()
    rows = []
    for _, r in pdf.iterrows():
        for pos, tok in enumerate(r["tokens"]):
            rows.append(
                {
                    "doc_id": r["doc_id"],
                    "source": r["source"],
                    "pos": pos,
                    "token": int(tok),
                    "ts": pd.Timestamp(1_700_000_000 + pos * 60, unit="s"),
                }
            )
    ev = pd.DataFrame(rows)
    stays = O.sessionize_state_change(
        ev, ["doc_id", "source"], "ts", "token", min_duration_s=60.0
    )
    # a stay's length is known at its end: the right time is etime
    right = stays.rename(columns={"etime": "r_ts"})[
        ["doc_id", "source", "r_ts", "n_rows"]
    ].rename(columns={"n_rows": "prev_run_len"})
    exp = O.asof_join(
        stays, right, ["doc_id", "source"], "stime", "r_ts", ["prev_run_len"]
    )
    # lag/lead context on duration_s per entity ordered by stime
    exp = exp.sort_values(["doc_id", "source", "stime"]).reset_index(drop=True)
    g = exp.groupby(["doc_id", "source"], sort=False)["duration_s"]
    exp["duration_s_lag1"] = g.shift(1)
    exp["duration_s_delta1"] = exp["duration_s"] - exp["duration_s_lag1"]
    exp["duration_s_lead1"] = g.shift(-1)
    return got, exp


def test_row_sets_match(parity):
    got, exp = parity
    key = ["doc_id", "source", "stime"]
    gk = set(map(tuple, got[key].astype(str).itertuples(index=False)))
    ek = set(map(tuple, exp[key].astype(str).itertuples(index=False)))
    assert gk == ek
    assert len(got) == len(exp)


def test_features_allclose_per_entity_timestamp(parity):
    got, exp = parity
    key = ["doc_id", "source", "stime"]
    feature_cols = [
        "duration_s", "n_rows", "prev_run_len",
        "duration_s_lag1", "duration_s_delta1", "duration_s_lead1",
    ]
    g = got.set_index(key).sort_index()
    e = exp.set_index(key).sort_index()
    for c in feature_cols:
        a = pd.to_numeric(g[c]).to_numpy(dtype=float)
        b = pd.to_numeric(e[c]).to_numpy(dtype=float)
        assert np.allclose(a, b, equal_nan=True), c


def test_zero_leakage_backfill(parity):
    """prev_run_len at (entity, stime) must come from a stay with
    stime' <= stime — directly re-checkable from the oracle's stay table
    (the oracle as-of IS the prefix definition; equality above implies
    leakage-freedom, this spells the property out on the engine output)."""
    got, exp = parity
    e = exp.set_index(["doc_id", "source", "stime"])["prev_run_len"]
    for (doc, src, st), v in got.set_index(["doc_id", "source", "stime"])["prev_run_len"].items():
        ev = e.loc[(doc, src, st)]
        assert (pd.isna(v) and pd.isna(ev)) or v == ev


def test_backfill_is_previous_kept_stay(parity):
    """prev_run_len is the run length of the entity's previous kept stay
    (null on its first), never the stay's own: the right side's time is the
    stay's end, which falls after its own start."""
    got, _ = parity
    g = got.sort_values(["doc_id", "source", "stime"]).reset_index(drop=True)
    prev = g.groupby(["doc_id", "source"], sort=False)["n_rows"].shift(1)
    a = pd.to_numeric(g["prev_run_len"]).to_numpy(dtype=float)
    b = pd.to_numeric(prev).to_numpy(dtype=float)
    assert (~np.isnan(b)).any()
    assert np.array_equal(a, b, equal_nan=True)


def test_event_time_past_int32_positions(spark):
    """Event time is computed in long: at position 7,458,061 the int32
    product ``1_700_000_000 + pos * 60`` overflows. One doc of 7,458,062
    zeros then [1, 2] has two kept stays, the second after the long run."""
    from pyspark.sql import functions as F

    n = 7_458_062
    tokens = F.concat(F.array_repeat(F.lit(0), n), F.array(F.lit(1), F.lit(2)))
    seq = spark.range(1).select(
        F.lit("hot").alias("doc_id"),
        tokens.alias("tokens"),
        F.lit(n + 2).alias("n_tok"),
        F.lit("web").alias("source"),
    )
    try:
        rows = build_features(seq).orderBy("stime").collect()
    finally:
        # the doc's one window partition grows the JVM heap by ~3 GB; a full
        # GC hands it back, so the rest of the session keeps its footprint
        spark._jvm.System.gc()
    assert [r["n_rows"] for r in rows] == [n, 1]
    assert rows[0]["prev_run_len"] is None
    assert rows[1]["prev_run_len"] == n
