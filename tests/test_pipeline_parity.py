"""End-to-end north-rule parity: the full spark-submit pipeline
(jobs/run_pipeline.build_features: one projection per doc over its token
array -> state-change runs with event time from position -> min-duration
filter -> the previous kept stay's run length and lag/lead off the
neighbouring kept stays) against the row-by-row pandas oracle, allclose at
EVERY (entity, timestamp) — the BASELINE.json acceptance criterion,
including zero temporal leakage (the oracle's as-of is the naive
prefix-scan definition). The edge shapes are also checked against the
window composition the array plan replaced."""

import os
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geofeaturegeneration_spark.datagen import generate_sequences
from geofeaturegeneration_spark.functions import event_time_from_position
from geofeaturegeneration_spark.operators import lag_lead_features, sessionize_state_change
from jobs.run_pipeline import build_features
from tests import oracle as O


def oracle_features(seq_pdf: pd.DataFrame, min_duration_s: float = 60.0) -> pd.DataFrame:
    """The pandas oracle of build_features: per-token events, stays with the
    duration filter, the as-of of the previous kept stay's length and the
    lag/lead shifts over the kept stays."""
    rows = []
    for _, r in seq_pdf.iterrows():
        for pos, tok in enumerate(r["tokens"] if r["tokens"] is not None else []):
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
        ev, ["doc_id", "source"], "ts", "token", min_duration_s=min_duration_s
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
    return exp


KEY = ["doc_id", "source", "stime"]
FEATURE_COLS = [
    "duration_s", "n_rows", "prev_run_len",
    "duration_s_lag1", "duration_s_delta1", "duration_s_lead1",
]


def assert_matches_oracle(got: pd.DataFrame, exp: pd.DataFrame) -> None:
    gk = set(map(tuple, got[KEY].astype(str).itertuples(index=False)))
    ek = set(map(tuple, exp[KEY].astype(str).itertuples(index=False)))
    assert gk == ek
    assert len(got) == len(exp)
    g = got.set_index(KEY).sort_index()
    e = exp.set_index(KEY).sort_index()
    for c in FEATURE_COLS:
        a = pd.to_numeric(g[c]).to_numpy(dtype=float)
        b = pd.to_numeric(e[c]).to_numpy(dtype=float)
        assert np.allclose(a, b, equal_nan=True), c


@pytest.fixture(scope="module")
def parity(spark):
    seq = generate_sequences(spark, n_docs=25, seed=11)
    got = build_features(seq).toPandas()
    return got, oracle_features(seq.toPandas())


def test_row_sets_match(parity):
    got, exp = parity
    gk = set(map(tuple, got[KEY].astype(str).itertuples(index=False)))
    ek = set(map(tuple, exp[KEY].astype(str).itertuples(index=False)))
    assert gk == ek
    assert len(got) == len(exp)


def test_features_allclose_per_entity_timestamp(parity):
    assert_matches_oracle(*parity)


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


def test_event_time_past_int32_positions(spark, tmp_path):
    """Event time is computed in long: at position 7,458,061 the int32
    product ``1_700_000_000 + pos * 60`` overflows. One doc of 7,458,062
    zeros then [1, 2] has two kept stays, the second after the long run.
    The doc is written to Parquet with pyarrow and read back, as the job
    reads its input: built in Spark, it would fold into a literal that the
    plan inlines and ships with every task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 7_458_062
    tokens = np.zeros(n + 2, np.int32)
    tokens[n:] = [1, 2]
    table = pa.table(
        {
            "doc_id": ["hot"],
            "tokens": pa.ListArray.from_arrays(pa.array([0, n + 2], pa.int32()), pa.array(tokens)),
            "n_tok": pa.array([n + 2], pa.int32()),
            "source": ["web"],
        }
    )
    path = str(tmp_path / "hot.parquet")
    pq.write_table(table, path)
    rows = build_features(spark.read.parquet(path)).orderBy("stime").collect()
    assert [r["n_rows"] for r in rows] == [n, 1]
    assert rows[0]["prev_run_len"] is None
    assert rows[1]["prev_run_len"] == n


def test_min_duration_applies_before_neighbours(spark):
    """With a threshold above the 60 s step, whole runs are dropped, and the
    previous stay and the lag/lead are taken over the KEPT stays only: the
    oracle filters before its as-of and its shifts."""
    seq = generate_sequences(spark, n_docs=25, seed=11)
    pdf = seq.toPandas()
    got = build_features(seq, min_duration_s=120.0).toPandas()
    exp = oracle_features(pdf, min_duration_s=120.0)
    assert 0 < len(exp) < len(oracle_features(pdf))
    assert_matches_oracle(got, exp)


def window_reference(seq, min_duration_s: float = 60.0):
    """The window composition build_features replaced: explode, state-change
    sessionize, the previous stay as a lag, then lag_lead_features."""
    entity = ["doc_id", "source"]
    ev = seq.select(*entity, F.posexplode("tokens").alias("pos", "token")).withColumn(
        "ts", event_time_from_position(F.col("pos"), 1_700_000_000, 60)
    )
    stays = sessionize_state_change(ev, entity, "ts", "token", min_duration_s=min_duration_s)
    prev = F.lag("n_rows").over(W.partitionBy(*entity).orderBy("stime"))
    return lag_lead_features(stays.withColumn("prev_run_len", prev), entity, "stime", ["duration_s"])


@pytest.mark.parametrize("min_duration_s", [60.0, 120.0])
def test_edge_shapes_match_oracle_and_window_plan(spark, min_duration_s):
    """Empty and null arrays, one token, one run, exactly two runs,
    alternating tokens, and two sources sharing a doc_id: the same rows as
    the pandas oracle and as the window composition (both ways)."""
    docs = [
        ("empty", [], 0, "web"),
        ("null", None, 0, "web"),
        ("one_token", [7], 1, "web"),
        ("one_run", [7, 7, 7, 7], 4, "web"),
        ("two_runs", [7, 7, 8, 8, 8], 5, "web"),
        ("alternating", [1, 2] * 10, 20, "web"),
        ("shared", [3, 3, 4, 4, 5, 3], 6, "web"),
        ("shared", [3, 3, 3, 4, 4, 5], 6, "book"),
    ]
    seq = spark.createDataFrame(
        docs, "doc_id STRING, tokens ARRAY<INT>, n_tok INT, source STRING"
    )
    got = build_features(seq, min_duration_s=min_duration_s)
    ref = window_reference(seq, min_duration_s)
    assert got.dtypes == ref.dtypes
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    got_pdf = got.toPandas()
    assert set(got_pdf["doc_id"]) >= {"two_runs", "shared"}
    assert_matches_oracle(got_pdf, oracle_features(seq.toPandas(), min_duration_s))
