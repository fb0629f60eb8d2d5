"""Sessionization vs oracle, incl. the reference's known edge cases:
* entity with a single point (no observable episode)
* entity whose every row has the same state (one run → dropped as last)
* gap exactly equal to the threshold (>= keeps it; reference
  Test/GeoFeatureGenerationClass.py:412)
* empty-after-filter entities flow through (Record.md:6-10 class of bugs)
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geofeaturegeneration_spark.operators.sessionize import (
    sessionize_gap,
    sessionize_state_change,
    stay_move,
)
from tests import oracle


def _fixture() -> pd.DataFrame:
    base = pd.Timestamp("2024-03-01 08:00:00")
    rows = []

    def add(uid, mins, state):
        rows.append((uid, base + pd.Timedelta(minutes=mins), state))

    # user A: runs [g1 x3, g2 x2, g1 x1]; durations 40min, 30min(exactly)
    for m, s in [(0, 1), (10, 1), (20, 1), (40, 2), (60, 2), (70, 1)]:
        add("A", m, s)
    # user B: single point
    add("B", 0, 9)
    # user C: all same state
    for m in [0, 15, 30, 45]:
        add("C", m, 4)
    # user D: alternating states, sub-threshold durations
    for i, m in enumerate([0, 5, 10, 15, 20]):
        add("D", m, i % 2)
    # user E: exact-threshold run 30min
    add("E", 0, 7)
    add("E", 30, 8)
    add("E", 35, 7)
    return pd.DataFrame(rows, columns=["uid", "ts", "state"])


@pytest.fixture(scope="module")
def traj(spark):
    pdf = _fixture()
    return spark.createDataFrame(pdf), pdf


def _cmp(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]):
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)
    assert len(got) == len(exp), (got, exp)
    for c in exp.columns:
        if c not in got.columns:
            continue
        pd.testing.assert_series_equal(
            got[c], exp[c], check_dtype=False, check_names=False
        )


def test_state_change_matches_oracle(traj):
    df, pdf = traj
    got = sessionize_state_change(df, ["uid"], "ts", "state").toPandas()
    exp = oracle.sessionize_state_change(pdf, ["uid"], "ts", "state")
    _cmp(got, exp, ["uid", "stime"])


def test_state_change_threshold_inclusive(traj):
    df, pdf = traj
    got = sessionize_state_change(df, ["uid"], "ts", "state", min_duration_s=1800).toPandas()
    exp = oracle.sessionize_state_change(pdf, ["uid"], "ts", "state", min_duration_s=1800)
    # the exactly-30min episodes must be KEPT (>= semantics)
    assert (got["duration_s"] >= 1800).all()
    assert 1800.0 in set(got["duration_s"])
    _cmp(got, exp, ["uid", "stime"])


def test_single_point_and_same_state_entities(traj):
    df, _ = traj
    got = sessionize_state_change(df, ["uid"], "ts", "state").toPandas()
    # B has 1 row → 1 run → dropped as the unobserved-last; C has one run → dropped
    assert "B" not in set(got["uid"])
    assert "C" not in set(got["uid"])


def test_gap_sessions_match_oracle(traj):
    df, pdf = traj
    got = sessionize_gap(df, ["uid"], "ts", gap_s=900).toPandas()
    exp = oracle.sessionize_gap(pdf, ["uid"], "ts", gap_s=900)
    _cmp(got, exp, ["uid", "session_id"])


def test_gap_boundary_not_inclusive(spark):
    # gap EXACTLY == gap_s does NOT start a new session (strict > rule)
    pdf = pd.DataFrame(
        {
            "uid": ["x"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:15:00", "2024-01-01 00:30:01"]
            ),
        }
    )
    got = sessionize_gap(spark.createDataFrame(pdf), ["uid"], "ts", gap_s=900).toPandas()
    assert sorted(got["n_events"]) == [1, 2]


def test_stay_move_transitions(traj):
    df, _ = traj
    stays, moves = stay_move(df, ["uid"], "ts", "state", min_duration_s=0)
    m = moves.toPandas().sort_values(["uid", "move_stime"]).reset_index(drop=True)
    # user A kept stays: g1(0-40), g2(40-70) → one move g1→g2
    a = m[m["uid"] == "A"]
    assert len(a) == 1
    assert (a.iloc[0]["s_state"], a.iloc[0]["e_state"]) == (1, 2)
    # move start = prior stay's etime, end = next stay's stime
    s = stays.toPandas()
    sa = s[s["uid"] == "A"].sort_values("stime")
    assert a.iloc[0]["move_stime"] == sa.iloc[0]["etime"]
    assert a.iloc[0]["move_etime"] == sa.iloc[1]["stime"]


def test_stay_move_spliced_endpoints(traj):
    """splice_endpoints=True reproduces the reference's boundary handling
    (Test/GeoFeatureGenerationClass.py:418-453): each entity's raw first and
    last points join the stay stream as zero-duration stays, so per entity
    with s kept stays there are s+1 moves (fp->s1, s1->s2, ..., sN->lp), and
    entities with NO kept stay still emit the single fp->lp move."""
    df, _ = traj
    _, base = stay_move(df, ["uid"], "ts", "state", min_duration_s=0)
    _, spl = stay_move(
        df, ["uid"], "ts", "state", min_duration_s=0, splice_endpoints=True
    )
    b = base.toPandas().groupby("uid").size().to_dict()
    s = spl.toPandas().groupby("uid").size().to_dict()
    assert b == {"A": 1, "D": 3, "E": 1}  # users with >=2 kept stays only
    assert s == {"A": 3, "B": 1, "C": 1, "D": 5, "E": 3}

    m = spl.toPandas()
    a = m[m["uid"] == "A"].sort_values("move_seq")
    assert list(zip(a["s_state"], a["e_state"])) == [(1, 1), (1, 2), (2, 1)]
    assert list(a["move_seq"]) == [1, 2, 3]
    # first move: from the first raw point (etime == its ts) into stay 1
    assert a.iloc[0]["move_stime"] == pd.Timestamp("2024-03-01 08:00:00")
    # last move: out of the last stay (etime 08:70min) to the last raw point
    assert a.iloc[-1]["move_etime"] == pd.Timestamp("2024-03-01 09:10:00")
    # single-point user B: one degenerate fp->lp move, duration 0
    bm = m[m["uid"] == "B"]
    assert len(bm) == 1 and bm.iloc[0]["duration_s"] == 0.0
    # no-stay user C: fp->lp spans the whole observation window
    cm = m[m["uid"] == "C"]
    assert len(cm) == 1 and cm.iloc[0]["duration_s"] == 2700.0


def test_tied_timestamps_deterministic_with_order_cols(spark):
    """Tie rule (fuzz-found, round 4): two events at the SAME instant with
    different states make the run segmentation depend on sort order — the
    reference's pandas stable sort silently uses input row order, which a
    distributed shuffle does not preserve. With order_cols the output is a
    pure function of the data: segmentation, first-row extraction, and
    episode sequencing all key on the (ts, event_id) total order."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    sec = dt.timedelta(seconds=1)
    rows = [
        # u1: click and error at the same instant, then a long view run
        (0, "u1", t0, "click", 1.0),
        (1, "u1", t0, "error", 2.0),
        (2, "u1", t0 + 700 * sec, "view", 3.0),
        (3, "u1", t0 + 1500 * sec, "view", 4.0),
        (4, "u1", t0 + 3000 * sec, "click", 5.0),
        # u2: two tied pairs back to back
        (5, "u2", t0, "a", 1.0),
        (6, "u2", t0, "b", 2.0),
        (7, "u2", t0 + 650 * sec, "b", 3.0),
        (8, "u2", t0 + 1400 * sec, "a", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id INT, uid STRING, ts TIMESTAMP, state STRING, v DOUBLE"
    )
    a = sessionize_state_change(
        df, ["uid"], "ts", "state", keep_cols=["v"], order_cols=["event_id"]
    )
    key = ["uid", "stay_seq", "state", "stime", "etime", "n_rows", "v"]
    ra = sorted(tuple(r[k] for k in key) for r in a.collect())
    assert len(ra) > 0
    # u1's first episode is the event_id order: click (id 0) first, alone —
    # the tied error row opens its own episode at the same stime
    u1 = [r for r in ra if r[0] == "u1"]
    assert (u1[0][2], u1[0][5], u1[0][6]) == ("click", 1, 1.0)
    assert (u1[1][2], u1[1][5], u1[1][6]) == ("error", 1, 2.0)
    # tied-first episodes share stime; stay_seq still total (1, 2, ...)
    assert u1[0][3] == u1[1][3] and [r[1] for r in u1] == list(
        range(1, len(u1) + 1)
    )
