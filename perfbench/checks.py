"""Output checks, run outside the timed region after the timed passes.

Each check returns ``(name, ok, detail)``. The pandas oracle of the test
suite (``tests/oracle.py``) is imported, not copied, so the benchmark and
the tests judge the engine by the same reference semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import tracing
from tests import oracle

Check = tuple[str, bool, str]


def _secs(s: pd.Series) -> np.ndarray:
    """Timestamps (or None/NaT) as float epoch seconds, NaN for missing."""
    ts = pd.to_datetime(s)
    out = (ts - pd.Timestamp(0)) / pd.Timedelta(seconds=1)
    return out.to_numpy(dtype="float64", na_value=np.nan)


def _num(s: pd.Series) -> np.ndarray:
    return pd.to_numeric(s, errors="coerce").to_numpy(dtype="float64", na_value=np.nan)


def _close(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and bool(np.allclose(a, b, equal_nan=True))


def _oracle_events(src: pd.DataFrame, epoch0: int, step_s: int) -> pd.DataFrame:
    parts = []
    for row in src.itertuples(index=False):
        toks = np.asarray(row.tokens, dtype=np.int64)
        pos = np.arange(toks.size)
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": row.doc_id,
                    "source": row.source,
                    "pos": pos,
                    "token": toks,
                    "ts": pd.to_datetime(epoch0 + pos * step_s, unit="s"),
                }
            )
        )
    return pd.concat(parts, ignore_index=True)


def feature_checks(
    out: DataFrame,
    seq: DataFrame,
    docs: list[str],
    seed: int,
    epoch0: int,
    step_s: int,
    entity: list[str],
    probes_per_doc: int = 100,
) -> list[Check]:
    """Sessionize, as-of and lag/lead features of the sampled docs against
    the pandas oracle, plus a leakage scan over the whole output."""
    res: list[Check] = []
    r = out.agg(
        F.count(F.when(F.col("prev_end") > F.col("stime"), 1)).alias("leaks"),
        F.count("prev_end").alias("filled"),
    ).first()
    leaks, filled = r["leaks"], r["filled"]
    res.append(("no_temporal_leakage", leaks == 0 and filled > 0,
                f"rows backfilled from after their probe: {leaks} of {filled}"))

    src = seq.filter(F.col("doc_id").isin(docs)).toPandas()
    stays = oracle.sessionize_state_change(
        _oracle_events(src, epoch0, step_s), entity, "ts", "token", min_duration_s=60.0
    )
    key = [*entity, "stay_seq"]
    got = out.filter(F.col("doc_id").isin(docs)).toPandas().sort_values(key, ignore_index=True)
    stays = stays.sort_values(key, ignore_index=True)
    same_keys = got[key].astype(str).equals(stays[key].astype(str))
    ok = same_keys and all(
        _close(_secs(got[c]), _secs(stays[c])) for c in ("stime", "etime")
    ) and all(_close(_num(got[c]), _num(stays[c])) for c in ("duration_s", "n_rows", "token"))
    res.append(("sessionize_matches_oracle", ok, f"{len(got)} stays of {len(docs)} docs vs {len(stays)}"))

    # as-of: the oracle's row-by-row definition on a seeded sample of probes
    # per doc, against the full right side of each doc
    rng = np.random.default_rng([seed, 9])
    right = stays[entity].assign(
        r_ts=stays["etime"], prev_run_len=stays["n_rows"], prev_end=stays["etime"]
    )
    probes = stays.groupby(entity, group_keys=False).apply(
        lambda g: g.iloc[np.sort(rng.choice(len(g), min(len(g), probes_per_doc), replace=False))]
    )[[*key, "stime"]]
    want = oracle.asof_join(probes, right, entity, "stime", "r_ts", ["prev_run_len", "prev_end"])
    m = want.merge(got, on=key, suffixes=("_o", ""), how="left")
    ok = len(m) == len(want) and _close(_num(m["prev_run_len_o"]), _num(m["prev_run_len"])) \
        and _close(_secs(m["prev_end_o"]), _secs(m["prev_end"]))
    res.append(("asof_matches_oracle", ok, f"{len(want)} sampled probes"))

    # lag/lead windows over each doc's stays in time order
    g = stays.sort_values([*entity, "stime"]).groupby(entity)["duration_s"]
    lag, lead = g.shift(1), g.shift(-1)
    want = stays.assign(lag=lag, lead=lead).sort_values(key, ignore_index=True)
    ok = same_keys and _close(_num(got["duration_s_lag1"]), _num(want["lag"])) \
        and _close(_num(got["duration_s_lead1"]), _num(want["lead"])) \
        and _close(_num(got["duration_s_delta1"]), _num(want["duration_s"] - want["lag"]))
    res.append(("lag_lead_matches_pandas", ok, f"{len(got)} stays"))
    return res


def salting_check(out: DataFrame, hot_docs: list[str], n_salts: int) -> Check:
    """The salted as-of branch engaged for exactly the hot docs, as the
    executed plan that built the persisted ``out`` shows: it broadcast one
    hot key per hot doc, its right side held one row per stay, and it
    replicated the hot docs' rows, and only theirs, to every salt."""
    name = "salting_engages_for_hot_docs"
    try:
        got = tracing.salting_rows(out)
    except LookupError as e:
        return (name, False, str(e))
    stays = out.count()
    hot_stays = out.filter(F.col("doc_id").isin(hot_docs)).count()
    want = {
        "asof.hot_keys": len(hot_docs),
        "asof.right_rows_in": stays,
        "asof.right_rows_salted": stays + (n_salts - 1) * hot_stays,
    }
    return (name, got == want, f"plan {got}, expected {want}")


def chunk_roundtrip_check(seq: DataFrame, reassembled: DataFrame, entity: list[str], seq_len: int) -> Check:
    """Every doc's reassembled chunks are its source tokens, byte-equal,
    followed by zero padding up to a whole number of chunks."""
    j = seq.select(*entity, "tokens", "n_tok").join(
        reassembled.withColumnRenamed("tokens", "re"), entity, "full_outer"
    )
    padded = F.greatest(F.ceil(F.col("n_tok") / seq_len).cast("int"), F.lit(1)) * seq_len
    want = F.concat("tokens", F.array_repeat(F.lit(0), padded - F.col("n_tok")))
    bad_row = F.col("re").isNull() | F.col("tokens").isNull() | (F.col("re") != want)
    r = j.agg(F.count(F.when(bad_row, 1)).alias("bad"), F.count(F.lit(1)).alias("n")).first()
    bad, n = r["bad"], r["n"]
    return ("chunks_reassemble_to_source", bad == 0 and n > 0, f"{bad} of {n} docs differ")


def _fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def same_rows_check(name: str, got: DataFrame, want: DataFrame, reported_rows: int) -> Check:
    """``got`` and ``want`` hold the same multiset of rows (equal counts and
    row-hash sums), and the row count the job reported is that size."""
    (n_got, h_got), (n_want, h_want) = _fingerprint(got), _fingerprint(want)
    ok = h_got == h_want and n_got == n_want == reported_rows and n_got > 0
    return (name, ok, f"rows={n_got} expected={n_want} reported={reported_rows} "
                      f"hashes {'equal' if h_got == h_want else 'differ'}")


def geo_matrix_check(got: pd.DataFrame, points_path: str, pois_path: str, users: list[str],
                     engine, features: list[str], n_categories: int) -> Check:
    """Recompute the sampled users' matrices in pandas from the raw inputs:
    bounds filter, grid cells, stays, time features, PoI counts per cell,
    (user, month) grouping with the max-rows guard and zero padding."""
    lon1, lat1, lon2, lat2 = engine.grid.bounds
    params = oracle.area_to_params(engine.grid.bounds, engine.grid.accuracy_m)

    def cells(df: pd.DataFrame) -> pd.DataFrame:
        df = df[(df.lon > lon1) & (df.lon < lon2) & (df.lat > lat1) & (df.lat < lat2)].copy()
        cols = [oracle.gps_to_cols(x, y, params) for x, y in zip(df.lon, df.lat)]
        df["grid"] = [oracle.cantor_pair(a, b) for a, b in cols]
        return df

    pts = pq.read_table(points_path).to_pandas()
    pts = pts[pts.user.isin(users)]
    pts["ts"] = pts["ts"].dt.tz_convert(None)
    stays = oracle.sessionize_state_change(
        cells(pts), ["user"], "ts", "grid", min_duration_s=float(engine.activity_time_s)
    )
    stays = oracle.time_features(stays, "stime")
    pois = cells(pq.read_table(pois_path).to_pandas())
    counts = pd.crosstab(pois.grid, pois.category).reindex(columns=range(n_categories), fill_value=0)
    counts.columns = [f"poi_{c}" for c in counts.columns]
    stays = stays.merge(counts, left_on="grid", right_index=True, how="left")
    stays[list(counts.columns)] = stays[list(counts.columns)].fillna(0)
    stays["period"] = stays["stime"].dt.to_period("M").dt.start_time

    want = {}
    for (user, period), g in stays.groupby(["user", "period"]):
        if len(g) > engine.max_rows:
            continue
        mat = np.zeros((engine.max_rows, len(features)))
        mat[: len(g)] = g.sort_values("stime")[features].to_numpy(dtype=np.float64)
        want[(user, period)] = (len(g), mat)
    have = {
        (r.user, pd.Timestamp(r.period_start)): (int(r.n_rows), np.array([np.asarray(x) for x in r.matrix]))
        for r in got.itertuples(index=False)
    }
    ok = have.keys() == want.keys() and len(want) > 0 and all(
        have[k][0] == want[k][0] and np.allclose(have[k][1], want[k][1]) for k in want
    )
    return ("geo_matrices_match_pandas", ok, f"{len(have)} groups vs {len(want)} for users {users}")
