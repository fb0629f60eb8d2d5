"""Seeded benchmark inputs, cached on disk by (seed, size).

The sequence tables come from the package's own generator
(``datagen.generate_sequences``, written by ``write_sequences``). The
Geolife-shaped GPS points and the raw PoI rows come from the numpy
generator in this module, because the package has no generator for them.
Each input is written to a temporary directory and renamed into place, so a
run that dies half way through generation leaves no partial table behind.
Generation is never timed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class SeqSize:
    """Arguments of ``generate_sequences`` for one table."""

    n_docs: int
    hot_share: float
    hot_docs: int = 3
    max_len: int = 512

    @property
    def tag(self) -> str:
        return f"d{self.n_docs}-h{self.hot_docs}x{self.hot_share:g}-m{self.max_len}"

    @property
    def hot_doc_ids(self) -> list[str]:
        width = max(6, len(str(self.n_docs)))
        return [str(i).zfill(width) for i in range(self.hot_docs)]


@dataclass(frozen=True)
class GeoSize:
    """Geolife-shaped trajectories: users x active days, one fix per step."""

    n_users: int
    days_per_user: int
    step_s: int
    n_pois: int

    @property
    def tag(self) -> str:
        return f"u{self.n_users}-d{self.days_per_user}-s{self.step_s}-p{self.n_pois}"


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def sequences_path(spark, cache_dir: str, size: SeqSize, seed: int) -> str:
    """Path of the seeded sequences table, generated on first use by
    ``datagen.generate_sequences`` and ``write_sequences``.

    ``generate_sequences_distributed`` makes the same table shape, but its
    ``mapInPandas`` starts Python workers on the fresh JVM of every run,
    which costs about 6 s more per seed at these sizes."""
    from geofeaturegeneration_spark.datagen import generate_sequences, write_sequences

    final = os.path.join(cache_dir, f"seq-{size.tag}-seed{seed}")
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df = generate_sequences(
            spark,
            n_docs=size.n_docs,
            max_len=size.max_len,
            seed=seed,
            hot_docs=size.hot_docs,
            hot_share=size.hot_share,
        )
        write_sequences(_spread_hot_docs(df, size), tmp)
        _publish(tmp, final)
    return final


def _spread_hot_docs(df, size: SeqSize):
    """Give hot doc i the source ``SOURCES[i % 3]``. The generator draws each
    doc's source from the seed, and the shuffle partition of an entity is a
    hash of (doc_id, source): left to the seed, two hot docs share a
    partition on some seeds and not on others, and the job time of the
    skewed workload doubles or halves with the seed. Fixed sources place the
    hot docs the same way on every seed."""
    from pyspark.sql import functions as F

    from geofeaturegeneration_spark.datagen import SOURCES

    source = F.col("source")
    for i, doc in enumerate(size.hot_doc_ids):
        source = F.when(F.col("doc_id") == doc, F.lit(SOURCES[i % len(SOURCES)])).otherwise(source)
    return df.withColumn("source", source)


# Bounds of the reference's Beijing grid (config.GridConfig default) and a
# city centre inside them; generated places scatter around the centre.
_BOUNDS = (115.4, 39.4, 117.55, 41.1)
_CENTRE = (116.40, 39.95)
_EPOCH_2008_10_01 = 1_222_819_200
_N_CATEGORIES = 14  # the reference hard-codes 14 PoI categories


def _clip_inside(lon: np.ndarray, lat: np.ndarray):
    lon1, lat1, lon2, lat2 = _BOUNDS
    return np.clip(lon, lon1 + 0.05, lon2 - 0.05), np.clip(lat, lat1 + 0.05, lat2 - 0.05)


def geolife_points(size: GeoSize, seed: int) -> pa.Table:
    """Trajectories shaped like Geolife: per user, active days spread over
    about four months; each day leaves home, stays at two to four of the
    user's places for 30 to 180 minutes each and returns, with one fix every
    ``step_s`` seconds. Fixes inside a stay jitter by about 20 m, so stays
    sit in one 1 km cell unless the place lies near a cell border. About 1 %
    of fixes are displaced out of the city bounds, as noisy GPS fixes are."""
    rng = np.random.default_rng([seed, 7])
    users, ts_all, lon_all, lat_all = [], [], [], []
    step = size.step_s
    for u in range(size.n_users):
        plon = rng.normal(_CENTRE[0], 0.15, size=8)
        plat = rng.normal(_CENTRE[1], 0.10, size=8)
        plon, plat = _clip_inside(plon, plat)
        first = int(rng.integers(0, 60))
        days = np.sort(rng.choice(120, size=size.days_per_user, replace=False)) + first
        ts_parts, lon_parts, lat_parts = [], [], []
        for d in days:
            t = _EPOCH_2008_10_01 + int(d) * 86_400 + int(rng.integers(6 * 3600, 9 * 3600))
            route = [0, *rng.choice(np.arange(1, 8), size=int(rng.integers(2, 5)), replace=False), 0]
            for i, p in enumerate(route):
                n_stay = max(1, int(rng.integers(30 * 60, 180 * 60)) // step)
                ts_parts.append(t + step * np.arange(n_stay))
                lon_parts.append(plon[p] + rng.normal(0, 0.00025, n_stay))
                lat_parts.append(plat[p] + rng.normal(0, 0.00018, n_stay))
                t += step * n_stay
                if i + 1 == len(route):
                    break
                q = route[i + 1]
                km = 100 * np.hypot(plon[q] - plon[p], plat[q] - plat[p])
                n_move = max(2, int(km / 30 * 3600) // step)  # about 30 km/h
                frac = np.arange(n_move) / n_move
                ts_parts.append(t + step * np.arange(n_move))
                lon_parts.append(plon[p] + (plon[q] - plon[p]) * frac)
                lat_parts.append(plat[p] + (plat[q] - plat[p]) * frac)
                t += step * n_move
        ts = np.concatenate(ts_parts)
        users.append(np.full(ts.size, u, dtype=np.int32))
        ts_all.append(ts)
        lon_all.append(np.concatenate(lon_parts))
        lat_all.append(np.concatenate(lat_parts))
    uid = np.concatenate(users)
    lon = np.concatenate(lon_all)
    lat = np.concatenate(lat_all)
    lon[rng.random(lon.size) < 0.01] += 2.5
    return pa.table(
        {
            "user": pa.array([f"{i:03d}" for i in range(size.n_users)])
            .take(pa.array(uid)),
            "ts": pa.array(np.concatenate(ts_all) * 1_000_000, type=pa.int64())
            .cast(pa.timestamp("us", tz="UTC")),
            "lon": lon,
            "lat": lat,
            "alt": rng.normal(50.0, 20.0, lon.size),
        }
    )


def poi_rows(size: GeoSize, seed: int) -> pa.Table:
    """Raw PoI rows: 70 % clustered around commercial centres, the rest
    uniform inside the bounds; one of 14 categories each."""
    rng = np.random.default_rng([seed, 11])
    n_clu = int(size.n_pois * 0.7)
    centres_lon = rng.normal(_CENTRE[0], 0.12, size=40)
    centres_lat = rng.normal(_CENTRE[1], 0.08, size=40)
    c = rng.integers(0, 40, size=n_clu)
    lon = np.concatenate(
        [centres_lon[c] + rng.normal(0, 0.01, n_clu),
         rng.uniform(_BOUNDS[0], _BOUNDS[2], size.n_pois - n_clu)]
    )
    lat = np.concatenate(
        [centres_lat[c] + rng.normal(0, 0.008, n_clu),
         rng.uniform(_BOUNDS[1], _BOUNDS[3], size.n_pois - n_clu)]
    )
    lon, lat = _clip_inside(lon, lat)
    return pa.table(
        {
            "poi_id": np.arange(size.n_pois, dtype=np.int64),
            "category": rng.integers(0, _N_CATEGORIES, size=size.n_pois).astype(np.int32),
            "lon": lon,
            "lat": lat,
        }
    )


def geo_paths(cache_dir: str, size: GeoSize, seed: int) -> tuple[str, str]:
    """(points dir, pois dir) of the seeded geo inputs, generated on first use."""
    final = os.path.join(cache_dir, f"geo-{size.tag}-seed{seed}")
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "points"))
        os.makedirs(os.path.join(tmp, "pois"))
        pq.write_table(geolife_points(size, seed), os.path.join(tmp, "points", "part-0.parquet"))
        pq.write_table(poi_rows(size, seed), os.path.join(tmp, "pois", "part-0.parquet"))
        _publish(tmp, final)
    return os.path.join(final, "points"), os.path.join(final, "pois")


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
