"""The three benchmark workloads.

Each workload makes its input from the seed (``prepare``, untimed),
registers it as a temporary view (``register``, part of ``setup_s``), runs
one complete job per ``run_pass`` and checks a fresh run's output against an
independent recomputation in ``checks`` (untimed). The package is called
only through its public functions; ``tr.layer`` materializes a layer's
output at that boundary when the tracer is on and does nothing otherwise.

Why these three (see also ``BENCHMARK.json``):

* ``hot_entities`` -- three docs own 30 % of the tokens. The as-of salted
  branch engages for them only, and the chunk export, whose cost grows
  with the square of a doc's length, runs on them.
* ``resumable_export`` -- the only workload that writes: per-unit
  checkpointed Parquet output with an injected crash and a resume.
* ``geo_poi`` -- the reference's own product on Geolife-shaped points:
  grid, time features, PoI pivot and the Arrow grouped-map matrix build.

A balanced run of the transform alone is not a workload of its own: every
layer it runs also runs in ``hot_entities``, ``resumable_export`` runs the
same steps with salting and the chunk export bypassed, and each workload
costs a cold JVM start and a checked warm-up run.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geofeaturegeneration_spark.checkpoint import CheckpointStore, run_partitioned
from geofeaturegeneration_spark.config import EngineConfig
from geofeaturegeneration_spark.datagen import read_sequences
from geofeaturegeneration_spark.functions import grid as G
from geofeaturegeneration_spark.functions.timefeat import (
    event_time_from_position,
    with_time_features,
)
from geofeaturegeneration_spark.operators import (
    asof_join,
    chunk_sequences,
    lag_lead_features,
    ordered_tokens,
    pivot_counts,
    reassemble_chunks,
    sessionize_state_change,
)
from geofeaturegeneration_spark.operators.matrix import series_to_matrix

import checks
import tracing
from inputs import GeoSize, SeqSize, dir_bytes, geo_paths, sequences_path
from tracing import Tracer

ENTITY = ["doc_id", "source"]
ENGINE = EngineConfig()
STEP_S = ENGINE.event_time_step_s
N_SALTS = ENGINE.n_salts
# Pipeline epoch of jobs/run_pipeline.py, so all three sequence workloads
# see the same event times.
EPOCH0 = 1_700_000_000


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    work: str  # scratch directory of this run
    cache: str  # input cache shared by runs
    tr: Tracer
    info: dict = field(default_factory=dict)  # extra end-to-end figures


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def pit_transform(seq: DataFrame, hot_key_threshold: int, tr: Tracer):
    """The north-rule transform: explode tokens with event time from
    position, state-change stays, as-of backfill of the previous stay's
    length (known at that stay's end, so the right time is ``etime``) and
    lag/lead features. Returns (events, features)."""
    ev = seq.select(*ENTITY, F.posexplode("tokens").alias("pos", "token")).withColumn(
        "ts", event_time_from_position(F.col("pos"), EPOCH0, STEP_S)
    )
    ev = tr.layer(ev, "storage.scan", "storage.scan_s", "sessionize.rows_in")
    stays = sessionize_state_change(ev, ENTITY, "ts", "token", min_duration_s=60.0)
    stays = tr.layer(stays, "sessionize", "sessionize.s", "sessionize.rows_out")
    right = stays.select(
        *ENTITY,
        F.col("etime").alias("r_ts"),
        F.col("n_rows").alias("prev_run_len"),
        F.col("etime").alias("prev_end"),
    )
    feats = asof_join(
        stays, right, ENTITY, "stime", "r_ts", ["prev_run_len", "prev_end"],
        strategy="salted", hot_key_threshold=hot_key_threshold, n_salts=N_SALTS,
    )
    feats = tr.layer(feats, "asof", "asof.s")
    if tr.enabled:
        for k, v in tracing.salting_rows(feats).items():
            tr.add(k, v)
    out = lag_lead_features(feats, ENTITY, "stime", ["duration_s"])
    return ev, tr.layer(out, "windows", "windows.s")


def chunk_export(ev: DataFrame, tr: Tracer) -> DataFrame:
    ordered = ordered_tokens(ev, ENTITY, "pos", "token")
    ordered = tr.layer(ordered, "sequence.ordered", "sequence.ordered_s")
    chunks = chunk_sequences(ordered, "tokens", ENGINE.sequence_length)
    return tr.layer(chunks, "sequence.chunk", "sequence.chunk_s", "sequence.chunks_out")


class SequenceWorkload:
    """Shared set-up of the workloads over a sequences table."""

    name = ""
    min_passes = 3  # timed passes per run, at least
    size: SeqSize
    view = "sequences"

    def prepare(self, ctx: Ctx) -> None:
        self.path = sequences_path(ctx.spark, ctx.cache, self.size, ctx.seed)
        self.input_bytes = dir_bytes(self.path)

    def register(self, ctx: Ctx) -> None:
        read_sequences(ctx.spark, self.path).createOrReplaceTempView(self.view)

    def events(self) -> int:
        return int(pq.read_table(self.path, columns=["n_tok"])["n_tok"].to_numpy().sum())

    def sample_docs(self, ctx: Ctx, n_cold: int = 4) -> list[str]:
        """Seeded sample of cold docs plus every hot doc."""
        rng = np.random.default_rng([ctx.seed, 3])
        cold = rng.choice(np.arange(self.size.hot_docs, self.size.n_docs), n_cold, replace=False)
        width = max(6, len(str(self.size.n_docs)))
        return self.size.hot_doc_ids + [str(int(i)).zfill(width) for i in cold]


class HotEntities(SequenceWorkload):
    name = "hot_entities"
    # datagen's skewed default: 3 hot docs own 30 % of ~0.13 M tokens,
    # ~13 k tokens and ~3.3 k stays each. The chunk export's cost grows with
    # the square of a doc's length, so this size bounds a run.
    size = SeqSize(n_docs=360, hot_share=0.30)
    # between the largest cold doc's stays (<= max_len) and the hot docs'
    # (~3.3 k each)
    hot_key_threshold = 2 * 512

    def run_pass(self, ctx: Ctx) -> None:
        ev, out = pit_transform(ctx.spark.table(self.view), self.hot_key_threshold, ctx.tr)
        chunks = chunk_export(ev, ctx.tr)
        if not ctx.tr.enabled:
            noop_sink(out)
            noop_sink(chunks)

    def checks(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        seq = ctx.spark.table(self.view)
        ev, out = pit_transform(seq, self.hot_key_threshold, Tracer("check"))
        out = out.persist()
        try:
            res = checks.feature_checks(
                out, seq, self.sample_docs(ctx), ctx.seed, EPOCH0, STEP_S, ENTITY
            )
            res.append(checks.salting_check(out, self.size.hot_doc_ids, N_SALTS))
            chunks = chunk_export(ev, Tracer("check"))
            res.append(checks.chunk_roundtrip_check(
                seq, reassemble_chunks(chunks, ENTITY), ENTITY, ENGINE.sequence_length))
        finally:
            out.unpersist()
        return res


class InjectedCrash(RuntimeError):
    pass


class TracedStore(CheckpointStore):
    """CheckpointStore whose marks and completed-set reads are timed."""

    def __init__(self, spark, path, tr: Tracer):
        super().__init__(spark, path)
        self.tr = tr

    def mark(self, *args, **kwargs):
        with self.tr.timed("checkpoint.mark_s", "checkpoint.mark"):
            super().mark(*args, **kwargs)
        self.tr.add("checkpoint.marks", 1)

    def completed(self, *args, **kwargs):
        with self.tr.timed("checkpoint.completed_s", "checkpoint.completed"):
            return super().completed(*args, **kwargs)


class ResumableExport(SequenceWorkload):
    name = "resumable_export"
    # ~0.08 M balanced tokens over 3 sources x 1 bucket = 3 units, so the
    # per-unit fixed costs (rescan, marks, delete, recount) dominate.
    size = SeqSize(n_docs=300, hot_share=0.05)
    buckets = 1
    # a pass runs three checkpointed units and takes ~12 s, and the passes
    # of one run agree within a few percent: two keep a run within budget
    min_passes = 2
    job_id = "token_features"
    view = "sequences_export"

    def prepare(self, ctx: Ctx) -> None:
        super().prepare(ctx)
        from run_pipeline import build_features  # jobs/ is on sys.path

        self.build_features = build_features
        srcs = read_sequences(ctx.spark, self.path).select("source").distinct().collect()
        self.keys = [f"{r['source']}-{b}" for r in sorted(srcs) for b in range(self.buckets)]
        self.lineage = f"input={self.path};buckets={self.buckets};xform=v1"
        self.last: dict = {}
        self.passes = 0

    def _unit(self, spark: SparkSession, key: str) -> DataFrame:
        """The per-unit job of jobs/run_pipeline.py."""
        src, bucket = key.rsplit("-", 1)
        part = spark.table(self.view).filter(F.col("source") == src).filter(
            F.pmod(F.xxhash64("doc_id"), self.buckets) == int(bucket)
        )
        return self.build_features(part)

    def run_pass(self, ctx: Ctx) -> None:
        tr, spark = ctx.tr, ctx.spark
        # a fresh output directory and checkpoint store per pass; the
        # previous pass's are deleted once this one has finished
        self.passes += 1
        base = os.path.join(ctx.work, "export", f"pass{self.passes}")
        out_dir, ck_dir = os.path.join(base, "out"), os.path.join(base, "ckpt")
        crash_key = self.keys[len(self.keys) // 2]

        def unit(key):
            tr.add("checkpoint.units_run", 1)
            with tr.span("unit"):
                return tr.layer(self._unit(spark, key), "unit.features", "unit.features_s")

        def crashing(key):
            if key == crash_key:
                raise InjectedCrash(key)
            return unit(key)

        store = TracedStore(spark, ck_dir, tr) if tr.enabled else CheckpointStore(spark, ck_dir)
        crashed = False
        with timed_writes(tr, out_dir):
            with tr.span("checkpoint.run_partitioned"):
                try:
                    run_partitioned(spark, store, self.job_id, self.keys, crashing,
                                    out_dir, "part_key", self.lineage)
                except InjectedCrash:
                    crashed = True
            t0 = time.perf_counter()
            with tr.span("checkpoint.resume"):
                results = run_partitioned(spark, store, self.job_id, self.keys, unit,
                                          out_dir, "part_key", self.lineage)
            resume_s = time.perf_counter() - t0
        stored = dir_bytes(out_dir) + dir_bytes(ck_dir)
        ctx.info.setdefault("resume_s", []).append(resume_s)
        ctx.info.setdefault("unit_s", []).extend(r.wall_ms / 1000 for r in results if not r.skipped)
        ctx.info.setdefault("stored_bytes_ratio", []).append(stored / self.input_bytes)
        tr.add("checkpoint.units_skipped", sum(r.skipped for r in results))
        tr.add("checkpoint.store_files", _count_files(ck_dir))
        tr.add("storage.bytes_written", dir_bytes(out_dir))
        tr.add("storage.files_written", _count_files(out_dir, ".parquet"))
        if self.last:
            shutil.rmtree(self.last["base"], ignore_errors=True)
        self.last = dict(base=base, out=out_dir, ckpt=ck_dir, crashed=crashed,
                         results=results, crash_key=crash_key)

    def checks(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        self.run_pass(ctx)
        last = self.last
        seq = ctx.spark.table(self.view)
        mid = self.keys.index(last["crash_key"])
        skipped = [r.partition_key for r in last["results"] if r.skipped]
        resume_ok = last["crashed"] and skipped == self.keys[:mid]
        res = [("resume_skips_done_units", resume_ok,
                f"crashed={last['crashed']} skipped={skipped} expected={self.keys[:mid]}")]
        done = CheckpointStore(ctx.spark, last["ckpt"]).completed(self.job_id, self.lineage)
        res.append(("checkpoint_marks_all_units", done == set(self.keys), f"done={sorted(done)}"))
        direct = self.build_features(seq)
        written = ctx.spark.read.parquet(last["out"]).select(*direct.columns)
        res.append(checks.same_rows_check(
            "output_equals_unpartitioned_job", written, direct,
            sum(r.rows for r in last["results"])
            + _rows_marked(ctx.spark, last["ckpt"], self.job_id, skipped)))
        return res


@contextmanager
def timed_writes(tr: Tracer, out_dir: str):
    """When tracing, time the Parquet writes that ``run_partitioned`` makes
    to ``out_dir`` (its unit outputs) as ``storage.write`` spans, by wrapping
    the pyspark writer for the duration of the block."""
    if not tr.enabled:
        yield
        return
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path != out_dir:
            return orig(self, path, *args, **kwargs)
        with tr.timed("storage.write_s", "storage.write"):
            return orig(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig


def _count_files(path: str, suffix: str = "") -> int:
    return sum(
        sum(f.endswith(suffix) for f in files) for _, _, files in os.walk(path)
    )


def _rows_marked(spark, ckpt: str, job_id: str, keys: list[str]) -> int:
    """Rows recorded by the done marks of ``keys`` (units a resume skipped)."""
    latest = CheckpointStore(spark, ckpt).latest(job_id)
    rows = latest.filter(F.col("partition_key").isin(keys)).agg(F.sum("rows")).first()[0]
    return int(rows or 0)


POINTS_SCHEMA = T.StructType(
    [
        T.StructField("user", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("alt", T.DoubleType()),
    ]
)
POIS_SCHEMA = T.StructType(
    [
        T.StructField("poi_id", T.LongType()),
        T.StructField("category", T.IntegerType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)
TIME_COLS = ["hour", "dayofweek", "weekofyear", "dayofyear", "month", "quarter"]
N_CATEGORIES = 14
POI_COLS = [f"poi_{c}" for c in range(N_CATEGORIES)]
GEO_FEATURES = ["duration_s", *TIME_COLS, *POI_COLS]


def geo_transform(points: DataFrame, pois: DataFrame, tr: Tracer) -> DataFrame:
    """Geolife points -> per (user, month) stay matrices enriched with the
    PoI counts of each stay's grid cell."""
    params = ENGINE.grid.params
    bounds = ENGINE.grid.bounds

    def cells(df: DataFrame) -> DataFrame:
        return (
            df.filter(G.in_bounds(F.col("lon"), F.col("lat"), bounds))
            .withColumn("loncol", G.gps_to_loncol(F.col("lon"), params))
            .withColumn("latcol", G.gps_to_latcol(F.col("lat"), params))
            .withColumn("grid", G.cantor_pair(F.col("loncol"), F.col("latcol")))
        )

    pts = tr.layer(with_time_features(cells(points), "ts"), "grid", "grid.s", "sessionize.rows_in")
    stays = sessionize_state_change(
        pts, ["user"], "ts", "grid",
        min_duration_s=float(ENGINE.activity_time_s), keep_cols=TIME_COLS,
    )
    stays = tr.layer(stays, "sessionize", "sessionize.s", "sessionize.rows_out")
    poi = pivot_counts(cells(pois), "grid", "category", values=list(range(N_CATEGORIES)))
    poi = poi.select("grid", *[F.col(str(c)).alias(f"poi_{c}") for c in range(N_CATEGORIES)])
    poi = tr.layer(poi, "pivot", "pivot.s", "pivot.rows_out")
    enriched = stays.join(F.broadcast(poi), "grid", "left").na.fill(0, subset=POI_COLS)
    mats = series_to_matrix(enriched, "user", "stime", GEO_FEATURES, max_rows=ENGINE.max_rows)
    return tr.layer(mats, "matrix", "matrix.s", "matrix.groups_out")


class GeoPoi:
    name = "geo_poi"
    min_passes = 3
    # ~0.4 M fixes: 30 users x 20 active days, one fix a minute; 20 k PoIs.
    size = GeoSize(n_users=30, days_per_user=20, step_s=60, n_pois=20_000)

    def prepare(self, ctx: Ctx) -> None:
        self.points_path, self.pois_path = geo_paths(ctx.cache, self.size, ctx.seed)
        self.input_bytes = dir_bytes(self.points_path) + dir_bytes(self.pois_path)

    def register(self, ctx: Ctx) -> None:
        ctx.spark.read.schema(POINTS_SCHEMA).parquet(self.points_path).createOrReplaceTempView("points")
        ctx.spark.read.schema(POIS_SCHEMA).parquet(self.pois_path).createOrReplaceTempView("pois")

    def events(self) -> int:
        return pq.read_table(self.points_path, columns=["user"]).num_rows

    def run_pass(self, ctx: Ctx) -> None:
        mats = geo_transform(ctx.spark.table("points"), ctx.spark.table("pois"), ctx.tr)
        if not ctx.tr.enabled:
            noop_sink(mats)

    def checks(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        rng = np.random.default_rng([ctx.seed, 5])
        users = [f"{u:03d}" for u in rng.choice(self.size.n_users, 3, replace=False)]
        mats = geo_transform(ctx.spark.table("points"), ctx.spark.table("pois"), Tracer("check"))
        got = mats.filter(F.col("user").isin(users)).toPandas()
        return [checks.geo_matrix_check(
            got, self.points_path, self.pois_path, users, ENGINE, GEO_FEATURES, N_CATEGORIES)]


WORKLOADS = {w.name: w for w in (HotEntities, ResumableExport, GeoPoi)}
