"""Per-partition checkpoint / lineage / metrics store with idempotent resume.

Replaces the reference's file-existence resume (DP_GenerateTrajectory.py:50-52,
``gRefreshDataFlag`` gate AttachFeature.py:1059-1066) with a real bookkeeping
table: one record per (job_id, partition_key) carrying status, row count,
wall-clock, and a lineage string (input fingerprint + code version), written
AFTER the partition's output lands.

Storage: JSON marks written by the driver, one JSON line per mark in its
own ``<attempt_id>.json`` file, through the Hadoop FileSystem API (any scheme
the job writes to; no Spark job per mark). The driver reads them back the
same way and reduces them to the latest record per partition, so re-marks
and concurrent retries are safe: last writer wins, and output idempotency
comes from dynamic partition overwrite, not from the marker. A mark torn by
a crash reads as absent, so its unit re-runs; a store of non-JSON files (the
older Parquet layout) reads as empty, so every unit re-runs.

Scale notes: the checkpoint table is tiny (one file per partition per
attempt) and never joined against the fact data; reading it starts no Spark
job. Resume cost is O(marks): the store is not compacted, so it grows with
attempts, not only with partitions.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # done | failed
        T.StructField("rows", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("lineage", T.StringType(), True),
        T.StructField("attempt_id", T.StringType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path``, on any scheme the job uses."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _hidden(name: str) -> bool:
    """Whether Spark's file index drops a file or directory of this name
    (``HadoopFSUtils.shouldFilterOutPathName``): markers, checksums,
    ``_temporary/`` and ``.staging/`` trees, half-copied files. A ``_``
    name holding ``=`` is a partition directory and is read."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def input_fingerprint(spark: SparkSession, path: str) -> str:
    """Digest of the sorted (path, length, modification time) of the data
    files under ``path``, listed by the driver through the Hadoop
    FileSystem (no Spark job). A file counts only when no name on its path
    below ``path`` is one Spark's reader skips (``_hidden``), so a crashed
    writer's leftovers, or their cleanup, leave the digest as it was.
    Rewriting the input in place changes the digest even when the path
    stays the same."""
    fs, root = _fs_path(spark, path)
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    files = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if not any(map(_hidden, p.removeprefix(prefix).split("/"))):
            files.append(f"{p}\t{st.getLen()}\t{st.getModificationTime()}")
    digest = hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()
    return f"{len(files)}:{digest[:16]}"


def _partition_dir(spark: SparkSession, partition_col: str, key: str) -> str:
    """The directory name Spark's partitioned writer gives ``key``: it
    %-escapes characters such as ``#``, ``/`` and ``=``, so key
    ``web#crawl-0`` lands in ``part_key=web%23crawl-0``."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    return f"{escape(partition_col)}={escape(key)}"


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _latest(self, job_id: str) -> list[dict] | None:
        """Latest record per partition_key for a job, read by the driver
        (None when there is no store). Last writer wins: records are
        ordered by ``updated_at``, then ``attempt_id``."""
        fs, root = _fs_path(self.spark, self.path)
        if not fs.exists(root):
            return None
        # listed, not globbed: a glob would read the store's own path as a
        # pattern, and a path holding `{` or `[` would match no mark
        records: list[dict] = []
        for st in fs.listStatus(root):
            if st.isFile() and st.getPath().getName().endswith(".json"):
                records += _parse_marks(self.spark, fs, st.getPath())
        latest: dict[str, dict] = {}
        for rec in sorted(records, key=lambda r: (r["updated_at"], r["attempt_id"])):
            if rec["job_id"] == job_id:
                latest[rec["partition_key"]] = rec
        return list(latest.values())

    def latest(self, job_id: str) -> DataFrame | None:
        """Latest record per partition_key for a job (last writer wins):
        the per-partition metrics the reference keeps as printed shapes
        (README.md:277-573), as a queryable table."""
        recs = self._latest(job_id)
        if recs is None:
            return None
        names = CHECKPOINT_SCHEMA.fieldNames()
        return self.spark.createDataFrame(
            [tuple(r[n] for n in names) for r in recs], CHECKPOINT_SCHEMA
        )

    def completed(self, job_id: str, lineage: str | None = None) -> set[str]:
        """Partition keys whose latest record is done (and, when given,
        matches ``lineage`` — a lineage change invalidates old outputs).
        Starts no Spark job."""
        return {
            r["partition_key"]
            for r in self._latest(job_id) or []
            if r["status"] == "done" and (lineage is None or r["lineage"] == lineage)
        }

    def mark(
        self,
        job_id: str,
        partition_key: str,
        status: str,
        rows: int | None = None,
        wall_ms: int | None = None,
        lineage: str | None = None,
    ) -> None:
        """One JSON line in a file of its own, written by the driver."""
        attempt_id = uuid.uuid4().hex
        now = datetime.now(timezone.utc).isoformat()
        rec = (job_id, partition_key, status, rows, wall_ms, lineage, attempt_id, now)
        line = json.dumps(dict(zip(CHECKPOINT_SCHEMA.fieldNames(), rec))) + "\n"
        fs, p = _fs_path(self.spark, f"{self.path}/{attempt_id}.json")
        out = fs.create(p, False)
        try:
            out.write(bytearray(line.encode()))
        finally:
            out.close()


def _parse_marks(spark: SparkSession, fs, path) -> list[dict]:
    """The records of one mark file. A mark torn by a crash reads as
    absent: under a checksummed FileSystem the read fails its checksum,
    elsewhere its line does not parse."""
    try:
        stream = fs.open(path)
        try:
            raw = bytes(spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream))
        finally:
            stream.close()
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException":
            return []
        raise
    records = []
    for line in raw.decode("utf-8", "replace").splitlines():
        try:
            rec = json.loads(line)
            rec["updated_at"] = datetime.fromisoformat(rec["updated_at"])
        except (ValueError, TypeError, KeyError):
            continue  # a torn line
        records.append({n: rec.get(n) for n in CHECKPOINT_SCHEMA.fieldNames()})
    return records


def stale_partitions(
    spark: SparkSession, out_path: str, partition_col: str, keys: list[str]
) -> list[str]:
    """Keys of the partition directories under ``out_path`` that are not in
    ``keys``, unescaped. Dynamic partition overwrite only replaces the
    partitions that re-run, so shrinking the key set between runs (e.g.
    fewer buckets) would otherwise leave the previous run's
    higher-numbered partitions on disk — served as stale rows to any
    reader of the directory. Deletes nothing: ``run_partitioned`` marks
    each key before deleting it."""
    fs, root = _fs_path(spark, out_path)
    if not fs.exists(root):
        return []
    keep = {_partition_dir(spark, partition_col, k) for k in keys}
    prefix = _partition_dir(spark, partition_col, "")
    stale: list[str] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix) and name not in keep:
            stale.append(unquote(name[len(prefix):]))
    return stale


def _delete_partition_dir(
    spark: SparkSession, out_path: str, partition_col: str, key: str
) -> None:
    """Delete ``key``'s partition directory (no-op if absent).

    Dynamic partition overwrite only replaces partitions PRESENT in the
    written data — a re-run whose output is zero rows for a key writes no
    files and therefore deletes nothing, silently serving the previous
    run's rows for that key. Callers delete the directory explicitly
    before rewriting a partition so "this run produced nothing for key X"
    lands as an empty partition, not a stale one."""
    fs, p = _fs_path(spark, f"{out_path}/{_partition_dir(spark, partition_col, key)}")
    if fs.exists(p):
        fs.delete(p, True)


@dataclass
class PartitionResult:
    partition_key: str
    rows: int
    wall_ms: int
    skipped: bool


def run_partitioned(
    spark: SparkSession,
    store: CheckpointStore,
    job_id: str,
    partition_keys: list[str],
    run_one,  # (partition_key) -> DataFrame to write
    out_path: str,
    partition_col: str,
    lineage: str,
    force: bool = False,
) -> list[PartitionResult]:
    """Run a partitioned batch job with skip-if-done resume.

    Each partition's output is written with DYNAMIC partition overwrite —
    re-running a partition replaces exactly its own files, so a crash
    between output-write and checkpoint-mark re-runs that partition
    idempotently (write is the source of truth; the mark only skips work).
    The row count is taken from the write (an ``Observation``), never by
    reading the output back; marks are JSON files written by the driver.
    Partition directories OUTSIDE ``partition_keys`` (leftovers of a
    previous run with a larger key set) are deleted up front, each after
    its checkpoint mark is invalidated (status "pruned" supersedes the old
    "done"), so the directory always equals exactly this run's key set and
    a LATER run that re-expands the key set re-runs the pruned keys
    instead of resuming "done" marks whose data was deleted. A crash
    between the mark and the delete leaves the data with a not-done mark,
    never a "done" mark over deleted data.

    A re-run partition's directory is deleted explicitly before the write:
    dynamic overwrite only replaces partitions present in the written
    data, so a re-run producing ZERO rows for its key (legitimate — e.g. a
    stricter quality filter rejecting a whole bucket) would otherwise
    leave the previous lineage's files in place and count them as this
    run's rows.
    """
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for key in stale_partitions(spark, out_path, partition_col, partition_keys):
            store.mark(job_id, key, "pruned", lineage=lineage)
            _delete_partition_dir(spark, out_path, partition_col, key)
        done = set() if force else store.completed(job_id, lineage)
        results: list[PartitionResult] = []
        for key in partition_keys:
            if key in done:
                results.append(PartitionResult(key, 0, 0, skipped=True))
                continue
            t0 = time.perf_counter()
            obs = Observation()
            out = (
                run_one(key)
                .withColumn(partition_col, F.lit(key))
                .observe(obs, F.count(F.lit(1)).alias("rows"))
            )
            # invalidate BEFORE deleting: a crash between the delete and the
            # write must leave the key marked not-done (so resume re-runs
            # it), never an empty partition under a surviving "done" mark
            store.mark(job_id, key, "rerun", lineage=lineage)
            _delete_partition_dir(spark, out_path, partition_col, key)
            out.write.mode("overwrite").partitionBy(partition_col).parquet(out_path)
            n = obs.get["rows"]
            wall_ms = int((time.perf_counter() - t0) * 1000)
            store.mark(job_id, key, "done", rows=n, wall_ms=wall_ms, lineage=lineage)
            results.append(PartitionResult(key, n, wall_ms, skipped=False))
        return results
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
