"""Table storage layer: Iceberg when the runtime is on the classpath,
partitioned Parquet otherwise — one interface, identical layout semantics.

The north-rule deployment target is an Iceberg table of pre-tokenized
sequences (snapshot isolation, hidden partitioning, MERGE/dynamic overwrite
for idempotent partition rewrites). The Iceberg runtime jar and a
`spark.sql.catalog.<name>` config may both be absent, so correctness never
depends on them: `TableStore` probes the catalog once
(`iceberg_available`) and falls back to a plain partitioned
Parquet directory with the SAME partition columns and the same
overwrite-by-partition write discipline (`partitionOverwriteMode=dynamic`),
which is exactly what Iceberg's `overwritePartitions()` provides
transactionally. Swapping a real catalog in changes no call sites.

Resume/idempotency (checkpoint.py) composes with either backend: outputs
land per partition, the checkpoint record is written after the data commit,
and a re-run overwrites the same partition deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    encoding: str = "UTF-8",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """Encoding-aware CSV scan. The reference ingests Geolife/PoI exports in
    GB18030 (GenerateGeographicFeature.py:191 ``encoding='gb18030'``) and
    pipe-delimited variants; Spark's CSV source decodes any java.nio charset
    stream-side via the ``encoding`` option, so the scan stays distributed
    and lazy — no driver-side transcoding pass. Pass an explicit ``schema``
    in production (inferSchema costs an extra scan)."""
    # Spark 4 rejects charsets outside a small allowlist unless the legacy
    # java.nio charset support is enabled; GB18030 needs it. The conf only
    # WIDENS accepted charsets, so leaving it set session-wide is harmless
    # (it must be active at execution time, not just while building the
    # lazy plan, so a set-and-restore around this call would be wrong).
    builtin = {"iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le",
               "utf-32", "utf-8"}
    if encoding.lower() not in builtin:
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    r = (
        spark.read.option("header", header)
        .option("sep", sep)
        .option("encoding", encoding)
    )
    r = r.schema(schema) if schema is not None else r.option("inferSchema", True)
    return r.csv(path)


def iceberg_available(spark: SparkSession, catalog: str = "local") -> bool:
    """True iff an Iceberg SparkCatalog is actually usable in this session
    (config present AND the runtime class loads)."""
    conf = f"spark.sql.catalog.{catalog}"
    if spark.conf.get(conf, None) is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableStore:
    """Write/read tables by name with partition-grain idempotent overwrite.

    backend='iceberg': name resolves to <catalog>.<namespace>.<name>, writes
    via the DataFrameWriterV2 (`createOrReplace` / `overwritePartitions`).
    backend='parquet': name resolves to <root>/<name>, writes partitioned
    Parquet with dynamic partition overwrite.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: str = "local",
        namespace: str = "gfs",
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog = catalog
        self.namespace = namespace
        self.backend = "iceberg" if iceberg_available(spark, catalog) else "parquet"

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def create_or_replace(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        partition_by = partition_by or []
        if self.backend == "iceberg":
            w = df.writeTo(self._ident(name))
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            (
                df.write.mode("overwrite")
                .partitionBy(*partition_by)
                .parquet(self._path(name))
            )

    def overwrite_partitions(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """Idempotently replace exactly the partitions present in ``df`` —
        Iceberg ``overwritePartitions()`` (partition spec lives in the
        table), or Parquet dynamic partition overwrite on ``partition_by``
        (same per-partition replace semantics, minus snapshot isolation)."""
        if self.backend == "iceberg":
            df.writeTo(self._ident(name)).overwritePartitions()
            return
        if not partition_by:
            raise ValueError(
                "parquet backend needs partition_by for partition-grain overwrite"
            )
        session_conf = self.spark.conf
        prev = session_conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        session_conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                df.write.mode("overwrite")
                .partitionBy(*partition_by)
                .parquet(self._path(name))
            )
        finally:
            session_conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def read(self, name: str) -> DataFrame:
        if self.backend == "iceberg":
            return self.spark.table(self._ident(name))
        return self.spark.read.parquet(self._path(name))
