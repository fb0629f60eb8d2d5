"""spark-submit entry point for the token feature pipeline with resume.

    spark-submit --py-files gfg_spark.zip jobs/run_pipeline.py \
        --input /path/to/sequences --output /path/to/features \
        --checkpoint /path/to/ckpt [--buckets 8] [--force]

(Local dev: plain ``python jobs/run_pipeline.py`` works because pyspark is
pip-installed; on a cluster, zip the package for --py-files:
``cd /root/repo && zip -r gfg_spark.zip geofeaturegeneration_spark``.)

Unit of resume = (source, bucket(doc_id)) — source gives Hive/Iceberg
partition pruning on the scan, the doc_id hash bucket bounds a partition's
size at 10^12-sequence scale so any single unit re-runs in minutes. Each
unit writes via dynamic partition overwrite, with its row count from the
write, and the driver then records (rows, wall_ms, lineage) as a JSON mark;
re-running after a crash skips completed units (checkpoint.py).

Pipeline per unit (the north-rule transform):
  explode tokens -> event-time from sequence position -> state-change
  sessionize -> previous stay's run length as a lag on the stays window ->
  lag/lead features (one sort serves both, so the stays are computed once).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from geofeaturegeneration_spark.checkpoint import CheckpointStore, run_partitioned
from geofeaturegeneration_spark.config import EngineConfig
from geofeaturegeneration_spark.datagen import read_sequences
from geofeaturegeneration_spark.functions import event_time_from_position
from geofeaturegeneration_spark.operators import (
    lag_lead_features,
    sessionize_state_change,
)
from geofeaturegeneration_spark.session import get_spark

EPOCH0 = 1_700_000_000
ENTITY = ["doc_id", "source"]


def build_features(seq_df):
    """sequences (doc_id, tokens, n_tok, source) -> per-stay feature rows."""
    step_s = EngineConfig().event_time_step_s
    ev = seq_df.select(*ENTITY, F.posexplode("tokens").alias("pos", "token")).withColumn(
        "ts", event_time_from_position(F.col("pos"), EPOCH0, step_s)
    )
    stays = sessionize_state_change(ev, ENTITY, "ts", "token", min_duration_s=60.0)
    # a stay's length is known at its end, so each stay sees the previous
    # kept stay, never itself. A doc's kept stays start at distinct times
    # and each ends after it starts, so that stay is the lag on stime.
    prev = F.lag("n_rows").over(W.partitionBy(*ENTITY).orderBy("stime"))
    feats = stays.withColumn("prev_run_len", prev)
    return lag_lead_features(feats, ENTITY, "stime", ["duration_s"])


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="sequences parquet dir")
    p.add_argument("--output", required=True, help="feature output dir")
    p.add_argument("--checkpoint", required=True, help="checkpoint store dir")
    p.add_argument("--buckets", type=int, default=4, help="doc_id hash buckets per source")
    p.add_argument("--force", action="store_true", help="ignore checkpoints")
    p.add_argument("--job-id", default="token_features")
    args = p.parse_args(argv)

    spark = get_spark("run_pipeline")
    seq = read_sequences(spark, args.input)
    sources = [r["source"] for r in seq.select("source").distinct().collect()]
    keys = [f"{s}-{b}" for s in sorted(sources) for b in range(args.buckets)]

    # lineage = input identity + transform version; changing either
    # invalidates prior checkpoints for affected partitions.
    lineage = f"input={args.input};buckets={args.buckets};xform=v2"

    def run_one(key: str):
        src, bucket = key.rsplit("-", 1)
        part = seq.filter(F.col("source") == src).filter(
            F.pmod(F.xxhash64("doc_id"), args.buckets) == int(bucket)
        )
        return build_features(part)

    store = CheckpointStore(spark, args.checkpoint)
    t0 = time.perf_counter()
    results = run_partitioned(
        spark, store, args.job_id, keys, run_one,
        args.output, "part_key", lineage, force=args.force,
    )
    wall = time.perf_counter() - t0
    summary = {
        "job_id": args.job_id,
        "partitions": len(results),
        "skipped": sum(r.skipped for r in results),
        "rows": sum(r.rows for r in results),
        "wall_s": round(wall, 2),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
