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
re-running after a crash skips completed units (checkpoint.py). The lineage
holds the input's path and a digest of its data files' (path, length,
modification time), so rewriting the input in place re-runs every unit.

Pipeline per unit (the north-rule transform): one projection per doc over
its token array, whose event time is a function of position. Run starts ->
one struct per run but the doc's last (its end is unobserved) -> the
min-duration filter -> each kept stay reads the previous kept stay's run
length and its lag/lead features off its neighbours in the same array. A
doc's tokens arrive ordered in one row, so the plan has no exchange, no
sort and no window; the rows come out through ``posexplode_outer``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geofeaturegeneration_spark.checkpoint import (
    CheckpointStore,
    input_fingerprint,
    run_partitioned,
)
from geofeaturegeneration_spark.config import EngineConfig
from geofeaturegeneration_spark.datagen import read_sequences
from geofeaturegeneration_spark.session import get_spark

EPOCH0 = 1_700_000_000
ENTITY = ["doc_id", "source"]


def build_features(seq_df, min_duration_s: float = 60.0):
    """sequences (doc_id, tokens, n_tok, source) -> per-stay feature rows.

    One row per (doc_id, source) in; out, one row per kept stay: the
    state-change runs of ``sessionize_state_change`` (the doc's last run
    dropped, runs shorter than ``min_duration_s`` filtered with ``>=``),
    the previous kept stay's ``n_rows`` as ``prev_run_len`` (a stay's
    length is known at its end, so a stay never sees its own), and the
    ``duration_s`` lag/lead and ``gap_s_lag1`` of ``lag_lead_features``
    over the kept stays.

    Written as SQL text: the plan costs a few py4j calls to build, where
    ``Column`` lambdas cost one per node. Every array the lambdas read is
    staged as a column alias (``_s``, ``_k``), since a HOF lambda has no
    subexpression elimination. The rows come out of ``posexplode_outer``
    and a null filter on the index: a plain explode lets
    ``InferFiltersFromGenerate`` copy the lambda into a filter.
    """
    step_s = EngineConfig().event_time_step_s

    def event_time(pos: str) -> str:
        # event_time_from_position, in BIGINT so positions past int32 hold
        return f"timestamp_seconds({EPOCH0} + CAST({pos} AS BIGINT) * {step_s})"

    # positions where a run starts; sequence(0, -1) descends, so guard n = 0.
    # tokens is bound once to t: an input that folds to a literal would
    # otherwise be inlined into the lambda at every reference
    starts = (
        "transform(array(tokens), t -> IF(size(t) > 0, filter(sequence(0, size(t) - 1),"
        " i -> i = 0 OR t[i] != t[i - 1]), array()))[0]"
    )
    # run k ends where run k + 1 starts, so the doc's last run has no struct
    runs = (
        "transform(slice(_s, 2, size(_s)), (e, k) -> named_struct("
        "'start', CAST(_s[k] AS BIGINT), 'n_rows', CAST(e - _s[k] AS BIGINT),"
        " 'token', tokens[_s[k]], 'stay_seq', k + 1,"
        f" 'duration_s', CAST(CAST(e - _s[k] AS BIGINT) * {step_s} AS DOUBLE)))"
    )
    kept = f"filter({runs}, r -> r.duration_s >= {float(min_duration_s)!r})"
    # neighbours among the kept stays; get() is null past either end
    feats = (
        "transform(_k, (r, j) -> named_struct("
        f"'stime', {event_time('r.start')}, 'n_rows', r.n_rows, 'token', r.token,"
        f" 'etime', {event_time('r.start + r.n_rows')}, 'stay_seq', r.stay_seq,"
        " 'duration_s', r.duration_s,"
        " 'prev_run_len', get(_k, j - 1).n_rows,"
        " 'duration_s_lag1', get(_k, j - 1).duration_s,"
        " 'duration_s_delta1', r.duration_s - get(_k, j - 1).duration_s,"
        " 'duration_s_lead1', get(_k, j + 1).duration_s,"
        f" 'gap_s_lag1', CAST((r.start - get(_k, j - 1).start) * {step_s} AS DOUBLE)))"
    )
    return (
        seq_df.selectExpr(*ENTITY, "tokens", f"{starts} AS _s")
        .selectExpr(*ENTITY, f"{kept} AS _k")
        .selectExpr(*ENTITY, f"posexplode_outer({feats}) AS (_j, _f)")
        .where("_j IS NOT NULL")
        .selectExpr(*ENTITY, "_f.*")
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="sequences parquet dir")
    p.add_argument("--output", required=True, help="feature output dir")
    p.add_argument("--checkpoint", required=True, help="checkpoint store dir")
    p.add_argument("--buckets", type=int, default=4, help="doc_id hash buckets per source")
    p.add_argument("--force", action="store_true", help="ignore checkpoints")
    p.add_argument("--job-id", default="token_features")
    args = p.parse_args(argv)
    if args.buckets < 1:
        # an empty key set would prune every existing output partition
        p.error("--buckets must be >= 1")

    spark = get_spark("run_pipeline")
    seq = read_sequences(spark, args.input)
    sources = [r["source"] for r in seq.select("source").distinct().collect()]
    if None in sources:
        # the schema declares source non-null, but a Parquet read does not
        # check it; a null source matches no unit's filter
        raise ValueError(f"{args.input}: column 'source' holds nulls")
    keys = [f"{s}-{b}" for s in sorted(sources) for b in range(args.buckets)]

    # lineage = input identity (its path and its files' content stamps) +
    # transform version; changing either invalidates prior checkpoints.
    lineage = (
        f"input={args.input};files={input_fingerprint(spark, args.input)}"
        f";buckets={args.buckets};xform=v2"
    )

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
