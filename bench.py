"""Headline benchmark. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "tokens_per_sec": ...}

Env:
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default: the CPUs this process
                         may run on)
    BENCH_QUERIES        comma-separated subset override
    BENCH_REPEATS        runs per query, best-of is reported (default 3;
                         the host is multi-tenant — measured load avg ~3
                         from other tenants while this repo was idle — so
                         single-run times carry 1.5-4x spikes; best-of-3
                         recovers the plan's true cost)

Each query executes fully via the noop sink (no result materialization on
the driver, no output I/O — measures the plan, like `EXPLAIN ANALYZE`).
Per-query time is the best of BENCH_REPEATS runs: the first run on a fresh
plan pays one-time JVM costs (codegen compilation, class init) that are not
properties of the plan being measured.
The token-pipeline block measures end-to-end feature-engineering throughput
(tokens/sec) on the synthetic north-rule sequences table: the job's
``build_features`` (one SQL-array projection per doc: state-change runs ->
min-duration filter -> previous stay and lag/lead from the neighbouring
runs) and the chunked sequence export.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as E
from geofeaturegeneration_spark.session import get_spark
from geofeaturegeneration_spark.datagen import generate_sequences, write_sequences, read_sequences
from geofeaturegeneration_spark.config import EngineConfig
from geofeaturegeneration_spark.operators import chunk_sequences
from jobs.run_pipeline import build_features

HEADLINE = [
    "tpch_pricing",
    "sessionize_gap",
    "sessionize_state",
    "stay_move",
    "stay_enrich",
    "asof_union",
    "asof_salted",
    "lag_lead",
    "rolling",
    "pivot_counts",
    "vocab_encode",
    "chunk_sequences",
    "token_roundtrip",
    "dedup_exact",
    "minhash_pairs",
    "ngram_jaccard",
    "simhash",
    "simhash_pairs",
    "text_stats",
    "lang_id",
    "fingerprint",
    "grid_cantor",
    "geohash",
    "time_features",
    "decontaminate",
    "source_quota",
    "source_sample",
    "rare_tokens",
    "pii_scrub",
    "line_dedup",
    "normalize_text",
    "clean_lines",
    "span_dedup",
    "edit_join",
    "leakage_split",
    "traj_graph",
    "pagerank",
    "temperature_mix",
    "shuffle_shards",
    "epoch_upsample",
    # round 5: the remaining two queries promoted into the driver window
    # by the rotation policy (the other four were already headline rows)
    "edit_join_cross",
    "chunk_strided",
    # round 5: the five contract-window queries (one since retired) that
    # had never been headline rows — with these the bench covers the
    # ENTIRE driver window
    "dedup_clusters",
    "negative_samples",
    "quality_filter",
    "stay_move_spliced",
]


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def token_pipeline(spark, seq_path: str) -> tuple[int, float]:
    """North-rule feature pipeline over the pre-tokenized sequences table;
    returns (n_tokens, wall_s). The features are the job's own transform
    (``jobs/run_pipeline.build_features``); the export chunks each doc's
    token array as the table holds it.

    The two outputs (feature rows, chunked sequences) are independent sinks
    of the same scan, so they are SUBMITTED CONCURRENTLY from two threads —
    each job's driver-side serial work (planning, AQE stage scheduling)
    overlaps the other's execution, which is what a real pipeline does with
    independent writes.
    """
    import threading

    seq = read_sequences(spark, seq_path)
    n_tokens = seq.agg(F.sum("n_tok")).collect()[0][0]
    t0 = time.perf_counter()
    feats = build_features(seq)
    chunks = chunk_sequences(
        seq.select("doc_id", "source", "tokens"), "tokens",
        EngineConfig().sequence_length,
    )

    errs = []

    def submit(df):
        try:
            run_noop(df)
        except Exception as e:  # surface worker-thread failures
            errs.append(e)

    threads = [
        threading.Thread(target=submit, args=(feats,)),
        threading.Thread(target=submit, args=(chunks,)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errs:
        raise errs[0]
    return int(n_tokens), time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    names = os.environ.get("BENCH_QUERIES")
    names = names.split(",") if names else HEADLINE

    spark = get_spark("bench")
    qs = {**E.queries(), **E.extra_queries()}

    # warm the JVM + parquet footer caches so q1 isn't charged for startup
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    times: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            run_noop(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)

    # synthetic sequences slice sized with sf (deterministic, seeded)
    n_docs = max(200, int(float(sf) * 20_000))
    seq_path = f"/tmp/gfg_bench_seq_{n_docs}"
    if not os.path.exists(seq_path):
        write_sequences(generate_sequences(spark, n_docs=n_docs), seq_path)
    n_tokens, pipe_s = token_pipeline(spark, seq_path)
    for _ in range(repeats - 1):
        n_tokens, s = token_pipeline(spark, seq_path)
        pipe_s = min(pipe_s, s)
    times["token_pipeline"] = round(pipe_s, 3)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "e2e wall-time, headline feature-eng queries + token pipeline",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "tokens_per_sec": round(n_tokens / pipe_s, 1),
                "n_tokens": n_tokens,
            }
        )
    )


if __name__ == "__main__":
    main()
