"""Two-parallelism scaling bench (north-rule evidence).

A real N -> 4N executor comparison needs a cluster; this sandbox evidences
the same property by running the identical job at local[8] and local[32]
on the same input (32 physical cores, so 4x genuinely more compute).

    python tools/scaling_bench.py [--n-docs 20000] [--md-out BENCH.md]

scaling efficiency = (thr_4N / thr_N) / 4
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ensure_input(n_docs: int) -> str:
    """Scaling input: realistic skew — 20 hot docs owning ~5% of tokens
    (~70x the median doc). The test-suite default (3 docs owning 30%) is a
    deliberate torture case for salting correctness, but it is degenerate
    as a scaling input: one entity = 10% of the corpus makes the per-entity
    window the critical path at ANY parallelism, which no engine can split
    (entity windows are sequential by definition). At 10^12-sequence scale
    no single doc owns a core's worth of the corpus."""
    path = f"/tmp/gfg_scale_seq_{n_docs}_balanced"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from geofeaturegeneration_spark.datagen import (
        generate_sequences_distributed,
        write_sequences,
    )
    from geofeaturegeneration_spark.session import get_spark

    spark = get_spark("scale_gen")
    write_sequences(
        generate_sequences_distributed(spark, n_docs=n_docs, hot_docs=20, hot_share=0.05),
        path,
    )
    spark.stop()
    return path


def run_level(cpus: int, seq_path: str, job: str = "pipeline") -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "scale_worker.py"),
         str(cpus), seq_path, os.environ.get("SCALE_RUNS", "4"), job],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-docs", type=int, default=100000)
    p.add_argument("--n-low", type=int, default=2,
                   help="N of the N->4N comparison (default 2->8: this "
                        "sandbox VM throttles under sustained wide load — a "
                        "raw-CPU probe shows only ~3.4x capacity from 8->32 "
                        "threads — so 8->32 measures the host, not the engine)")
    p.add_argument("--md-out", default=None, help="append a results section to this md file")
    p.add_argument("--job", default="pipeline",
                   choices=["pipeline", "normalize", "span",
                            "span_intervals", "edit", "pr"],
                   help="pipeline = token feature pipeline; normalize/span/"
                        "span_intervals/edit/pr run over the dedup-scaling "
                        "text corpus (--n-copies/--text-repeat)")
    p.add_argument("--n-copies", type=int, default=20,
                   help="text-corpus replication for the normalize/span/"
                        "span_intervals/edit/pr jobs (20 -> 100k docs)")
    p.add_argument("--text-repeat", type=int, default=3,
                   help="text-corpus doc-length multiplier for the same "
                        "jobs")
    args = p.parse_args()

    if args.job in ("normalize", "span", "span_intervals", "edit", "pr"):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from dedup_scaling import ensure_corpus

        seq_path = ensure_corpus(args.n_copies, args.text_repeat)
    else:
        seq_path = ensure_input(args.n_docs)
    lo = run_level(args.n_low, seq_path, args.job)
    hi = run_level(args.n_low * 4, seq_path, args.job)
    ratio = hi["tokens_per_sec"] / lo["tokens_per_sec"]
    result = {
        "job": args.job,
        "n_docs": args.n_docs,
        "n_tokens": hi["n_tokens"],
        f"local{args.n_low}": lo,
        f"local{args.n_low * 4}": hi,
        "speedup": round(ratio, 3),
        "scaling_efficiency": round(ratio / 4, 3),
    }
    print(json.dumps(result))

    job_title = {
        "pipeline": "token feature pipeline",
        "normalize": "normalize_text (NFC, 10% of docs carrying non-ASCII byte forms)",
        "span": "span_dedup (k=50 token windows, min-(doc,pos) winner)",
        "span_intervals": "span_dup_intervals (stages 1-2 of span_dedup, no reassembly)",
        "edit": "edit_join (24-char ascii keys, max_dist=1, symmetric-delete blocking)",
        "pr": "pagerank (distinct bigram graph, 5 iterations, exact int64)",
    }[args.job]
    unit = {"normalize": "chars"}.get(args.job, "tokens")
    if args.md_out:
        with open(args.md_out, "a") as f:
            f.write(
                f"\n## Scaling evidence ({job_title}, "
                f"{hi['n_tokens']:,} {unit})\n\n"
                "Same job, same input, two parallelism levels:\n\n"
                f"| level | wall (best of runs) | {unit}/sec |\n"
                "| --- | --- | --- |\n"
                f"| local[{args.n_low}] | {lo['wall_s']} s | {lo['tokens_per_sec']:,} |\n"
                f"| local[{args.n_low * 4}] | {hi['wall_s']} s | {hi['tokens_per_sec']:,} |\n\n"
                f"speedup {result['speedup']}x over 4x cores -> "
                f"**scaling efficiency {result['scaling_efficiency']}** "
                "(north-rule target >= 0.8).\n"
            )


if __name__ == "__main__":
    main()
