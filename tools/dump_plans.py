"""Dump formatted physical plans of the representative queries to PLANS.md —
the evidence artifact behind README's "Design for scale" claims and
tests/test_plan_audit.py's assertions. Regenerate after plan-shape changes:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from geofeaturegeneration_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

SHOW = [
    ("tpch_pricing", "filter pushdown + column pruning reach the parquet scan"),
    ("orders_enrich", "dimension joins broadcast; fact side never shuffles"),
    ("asof_union", "as-of join = ONE shuffle, zero join nodes (union + running window)"),
    ("sessionize_state", "full sessionization on ONE entity-key exchange (local sorts only)"),
    ("vocab_encode", "vocabulary encode = broadcast hash join"),
    ("negative_samples", "hash-sampled candidates: slot explode -> broadcast item-index join -> anti-join (no entities x items grid)"),
    ("line_dedup", "corpus line dedup: partial-agg min-winner per line hash (map-side combine on hot boilerplate), equi-join back, per-doc reassembly"),
    ("pii_scrub", "PII redaction: chained regexp exprs, zero shuffle, one codegen span"),
    ("clean_lines", "C4 line cleaning: per-line rules in one array filter lambda, kept array staged as a column alias feeding three outputs (SPARK-36718 keeps CollapseProject from re-inlining it) — two narrow projections, ZERO shuffle"),
    ("span_dedup", "exact substring dedup: staged-split window hashes, partial-agg min-(doc,pos) winner (map-side combine on hot spans), doc-keyed islands windows only — no window over the hash stream; AQE prints initial+final plans, so subtree counts appear doubled"),
    ("traj_graph", "trajectory transition graph: ONE lag window on the entity-key exchange the stay table already has + ONE (src,dst) hash aggregate with map-side combine — no join, no explode"),
    ("chunk_sequences", "padded chunk export: the pad is staged as one column, the chunks leave through posexplode_outer and an index null filter — no filter holds the chunk lambda, so each doc is chunked once"),
    ("shuffle_shards", "global shuffle->shards: ONE range exchange + per-partition offset mapInPandas (distributed zipWithIndex) — no single-partition global window. The plan shows only the assignment pass because the pinned range partitioning is a lazy localCheckpoint (the lineage-cut guard); the upstream is exactly one repartitionByRange + sortWithinPartitions"),
    ("pagerank", "integer-exact PageRank: per round ONE left equi-join (sparse rank state) + ONE partial-agg sum; lazy localCheckpoint cuts round lineage; constants re-enter once via anti-join"),
    ("edit_join", "edit-distance join: symmetric-delete neighborhoods staged once per join side (the minhash-pairs trade: regenerating the narrow variant stream is cheaper than materializing it), variant-hash equi-join (broadcast at test scale, shuffle+AQE at corpus scale), distinct candidates, JVM levenshtein verify — no cartesian product"),
    ("normalize_text", "unicode/whitespace canonicalization: two narrow JVM regex projections around ONE zero-shuffle mapInArrow stage (ASCII short-circuit + UAX #15 for the minority) — fixes byte forms at scan speed before anything hashes"),
]


def main() -> None:
    spark = get_spark("plans", master="local[4]")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# Physical plans (generated by tools/dump_plans.py)\n",
        "Formatted `.explain` output of the representative queries at "
        "sf0.001 — the artifact behind README `Design for scale` and the "
        "assertions in `tests/test_plan_audit.py`.\n",
    ]
    qs = {**E.queries(), **E.extra_queries()}
    for name, why in SHOW:
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().explainString(mode)
        out.append(f"\n## {name}\n\n*{why}*\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
