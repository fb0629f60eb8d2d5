"""Physical-plan audits: the plan properties that matter at 100 TB, asserted
at test scale. A query can be value-correct and still carry a plan that
collapses at 1000 executors — these tests pin the plan shape:

* filters reach the parquet scan (PushedFilters) and the scan reads only
  referenced columns (column pruning);
* dimension joins broadcast (no shuffle of the fact side);
* the as-of union strategy stays a single-shuffle window plan with no join
  node at all;
* bucketed candidate joins never degrade to a cartesian product;
* narrow expression pipelines stay in one whole-stage-codegen span with no
  exchange.
* no executed filter of the chunk export re-evaluates its chunk lambda.
* the pipeline's per-doc transform runs without an exchange or a window,
  and its plan builds in a bounded number of py4j commands.
* build_vocab's id pass reads its checkpointed range partitions, never a
  recomputed shuffle.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_and_column_pushdown(spark):
    # tpch_pricing folded to extras round 4
    plan = plan_str({**E.queries(), **E.extra_queries()}["tpch_pricing"](spark, SF_DIR))
    scan = [b for b in plan.split("\n\n") if "PushedFilters" in b][0]
    assert "PushedFilters" in scan and "l_shipdate" in scan.split("PushedFilters")[1].split("\n")[0]
    # projection pruned to the referenced columns only
    read_schema = scan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark):
    # orders_enrich folded to extras round 4 (its slot went to one
    # since-retired sketch query); the broadcast-dim-join promise it pins
    # is unchanged
    plan = plan_str(
        {**E.queries(), **E.extra_queries()}["orders_enrich"](spark, SF_DIR),
        "simple",
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_encode_broadcasts_vocab(spark):
    plan = plan_str(E.queries()["vocab_encode"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan


def all_queries():
    return {**E.queries(), **E.extra_queries()}


def test_contract_fits_driver_window():
    """Round-2 lesson: the driver evaluates only the FIRST 50 queries()
    entries — anything past that silently gets no CORRECTNESS row."""
    assert len(E.queries()) <= 50
    # every contract and extra query has a DuckDB oracle registered
    oracles = E.oracle_sql()
    registered = all_queries()
    missing = [n for n in registered if n not in oracles]
    assert not missing, f"queries without oracle: {missing}"
    # and the reverse: every name the registry's side tables hold is a
    # registered query, so retiring a query cannot leave a dead oracle,
    # rotation hint, bench headline or plan dump behind
    import bench

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import dump_plans

    shown = [name for name, _ in dump_plans.SHOW]
    hints = E.rotation_hints()
    named = {
        "oracle_sql": list(oracles),
        "carriers": list(hints["carriers"]),
        "foldable": list(hints["foldable"]),
        "bench.HEADLINE": list(bench.HEADLINE),
        "dump_plans.SHOW": shown,
    }
    dead = {
        where: [n for n in names if n not in registered]
        for where, names in named.items()
    }
    assert not any(dead.values()), f"names of no registered query: {dead}"
    # PLANS.md holds exactly SHOW's sections, in order, so a section cut by
    # hand cannot outlive its query (UTF-8: one plan holds a NUL literal)
    with open(os.path.join(REPO, "PLANS.md"), encoding="utf-8") as f:
        heads = [ln[3:].strip() for ln in f if ln.startswith("## ")]
    assert heads == shown


def test_asof_union_is_single_shuffle_no_join(spark):
    plan = plan_str(all_queries()["asof_union"](spark, SF_DIR), "simple")
    assert "Join" not in plan  # pure union + window, no join operator
    # one exchange for the (key) window; union sides scan independently
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_bucketed_candidate_joins_not_cartesian(spark):
    qs = all_queries()
    for name in ["minhash_pairs", "ngram_jaccard"]:
        plan = plan_str(qs[name](spark, SF_DIR), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_vocab_id_pass_reads_checkpointed_ranges(spark, tmp_path):
    """build_vocab's count pass and id pass must read ONE range-partitioned
    table: the ids are per-partition offsets from the collected counts, so
    an id pass that recomputed the range shuffle (boundaries sampled from a
    nondeterministically ordered distinct) could number rows the counts
    never saw. The id pass is the mapInPandas directly over the lazy
    localCheckpoint (Scan ExistingRDD) — no file scan, no exchange below."""
    from geofeaturegeneration_spark.operators import build_vocab

    path = str(tmp_path / "keys")
    spark.range(1000).select(
        (F.col("id") % 300).cast("string").alias("k")
    ).write.parquet(path)
    vocab = build_vocab(spark.read.parquet(path), "k")
    phys = vocab._jdf.queryExecution().executedPlan().toString()
    at = phys.find("MapInPandas")
    assert at != -1, phys
    below = phys[at:].split("\n")[1:]
    assert below and "Scan ExistingRDD[k" in below[0], phys
    assert not any("FileScan" in ln or "Exchange" in ln for ln in below), phys


def test_no_unconditioned_join_in_any_contract_query(spark):
    """Round-1 lesson: the audit checked selected plans and missed a
    cross join in negative_samples. Sweep EVERY contract + extra query,
    with no exemption: no CartesianProduct and no BroadcastNestedLoopJoin."""
    qs = all_queries()
    bad = {}
    for name, fn in qs.items():
        plan = plan_str(fn(spark, SF_DIR), "simple")
        hits = [
            op
            for op in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if op in plan
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"unconditioned joins: {bad}"


def test_narrow_exprs_no_exchange_codegen(spark):
    qs = all_queries()
    for name in ["grid_cantor", "time_features", "text_stats", "lang_id"]:
        df = qs[name](spark, SF_DIR)
        plan = plan_str(df, "simple")
        assert "Exchange" not in plan, name
        # '*(n)' prefix = operator inside a whole-stage-codegen span
        assert "*(1)" in plan, name
    # fingerprint reads a narrow single-file fixture through the explicit
    # parallelism-floor repartition — the ONLY allowed exchange is that
    # round-robin spread, never a hash/range shuffle
    plan = plan_str(qs["fingerprint"](spark, SF_DIR), "simple")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_salted_paths_never_single_partition(spark):
    qs = all_queries()
    for name in ["asof_salted", "stay_enrich"]:
        plan = plan_str(qs[name](spark, SF_DIR), "simple")
        assert "SinglePartition" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_series_matrix_is_sql_with_one_exchange(spark):
    """The (entity, period) matrix build is one aggregate over one hash
    exchange, padded by SQL expressions: no Python worker in the executed
    plan."""
    df = all_queries()["series_matrix"](spark, SF_DIR)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString()
    final = phys.split("== Initial Plan ==")[0]
    for node in ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPython"):
        assert node not in final, final
    assert final.count("Exchange") == 1, final


def test_pipeline_backfill_has_no_hot_key_join(spark, tmp_path):
    """jobs/run_pipeline.build_features is one projection per doc over its
    token array, read as the job reads it (Parquet): with AQE off the
    executed plan has no exchange, no window, no join, no Python node, and
    no ``Filter`` that holds a lambda (the rows leave through
    ``posexplode_outer`` and a null filter on the index)."""
    from geofeaturegeneration_spark.datagen import (
        generate_sequences,
        read_sequences,
        write_sequences,
    )
    from jobs.run_pipeline import build_features

    path = str(tmp_path / "seq")
    write_sequences(generate_sequences(spark, n_docs=5, seed=1), path)
    seq = read_sequences(spark, path)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        phys = build_features(seq)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    for node in ("Exchange", "Window", "Join", "Union", "Python", "Pandas", "Arrow"):
        assert node not in phys, f"{node}:\n{phys}"
    filters = [ln for ln in phys.splitlines() if "Filter" in ln]
    assert filters, phys  # the index null filter is there
    for line in filters:
        assert "lambda" not in line, phys


def test_pipeline_plan_builds_in_few_py4j_commands(spark, monkeypatch):
    """build_features is written as SQL text: building its plan on the
    driver sends 34 py4j commands, where the window composition it
    replaced sent 704 for this input, and ``Column`` lambdas send one or
    more per expression node. Deterministic: counts commands, not
    seconds. py4j's finalizer thread sends a delete command for each
    Python-side Java reference that is garbage-collected, through the same
    connection class and at times set by the collector, so only commands
    this thread sends, other than those deletes, are counted."""
    import threading

    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    from geofeaturegeneration_spark.datagen import generate_sequences
    from jobs.run_pipeline import build_features

    seq = generate_sequences(spark, n_docs=5, seed=1)
    sent = []
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == caller and not command.startswith(
            protocol.MEMORY_COMMAND_NAME
        ):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build_features(seq)
    monkeypatch.undo()
    assert 0 < len(sent) < 100, len(sent)


def test_sessionize_shuffles_only_on_entity(spark):
    plan = plan_str(E.queries()["sessionize_state"](spark, SF_DIR), "simple")
    # every exchange must partition on the entity key — no global shuffles
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "user_id" in line, line
        assert "SinglePartition" not in line, line
    # the WHOLE sessionization (boundary flag, cumulative session id, episode
    # aggregate, etime/stay_seq windows) runs on ONE entity-key shuffle: the
    # sub-keyed stages reuse HashPartitioning(entity) with local sorts only
    assert plan.count("Exchange") == 1, plan


def test_shingle_and_ngram_split_staged_once(spark):
    """The text split feeding shingles/bigrams must be evaluated ONCE per
    row (a staged alias / let-bound lambda variable), never inside a
    higher-order-function lambda body: HOF lambdas are CodegenFallback
    with no subexpression elimination, so a split captured as an
    EXPRESSION re-executes per element — O(words^2) characters per doc
    for shingles, O(words^3) for top_bigram_share (measured 9.1x on
    300-word docs; BASELINE.md "Shingle staging"). The optimized plan of
    each consumer must therefore contain exactly one split of the text
    column."""
    from geofeaturegeneration_spark.functions.text import (
        top_bigram_share,
        top_word_share,
    )
    from geofeaturegeneration_spark.operators import minhash_band_signatures
    from geofeaturegeneration_spark.operators.dedup import (
        minhash_band_signatures_rowwise,
        shingle_hashes,
    )

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id INT, text STRING")
    consumers = {
        "shingle_hashes": shingle_hashes(df, "doc_id", "text"),
        "band_sigs": minhash_band_signatures(df, "doc_id", "text"),
        "band_sigs_rowwise": minhash_band_signatures_rowwise(df, "doc_id", "text"),
        "top_word_share": df.select(top_word_share(F.col("text")).alias("s")),
        "top_bigram_share": df.select(top_bigram_share(F.col("text")).alias("s")),
    }
    for name, out in consumers.items():
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        n = plan.count("split(text")
        assert n == 1, f"{name}: expected 1 split of text, found {n}\n{plan}"


def test_span_dedup_plan_shape(spark):
    """span_dedup scale guards (round 4): (1) the text split is STAGED —
    exactly one split per branch (window-hash probe, winner aggregation,
    reassembly base = 3 total), never re-executed inside the shingle
    lambda (the O(words^2) HOF-capture trap); (2) the per-hash winner comes
    from a partial-agg groupBy whose map-side min-struct shrinks a span
    duplicated 10^8 times to one row per map task — NO window function ever
    partitions by the corpus-wide window hash (every Window is doc-keyed,
    bounded by one document's loser count)."""
    from geofeaturegeneration_spark.operators import span_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id INT, text STRING"
    )
    out = span_dedup(df, "doc_id", "text", k=4)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    n = opt.count("split(text")
    assert n == 3, f"expected 3 staged splits (one per branch), found {n}\n{opt}"
    for line in opt.splitlines():
        if "Window [" in line:
            assert "_h#" not in line, f"window over the hash stream:\n{line}"
    phys = out._jdf.queryExecution().toString()
    assert "partial_min" in phys or "partial" in phys.lower()


def test_chunk_export_filters_hold_no_lambda(spark):
    """chunk_sequences emits its chunks with ``posexplode_outer`` and a
    null filter on the index. A plain ``posexplode`` over the staged chunk
    array lets InferFiltersFromGenerate plus pushdown copy the whole
    ``transform(sequence(...))`` into a filter, which evaluates it again
    per row: superlinear in doc length. No executed ``Filter`` of either
    form, disjoint or strided, may hold a lambda."""
    from geofeaturegeneration_spark.operators import chunk_sequences

    df = spark.createDataFrame(
        [("d", list(range(100)))], "doc_id STRING, tokens ARRAY<INT>"
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for stride in (None, 3):
            out = chunk_sequences(df, "tokens", 8, stride=stride)
            phys = out._jdf.queryExecution().executedPlan().toString()
            filters = [ln for ln in phys.splitlines() if "Filter" in ln]
            assert filters, phys  # the index null filter is there
            for line in filters:
                assert "lambda" not in line, f"stride={stride}:\n{phys}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_top_customers_global_window_is_post_limit(spark):
    """The only partition-less window in the tree (the rank in
    top_customers, extras) must run AFTER the TakeOrdered/limit — i.e. over
    exactly k rows — so the `WindowExec: No Partition Defined` warning is
    provably bounded, never a global sort of the customer table. Pinned by
    asserting the window's child plan contains the limit."""
    df = E.extra_queries()["top_customers"](spark, SF_DIR)
    phys = df._jdf.queryExecution().executedPlan().toString()
    # the Window node must sit above a GlobalLimit/TakeOrdered, not above
    # an Exchange of the full aggregate
    win_at = phys.find("Window")
    assert win_at != -1
    below = phys[win_at:]
    limit_at = min(
        [p for p in (below.find("GlobalLimit"), below.find("TakeOrdered")) if p != -1]
        or [-1]
    )
    assert limit_at != -1, f"no limit below the global window:\n{phys}"


def test_rotation_policy_current():
    """Round-5 rotation-as-policy gate: the planner (driver-verification
    history x rotation_hints) must agree the current window needs no
    further rotation — every registered query either has a driver
    CORRECTNESS row or an in-registry carrier — and any future proposal
    must keep the window within the driver's measured 50-entry limit."""
    import sys as _sys
    sys_path_added = False
    import os as _os
    root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    tools = _os.path.join(root, "tools")
    if tools not in _sys.path:
        _sys.path.insert(0, tools)
        sys_path_added = True
    try:
        import rotation

        p = rotation.plan(E)
        assert p["new_window_size"] <= 50
        # every never-driver-verified registered query has a carrier whose
        # plan exercises its machinery (else the planner would promote it)
        hints = E.rotation_hints()
        carrierless = [
            k for k in p["never_driver_verified"]
            if k not in hints["carriers"]
        ]
        assert not carrierless, (
            f"queries with unverified standalone machinery: {carrierless} "
            "— rotate them into the window or declare a carrier"
        )
        # carriers must reference registered queries (no dangling names)
        registered = set(p["window"]) | set(p["extras"])
        dangling = {
            k: c for k, c in hints["carriers"].items() if c not in registered
        }
        assert not dangling, f"carrier names not registered: {dangling}"
        # coverage must bottom out in a real driver row: a never-verified
        # query's carrier must be in-window (earning fresh rows) or have
        # at least one green CORRECTNESS round of its own
        assert not p["weak_carriers"], (
            f"carrier chains with no driver row anywhere: "
            f"{p['weak_carriers']}"
        )
    finally:
        if sys_path_added:
            _sys.path.remove(tools)
