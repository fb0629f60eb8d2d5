"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline additions: dedup, text analysis) as
(spark, sf_dir) -> DataFrame callables; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for each.

Cross-engine determinism rules used throughout (validated empirically):
* the only hash primitive is md5 -> first 15 hex chars as int64
  (Spark ``conv(substring(md5(x),1,15),16,10)`` == DuckDB
  ``('0x'||substr(md5(x),1,15))::BIGINT``);
* epoch seconds = Spark ``unix_timestamp`` (floor) == DuckDB
  ``epoch_us(ts)//1000000`` (NOT ``epoch(ts)::BIGINT``, which rounds);
* float aggregates are rounded before output;
* count/row_number/sum-of-int results are cast so both engines emit the
  same integer width (DuckDB sum(int)->HUGEINT, row_number->BIGINT would
  otherwise mismatch Spark's long/int).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geofeaturegeneration_spark.functions import text as X
from geofeaturegeneration_spark.functions.grid import (
    cantor_pair,
    cantor_unpair_x,
    cantor_unpair_y,
    geohash_encode,
    gps_to_latcol,
    gps_to_loncol,
    grid_to_centre_lat,
    grid_to_centre_lon,
    with_geohash,
)
from geofeaturegeneration_spark.operators import (
    asof_join,
    build_vocab,
    chunk_sequences,
    encode_with_vocab,
    edit_join,
    edit_join_cross,
    exact_dedup,
    interaction_matrix,
    lag_lead_features,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ordered_tokens,
    pivot_counts,
    reassemble_chunks,
    rolling_features,
    sessionize_gap,
    sessionize_state_change,
    simhash,
    stay_move,
)
from geofeaturegeneration_spark.operators.windows import (
    decimate,
    minmax_normalize,
    sliding_subsequences,
)
from geofeaturegeneration_spark.operators.matrix import series_to_matrix
from geofeaturegeneration_spark.operators.split import hash_split, negative_samples
from geofeaturegeneration_spark.operators.util import ensure_min_partitions

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
GRID_PARAMS = {"slon": 116.0, "slat": 39.5, "deltalon": 0.01, "deltalat": 0.008}
SEQ_LEN = 32
TOKEN_MOD = 30000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _arr_csv(col) -> F.Column:
    """Engine-portable scalar canonicalization of an array column: the
    comma-joined element string (DuckDB: ``array_to_string(arr, ',')``).
    The driver harness canonicalizes result frames with a pandas
    ``sort_values`` over every column, which cannot hash list cells — so
    contract queries emit arrays as this scalar; the library API and pytest
    keep the real array outputs. NULL arrays stay NULL (concat_ws would
    otherwise collapse them to '')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(), F.concat_ws(",", c.cast("array<string>"))
    )


def _darr_csv(col) -> F.Column:
    """Same, for double arrays: elements pass through round(x*1e6) -> BIGINT
    before joining (DuckDB: ``array_to_string(list_transform(arr, x ->
    round(x*1000000)::BIGINT), ',')``). Double->string formatting differs
    between engines (Spark '1.0E-6' vs DuckDB '0.000001'); the integer route
    is bit-deterministic because both engines share IEEE doubles and
    half-away-from-zero round. Values are clamped to +-4e12 first — beyond
    that the *1e6 scale overflows BIGINT's range and BOTH engines throw on
    the cast (ANSI here, range-checked cast in DuckDB); the clamp is
    mirrored in every SQL twin, so parity holds out to arbitrary doubles
    (found by tools/fuzz_oracle.py with 1e15 event values)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(),
        F.concat_ws(
            ",",
            F.transform(
                c,
                lambda x: F.round(
                    F.greatest(F.least(x, F.lit(4e12)), F.lit(-4e12)) * 1000000
                ).cast("long").cast("string"),
            ),
        ),
    )


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a parallelism floor: the test fixture is one small
    single-row-group file (scan = 1 task), but the dedup/shingle operators
    downstream are CPU-bound (md5 per shingle). ensure_min_partitions is a
    no-op when the source is already wide (real deployments)."""
    return ensure_min_partitions(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: sessionize event streams into stays,
    point-in-time backfill of the latest purchase value (zero leakage), then
    lag/lead context features — the reference's trajectory->feature-matrix
    transform re-expressed Spark-first."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    stays = sessionize_state_change(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        keep_cols=["value"], order_cols=["event_id"],
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("last_purchase_value"),
    )
    feat = asof_join(
        stays, purchases, ["user_id"], "stime", "p_ts", ["last_purchase_value"]
    )
    return lag_lead_features(
        feat, ["user_id"], "stime", ["duration_s"], lags=[1], leads=[1]
    )


# ---------------------------------------------------------------------------
# query implementations (Spark side)
# ---------------------------------------------------------------------------

def q_tpch_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_orders_enrich(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_top_customers(spark, sf_dir):
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    # top-k via distributed sort+limit (TakeOrdered) FIRST; the rank window
    # then runs over only k rows — never a global window over all customers
    order = [F.col("revenue").desc(), F.col("o_custkey").asc()]
    top = rev.orderBy(*order).limit(10)
    w = W.orderBy(*order)
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .join(F.broadcast(c), top.o_custkey == c.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"), "c_name",
            "revenue", "n_orders", "rnk",
        )
    )


def q_sessionize_gap(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize_gap(
        ev,
        ["user_id"],
        "ts",
        gap_s=1800.0,
        agg_exprs={"sum_value": F.sum("value")},
    )
    return out.select(
        "user_id",
        "session_id",
        "stime",
        "etime",
        "n_events",
        "duration_s",
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_sessionize_state(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize_state_change(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        keep_cols=["value"], order_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "stay_seq",
        "event_type",
        "stime",
        "etime",
        "duration_s",
        "n_rows",
        F.col("value").alias("first_value"),
    )


def q_stay_move(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    _, moves = stay_move(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        order_cols=["event_id"],
    )
    return moves.select(
        "user_id",
        "move_seq",
        "s_event_type",
        "e_event_type",
        "move_stime",
        "move_etime",
        "duration_s",
    )


def q_stay_move_spliced(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    _, moves = stay_move(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        splice_endpoints=True, order_cols=["event_id"],
    )
    return moves.select(
        "user_id",
        "move_seq",
        "s_event_type",
        "e_event_type",
        "move_stime",
        "move_etime",
        "duration_s",
    )


def q_traj_graph(spark, sf_dir):
    """Directed state-transition graph over each user's stay sequence — the
    reference's declared-but-never-shipped TrajectoryGraph output
    (README.md:63, Parameters.json:73-77 reserve ``OutputType: graph`` with
    no code path). Stays come from the same state-change sessionization as
    the in-window sessionize_state query; one lag window over the
    entity-keyed shuffle it already has, then one (src,dst) groupBy."""
    from geofeaturegeneration_spark.operators import trajectory_graph

    ev = _t(spark, sf_dir, "events")
    stays = sessionize_state_change(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        order_cols=["event_id"],
    )
    return trajectory_graph(stays, ["user_id"], "stime", "event_type")


def q_graph_nodes(spark, sf_dir):
    """Node-degree feature vectors from the traj_graph edge table (out/in
    transition totals + distinct-neighbor degrees) — one union + groupBy
    over an already-tiny edge table."""
    from geofeaturegeneration_spark.operators import (
        node_features,
        trajectory_graph,
    )

    ev = _t(spark, sf_dir, "events")
    stays = sessionize_state_change(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        order_cols=["event_id"],
    )
    return node_features(trajectory_graph(stays, ["user_id"], "stime", "event_type"))


def _asof_inputs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    return left, right


def q_asof_union(spark, sf_dir):
    left, right = _asof_inputs(spark, sf_dir)
    return asof_join(
        left, right, ["user_id"], "ts", "click_ts", ["click_value"], strategy="union"
    )


def q_asof_salted(spark, sf_dir):
    left, right = _asof_inputs(spark, sf_dir)
    # low threshold forces the salted path so the oracle proves it exact
    return asof_join(
        left, right, ["user_id"], "ts", "click_ts", ["click_value"],
        strategy="salted", hot_key_threshold=5, n_salts=4,
    )


def q_lag_lead(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = lag_lead_features(
        ev, ["user_id"], "ts", ["value"], lags=[1, 2], leads=[1]
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        "value_lag1", "value_delta1", "value_lag2", "value_delta2",
        "value_lead1", "gap_s_lag1",
    )


def q_rolling(spark, sf_dir):
    """Row frame AND range frame in one contract query (folded so both
    frame types keep a green driver row inside the 50-entry window; the
    standalone range variant stays in extra_queries). Both windows share
    partitionBy(user_id) — one exchange serves the stacked passes."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_features(ev, ["user_id"], "ts", "value", n_preceding=3)
    out = rolling_features(
        out, ["user_id"], "ts", "value", range_seconds=1800, out_prefix="rng_"
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round("value_roll_avg", 6).alias("roll_avg"),
        F.round("value_roll_sum", 6).alias("roll_sum"),
        F.col("value_roll_min").alias("roll_min"),
        F.col("value_roll_max").alias("roll_max"),
        F.round("value_cum_sum", 6).alias("cum_sum"),
        "row_idx",
        F.round("rng_roll_avg", 6).alias("rng_avg"),
        F.round("rng_roll_sum", 6).alias("rng_sum"),
        F.col("rng_roll_min").alias("rng_min"),
        F.col("rng_roll_max").alias("rng_max"),
    )


def q_rolling_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_features(ev, ["user_id"], "ts", "value", range_seconds=1800)
    return out.select(
        "event_id", "user_id", "ts",
        F.round("value_roll_avg", 6).alias("roll_avg"),
        F.round("value_roll_sum", 6).alias("roll_sum"),
        F.col("value_roll_min").alias("roll_min"),
        F.col("value_roll_max").alias("roll_max"),
        F.round("value_cum_sum", 6).alias("cum_sum"),
        "row_idx",
    )


def q_pivot_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return pivot_counts(ev, "user_id", "event_type", values=EVENT_TYPES)


def q_interaction(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return interaction_matrix(ev, "user_id", "event_type")


def q_vocab(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    wordsdf = docs.select(F.explode(X.words(F.col("text"))).alias("word"))
    return build_vocab(wordsdf, "word", id_col="vocab_id")


def q_vocab_encode(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    vocab = build_vocab(ev, "event_type", id_col="vocab_id")
    return encode_with_vocab(
        ev.select("event_id", "event_type"), vocab, "event_type"
    ).select("event_id", "event_type", "vocab_id")


def _doc_tokens(spark, sf_dir):
    docs = _docs_wide(spark, sf_dir)
    exploded = docs.select(
        "doc_id", F.posexplode(X.words(F.col("text"))).alias("pos", "word")
    ).withColumn("tid", (X.md5_long(F.col("word")) % TOKEN_MOD).cast("int"))
    return ordered_tokens(
        exploded, ["doc_id"], "pos", "tid", out_col="tokens",
        num_partitions=spark.sparkContext.defaultParallelism,
    )


def q_tokens_ordered(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    return toks.select(
        "doc_id", F.size("tokens").alias("n_tok"), _arr_csv("tokens").alias("tokens")
    )


def q_chunks(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir)
    return chunk_sequences(toks, "tokens", SEQ_LEN).select(
        "doc_id", "chunk_idx", _arr_csv("chunk").alias("chunk")
    )


def q_chunk_strided(spark, sf_dir):
    """Overlapping-window chunking (stride 16 at seq_len 32 — GPT-style
    sliding context: each training row carries 16 tokens of left
    context). Oracle replays window membership row-wise: padded position
    p belongs to window i iff i*stride < p <= i*stride + seq_len."""
    toks = _doc_tokens(spark, sf_dir)
    return chunk_sequences(
        toks, "tokens", SEQ_LEN, stride=SEQ_LEN // 2
    ).select("doc_id", "chunk_idx", _arr_csv("chunk").alias("chunk"))


def q_token_roundtrip(spark, sf_dir):
    toks = _doc_tokens(spark, sf_dir).withColumn("n_tok", F.size("tokens"))
    chunks = chunk_sequences(
        toks.select("doc_id", "n_tok", "tokens"), "tokens", SEQ_LEN
    )
    back = reassemble_chunks(chunks, ["doc_id"], n_col="n_tok")
    return back.select("doc_id", "n_tok", _arr_csv("tokens").alias("tokens"))


def q_dedup_exact(spark, sf_dir):
    docs = _docs_wide(spark, sf_dir)
    return exact_dedup(docs, "doc_id", "text")


def q_minhash_pairs(spark, sf_dir):
    docs = _docs_wide(spark, sf_dir)
    return minhash_lsh_pairs(docs, "doc_id", "text", k=3, n_hashes=16, bands=4)


def q_minhash_cross(spark, sf_dir):
    """Incremental-ingest dedup shape: screen the odd-id half (the 'new
    batch') against the even-id half (the 'existing corpus')."""
    from geofeaturegeneration_spark.operators import minhash_lsh_pairs_cross

    docs = _docs_wide(spark, sf_dir)
    return minhash_lsh_pairs_cross(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        "doc_id", "text", k=3, n_hashes=16, bands=4,
    )


def q_dedup_clusters(spark, sf_dir):
    """Pairwise near-dup hits -> connected components -> one keeper per
    cluster (iterative min-label propagation; the oracle reaches the same
    fixpoint with a recursive CTE)."""
    from geofeaturegeneration_spark.operators import dedup_clusters

    docs = _docs_wide(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, n_hashes=16, bands=4)
    return dedup_clusters(docs, "doc_id", pairs)


def q_leakage_split(spark, sf_dir):
    """Train/test split drawn on the dedup CLUSTER, not the doc id
    (operators/split.py:leakage_safe_split): near-duplicates never
    straddle the boundary. The cluster assignment is the in-window
    dedup_clusters pipeline; the oracle extends its recursive-CTE
    fixpoint with the same md5 bucket on cluster_id."""
    from geofeaturegeneration_spark.operators import (
        dedup_clusters,
        leakage_safe_split,
    )

    docs = _docs_wide(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", k=3, n_hashes=16, bands=4)
    clusters = dedup_clusters(docs, "doc_id", pairs).select(
        "doc_id", "cluster_id"
    )
    return leakage_safe_split(
        docs.select("doc_id"), "doc_id", clusters
    ).select("doc_id", "split_bucket", "is_test")


def q_edit_join(spark, sf_dir):
    """Edit-distance similarity self-join (round 4): every doc pair whose
    24-char ascii_key canonical forms are within Levenshtein distance 1,
    with the exact distance — the character-level dedup sibling (minhash =
    token shingles, simhash = bits, edit_join = chars). Blocking is the
    symmetric-delete neighborhood (provably complete, so the result is
    EXACTLY the quadratic levenshtein join the oracle runs); ascii_key
    strips to [a-z0-9 ] first so Spark and DuckDB levenshtein count the
    same edits even on hostile unicode (fuzz gate)."""
    docs = _docs_wide(spark, sf_dir)
    keyed = docs.select("doc_id", X.ascii_key(F.col("text"), 24).alias("key"))
    return edit_join(keyed, "doc_id", "key", max_dist=1)


def q_edit_join_cross(spark, sf_dir):
    """Incremental-ingest shape of the in-window edit_join: screen the
    odd-doc_id half (the 'new batch') against the even half (the
    'existing corpus') — same complete symmetric-delete blocking, corpus
    side persistable via edit_variant_table."""
    docs = _docs_wide(spark, sf_dir)
    keyed = docs.select("doc_id", X.ascii_key(F.col("text"), 24).alias("key"))
    batch = keyed.filter(F.col("doc_id") % 2 == 1)
    corpus = keyed.filter(F.col("doc_id") % 2 == 0)
    return edit_join_cross(batch, corpus, "doc_id", "key", max_dist=1)


def q_pagerank(spark, sf_dir):
    """TextRank-shaped PageRank (round 4): the corpus word-adjacency graph
    (distinct consecutive-word pairs, self-loops dropped) ranked by
    integer-exact PageRank — keyword importance over the documents table
    (Mihalcea & Tarau 2004 applied the same recurrence to exactly this
    graph). Every arithmetic step is int64 floor-division/summation, so
    the DuckDB oracle replays the 5 iterations as an unrolled CTE chain
    bit-for-bit."""
    from geofeaturegeneration_spark.operators import pagerank

    docs = _docs_wide(spark, sf_dir)
    w = docs.select(
        F.posexplode(X.words(F.col("text"))).alias("pos", "w"), "doc_id"
    )
    from pyspark.sql import Window as W

    nxt = w.select(
        "doc_id", "pos", F.col("w").alias("src"),
        F.lead("w").over(
            W.partitionBy("doc_id").orderBy("pos")
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    edges = nxt.select("src", "dst").distinct()
    return pagerank(edges, n_iter=5).select(
        F.col("node").alias("word"), "rank"
    )


def q_traj_pagerank(spark, sf_dir):
    """Weighted PageRank over the trajectory transition graph (edge weight
    = n_trips): location importance — the PoI-significance feature the
    reference's declared graph output would feed. Same exact integer
    recurrence as the in-window pagerank, weighted form."""
    from geofeaturegeneration_spark.operators import pagerank, trajectory_graph

    ev = _t(spark, sf_dir, "events")
    stays = sessionize_state_change(
        ev, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        order_cols=["event_id"],
    )
    edges = trajectory_graph(stays, ["user_id"], "stime", "event_type")
    return pagerank(
        edges, n_iter=5, weight_col="n_trips"
    ).select(F.col("node"), "rank")


def q_edit_clusters(spark, sf_dir):
    """Edit-distance pairs -> connected components -> one keeper per
    cluster: the keeper-selection composition for the character-level
    dedup family (same min-label fixpoint as the in-window
    dedup_clusters, fed by edit_join instead of minhash)."""
    from geofeaturegeneration_spark.operators import dedup_clusters

    docs = _docs_wide(spark, sf_dir)
    keyed = docs.select("doc_id", X.ascii_key(F.col("text"), 24).alias("key"))
    pairs = edit_join(keyed, "doc_id", "key", max_dist=1)
    return dedup_clusters(docs, "doc_id", pairs)


def q_ngram_jaccard(spark, sf_dir):
    """max_doc_freq=5 exercises the explicit hot-shingle cap (drops 29
    shingles and shifts 13 jaccard values at sf0.01 vs uncapped, so the
    driver row proves the capped semantics, not just the happy path)."""
    docs = _docs_wide(spark, sf_dir)
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.4, max_doc_freq=5
    )


def q_simhash(spark, sf_dir):
    docs = _docs_wide(spark, sf_dir)
    return simhash(docs, "doc_id", "text", bits=32)


def q_simhash_pairs(spark, sf_dir):
    from geofeaturegeneration_spark.operators import simhash_pairs

    docs = _docs_wide(spark, sf_dir)
    return simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=3)


def q_minhash_sigs(spark, sf_dir):
    from geofeaturegeneration_spark.operators import minhash_signatures

    docs = _docs_wide(spark, sf_dir)
    return minhash_signatures(docs, "doc_id", "text", k=3, n_hashes=8)


def q_interaction_wide(spark, sf_dir):
    from geofeaturegeneration_spark.operators.pivot import interaction_matrix_wide

    ev = _t(spark, sf_dir, "events")
    return interaction_matrix_wide(ev, "user_id", "event_type", items=EVENT_TYPES)


def q_text_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        X.n_words(t).alias("n_words"),
        X.token_count(t).alias("n_tokens"),
        F.round(X.avg_word_len(t), 6).alias("avg_word_len"),
        F.round(X.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(X.stopword_ratio(t), 6).alias("stopword_ratio"),
        X.quality_score(t).alias("quality"),
    )


def q_repetition(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(X.dup_word_fraction(t), 6).alias("dup_word_frac"),
        F.round(X.top_word_share(t), 6).alias("top_word_share"),
        F.round(X.top_bigram_share(t), 6).alias("top_bigram_share"),
        F.round(X.dup_line_fraction(t), 6).alias("dup_line_frac"),
    )


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", X.lang_id(F.col("text")).alias("pred_lang"))


def q_fingerprint(spark, sf_dir):
    docs = _docs_wide(spark, sf_dir)
    return docs.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))


def q_minmax(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = minmax_normalize(ev, "value", group_cols=["event_type"])
    return out.select(
        "event_id", "event_type", F.round("value_norm", 6).alias("value_norm")
    )


def q_decimate(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return decimate(ev, ["user_id"], "ts", n=5).select("event_id", "user_id", "ts")


def q_sliding(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    out = sliding_subsequences(ev, ["user_id"], "ts", "event_id", seq_len=3)
    return out.select("user_id", "ts", _arr_csv("query").alias("query"), F.col("pos"))


def q_grid(spark, sf_dir):
    """Grid + Cantor round-trip over synthetic coordinates. The strict
    bounds filter mirrors the reference's §2.2 area filter (coordinates
    outside the study area are dropped BEFORE gridding,
    Test/GeoFeatureGenerationClass.py strict < >) — it is also what keeps
    the Cantor pair inside int64: the pair is quadratic in the grid
    indices, so unbounded coordinates (a corrupt GPS row at 1e15) would
    overflow the pairing on any engine (found by tools/fuzz_oracle.py)."""
    ev = _t(spark, sf_dir, "events")
    lon = F.lit(116.0) + F.col("value") / 1000.0
    lat = F.lit(39.5) + F.col("value") / 2000.0
    g = (
        ev.select("event_id", lon.alias("_lon"), lat.alias("_lat"))
        .filter(
            (F.col("_lon") > 116.0) & (F.col("_lon") < 116.4)
            & (F.col("_lat") > 39.5) & (F.col("_lat") < 39.7)
        )
        .select(
            "event_id",
            gps_to_loncol(F.col("_lon"), GRID_PARAMS).alias("loncol"),
            gps_to_latcol(F.col("_lat"), GRID_PARAMS).alias("latcol"),
        )
        .withColumn("grid", cantor_pair(F.col("loncol"), F.col("latcol")))
    )
    return g.select(
        "event_id", "loncol", "latcol", "grid",
        cantor_unpair_x(F.col("grid")).alias("ux"),
        cantor_unpair_y(F.col("grid")).alias("uy"),
        F.round(grid_to_centre_lon(F.col("loncol"), GRID_PARAMS), 6).alias("centre_lon"),
        F.round(grid_to_centre_lat(F.col("latcol"), GRID_PARAMS), 6).alias("centre_lat"),
    )


def q_geohash(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    lon = F.lit(116.0) + F.col("value") / 1000.0
    lat = F.lit(39.5) + F.col("value") / 2000.0
    return with_geohash(ev, lat, lon, {"gh7": 7, "gh5": 5}).select(
        "event_id", "gh7", "gh5"
    )


def q_series_matrix(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = series_to_matrix(
        ev, "user_id", "ts", ["value"], max_rows=24, period="week"
    )
    return out.select(
        "user_id", "period_start", "n_rows",
        _darr_csv(F.flatten("matrix")).alias("matrix"),
    )


def q_hash_split(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs.select("doc_id"), "doc_id", test_pct=20).select(
        "doc_id", "split_bucket", "is_test"
    )


def q_negative_samples(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    inter = ev.select(
        "user_id",
        gps_to_loncol(F.lit(116.0) + F.col("value") / 1000.0, GRID_PARAMS).alias("g"),
    ).select("user_id", F.col("g").alias("grid"))
    items = inter.select("grid").distinct()
    # n_candidates forces the hash-sampled candidate path — the contract
    # plan must contain no unconditioned entities x items join
    return negative_samples(inter, items, "user_id", "grid", k=3, n_candidates=32)


def q_stay_enrich(spark, sf_dir):
    """The reference's central join (AttachFeature.py:464): stays left-join
    the grid-bucketed category aggregates on grid, missing -> 0, broadcast
    small side."""
    ev = _t(spark, sf_dir, "events")
    withg = ev.withColumn(
        "grid", gps_to_loncol(F.lit(116.0) + F.col("value") / 1000.0, GRID_PARAMS)
    )
    poi = pivot_counts(withg, "grid", "event_type", values=EVENT_TYPES)
    stays = sessionize_state_change(
        withg, ["user_id"], "ts", "event_type", min_duration_s=600.0,
        keep_cols=["grid"], order_cols=["event_id"],
    )
    return (
        stays.join(F.broadcast(poi), "grid", "left")
        .na.fill({c: 0 for c in EVENT_TYPES})
        .select(
            "user_id", "stay_seq", "grid", "stime", "etime", "duration_s",
            *EVENT_TYPES,
        )
    )


def q_contrastive(spark, sf_dir):
    from geofeaturegeneration_spark.operators.split import contrastive_samples

    ev = _t(spark, sf_dir, "events")
    withg = ev.withColumn(
        "grid", gps_to_loncol(F.lit(116.0) + F.col("value") / 1000.0, GRID_PARAMS)
    )
    items = withg.select("grid").distinct()
    out = contrastive_samples(
        withg, "user_id", "ts", "event_id", items, "grid", seq_len=3, k_neg=3,
        n_candidates=32,
    )
    return out.select(
        "user_id", "ts", _arr_csv("query").alias("query"), "pos",
        _arr_csv("neg").alias("neg"),
    )


def q_time_features(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts")
    return ev.select(
        "event_id",
        F.weekofyear(ts).alias("week_of_year"),
        ((F.dayofweek(ts) + 5) % 7).alias("day_of_week"),
        F.dayofyear(ts).alias("day_of_year"),
        F.quarter(ts).alias("quarter"),
        F.month(ts).alias("month"),
        F.hour(ts).alias("hour"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver contract. HARD CONSTRAINT (measured in round 2): the
    driver evaluates only the FIRST 50 dict entries — round 2 registered 55
    and the last five got no CORRECTNESS row. This dict therefore holds
    at most 50 entries; tools/rotation.py chooses which. Physical-strategy
    twins and folded variants live in ``extra_queries()`` — same oracle
    discipline, checked by tools/compare_oracle.py and pytest, just
    outside the driver window."""
    return {
        # --- round 5: the six operators (two since retired) whose
        # distinctive machinery never had a driver CORRECTNESS row,
        # promoted by the rotation POLICY
        # (tools/rotation.py: CORRECTNESS_r01-r04 history joined against
        # rotation_hints(); this window is the tool's verbatim proposal).
        # Slots freed by folding series_matrix, contrastive, hash_split,
        # repetition, multimodal_meta (since retired), grid_cantor — each
        # long driver-green with its machinery still covered in-window or
        # by pytest (reasons recorded in rotation_hints()["foldable"] and at
        # their new extra_queries() entries) ---
        "chunk_strided": q_chunk_strided,
        "edit_join_cross": q_edit_join_cross,
        "epoch_upsample": q_epoch_upsample,
        "leakage_split": q_leakage_split,
        # --- driver-green in earlier rounds ---
        "stay_enrich": q_stay_enrich,
        "negative_samples": q_negative_samples,
        # --- new operators round 3 (never driver-run): next in line ---
        "decontaminate": q_decontaminate,
        "rare_tokens": q_rare_tokens,
        "pii_scrub": q_pii_scrub,
        "line_dedup": q_line_dedup,
        # round-4 text-rewrite operators, promoted for first driver rows:
        # slots freed by folding minhash_cross (the cross-corpus form of
        # the in-window minhash_pairs — same signature+banding machinery,
        # green rows r01-r03) and a since-retired query into
        # extra_queries()
        "clean_lines": q_clean_lines,
        "normalize_text": q_normalize_text,
        # round-3 late addition: a driver slot freed by folding the
        # simhash and minhash_sigs STAGE queries into extra_queries() —
        # their code paths stay driver-verified through the end-product
        # queries that compose them (simhash_pairs, minhash_pairs/cross)
        "quality_filter": q_quality_filter,
        # round 4: the last two operators with no driver row ever — slots
        # freed by folding `vocab` (the literal first stage of vocab_encode,
        # which stays in-window) and `token_roundtrip` (a property test of
        # chunk_sequences; byte-equality stays pinned in tests/test_sequence
        # .py) into extra_queries()
        "source_quota": q_source_quota,
        "source_sample": q_source_sample,
        # round 4: exact substring-level dedup (new operator) — slot freed
        # by folding `fingerprint` (the literal first stage of dedup_exact,
        # which stays in-window) into extra_queries()
        "span_dedup": q_span_dedup,
        # round 4: trajectory transition graph (the reference's declared
        # TrajectoryGraph output, never shipped there) — slot freed by
        # folding `decimate` (a two-expression row filter, driver-green
        # r01-r03) into extra_queries()
        "traj_graph": q_traj_graph,
        # round 4: deterministic global shuffle->shard export (new
        # operator) — slot freed by folding `time_features` (pure calendar
        # column expressions, driver-green r01-r03) into extra_queries()
        "shuffle_shards": q_shuffle_shards,
        # round 4 (this session): edit-distance fuzzy join (new operator —
        # the character-level member of the dedup family) — slot freed by
        # folding `ngram_jaccard` (driver-green r01-r03; the shingle-based
        # dedup family keeps minhash_pairs / simhash_pairs / dedup_exact /
        # dedup_clusters / span_dedup in-window) into extra_queries()
        "edit_join": q_edit_join,
        # round 4 (this session): integer-exact PageRank (new operator —
        # TextRank keyword scoring over the corpus bigram graph; the
        # link-graph quality-prior machinery for web-scale curation) —
        # slot freed by folding `sessionize_gap` (driver-green r01-r03;
        # the sessionization family keeps sessionize_state +
        # stay_move_spliced + asof_salted in-window) into extra_queries()
        "pagerank": q_pagerank,
        # --- the rest of the contract ---
        "sessionize_state": q_sessionize_state,
        "stay_move_spliced": q_stay_move_spliced,
        "asof_salted": q_asof_salted,
        "lag_lead": q_lag_lead,
        "rolling": q_rolling,  # folded: rows frame + range frame
        "pivot_counts": q_pivot_counts,
        "vocab_encode": q_vocab_encode,
        "chunk_sequences": q_chunks,
        "dedup_exact": q_dedup_exact,
        "minhash_pairs": q_minhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "simhash_pairs": q_simhash_pairs,
        "text_stats": q_text_stats,
    }


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: flag training docs sharing any 3-word
    shingle with a benchmark set (here: every 97th doc plays the eval
    set — both sides derive deterministically from the documents table).
    The benchmark shingle set is broadcast; corpus side is one explode +
    one groupBy — the C4/GPT-3 n-gram-overlap rule at corpus scale."""
    from geofeaturegeneration_spark.operators import decontaminate

    docs = _docs_wide(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    return decontaminate(train, "doc_id", "text", bench, "bid", "btext", k=3)


def q_source_quota(spark, sf_dir):
    """Mixing-recipe primitive: keep at most 50 docs per source, chosen by
    the smallest md5(id#mix) — a deterministic draw reproducible across
    engines, re-runs, and cluster sizes."""
    from geofeaturegeneration_spark.operators import source_quota

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return source_quota(docs, "doc_id", quota=50, by="source")


def q_source_sample(spark, sf_dir):
    """Ratio form of the mixing recipe: src0 kept at 80%, src1 at 30%,
    everything else dropped — one broadcast join + a filter, the draw a
    pure function of doc_id so the sample is stable and monotone under
    rate increases."""
    from geofeaturegeneration_spark.operators import source_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return source_sample(
        docs, "doc_id", {"src0": 800_000, "src1": 300_000}
    )


def q_epoch_upsample(spark, sf_dir):
    """Repetition form of the mixing recipe
    (operators/curation.py:epoch_upsample): src0 at 2.3 epochs (two
    guaranteed copies + a 30% hash-drawn third), src1 at 0.7 (the
    sub-1.0 draw degrades to source_sample), everything else exactly one
    copy — one broadcast rate join + one linear explode(sequence),
    copies numbered by a 1-based epoch column."""
    from geofeaturegeneration_spark.operators import epoch_upsample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_upsample(
        docs, "doc_id", {"src0": 2_300_000, "src1": 700_000}
    )


_SPAN_DISC = (
    "this document is provided as is without warranty of any kind whatsoever"
)


def q_span_dedup(spark, sf_dir):
    """Exact substring-level dedup at 8-token window granularity (the Lee
    et al. verbatim-span modality). Every third doc gets the same 12-word
    disclaimer appended (identically in the SQL oracle): the span survives
    only in the smallest such doc_id and is cut everywhere else, while
    organic duplicated 8-grams in the synthetic corpus dedup too."""
    from geofeaturegeneration_spark.operators import span_dedup

    docs = _docs_wide(spark, sf_dir)
    spiked = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _SPAN_DISC)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return span_dedup(spiked, "doc_id", "text", k=8)


def q_rare_tokens(spark, sf_dir):
    """Corpus-frequency quality signal: per-doc fraction of tokens whose
    total corpus count <= 2. Counts table is vocabulary-sized and
    broadcast, so the zipf-skewed token key is never a shuffle key."""
    from geofeaturegeneration_spark.operators import rare_token_stats

    docs = _docs_wide(spark, sf_dir)
    return rare_token_stats(docs, "doc_id", "text", rare_below=2)


def q_pii_scrub(spark, sf_dir):
    """PII redaction over the documents corpus. The synthetic text carries
    no PII, so the query SPIKES deterministic emails / phones / IPs / SSNs /
    card numbers into a doc_id-keyed subset first (identically in the SQL
    oracle) — the redaction and the per-pattern counters are then exercised
    on every pattern, not vacuously green on untouched text."""
    from geofeaturegeneration_spark.operators import pii_scrub

    docs = _docs_wide(spark, sf_dir)
    did = F.col("doc_id")
    spiked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" reach me at user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" or 415-555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 9 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    ((did * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(did % 17 == 0, F.lit(" card 4111111111111111")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return pii_scrub(spiked, "doc_id", "text")


def q_line_dedup(spark, sf_dir):
    """Corpus-level duplicate-line removal. The synthetic docs are single
    lines, so the query first LINE-IFIES each doc (newline after every 8
    words) and appends a BLANK separator line plus one shared boilerplate
    line to every doc — the C4 shape: the boilerplate survives only in the
    lowest-(doc_id, line_no) position corpus-wide, organic 8-gram
    collisions dedup too, and the blank line (shared by every doc) is
    exempt from dedup and survives everywhere, so the exemption rule is
    exercised non-vacuously."""
    from geofeaturegeneration_spark.operators import line_dedup

    docs = _docs_wide(spark, sf_dir)
    lined = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"((\S+ ){7}\S+) ", "$1\n"),
            F.lit("\n\nsubscribe to our newsletter today"),
        ).alias("text"),
    )
    return line_dedup(lined, "doc_id", "text")


def q_line_dedup_doc(spark, sf_dir):
    """The per_doc=True scope of line_dedup: each doc gets the shared
    boilerplate line TWICE plus a trailing copy of its own first 8-word
    line — within a doc the second copies drop, but (unlike the corpus
    rule) every doc keeps one boilerplate copy, and the blank separator
    stays exempt. Winner key gains the doc id, so both shuffles are
    doc-keyed."""
    from geofeaturegeneration_spark.operators import line_dedup

    docs = _docs_wide(spark, sf_dir)
    first8 = F.regexp_extract(F.col("text"), r"^(\S+( \S+){7})", 1)
    lined = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"((\S+ ){7}\S+) ", "$1\n"),
            F.lit(
                "\n\nsubscribe to our newsletter today"
                "\nsubscribe to our newsletter today\n"
            ),
            first8,
        ).alias("text"),
    )
    return line_dedup(lined, "doc_id", "text", per_doc=True)


def q_clean_lines(spark, sf_dir):
    """C4 intra-document line cleaning. The synthetic docs are single
    lines, so the query first LINE-IFIES each doc (a '.' + newline after
    every 6 words — lines that PASS the rules), then appends lines that
    each violate exactly one rule (a 2-word line, a javascript line with
    terminal punctuation, a 9-word line without terminal punctuation) so
    every line rule fires non-vacuously; every 7th doc gets a Lorem Ipsum
    line and every 11th a curly-brace line so both page-level verdict
    rules fire too (the Lorem line itself PASSES the line rules — only
    the doc verdict sees it)."""
    from geofeaturegeneration_spark.operators import clean_lines

    docs = _docs_wide(spark, sf_dir)
    lined = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), r"((\S+ ){5}\S+) ", "$1.\n"),
            F.lit(
                "\ntoo short.\nenable javascript to view this site now."
                "\nthis trailing line has no terminal punctuation at all"
            ),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\nLorem Ipsum dolor sit amet consectetur."),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit("\nfunction f() { return 1; } and some words here."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return clean_lines(lined, "doc_id", "text")


def q_normalize_text(spark, sf_dir):
    """Unicode + whitespace normalization. The synthetic docs are clean
    ASCII, so the query spikes every doc with each byte form the operator
    exists to canonicalize: a BOM, an NFD-decomposed accent (e + U+0301),
    the U+212B ANGSTROM singleton (NFC maps it to U+00C5), a C1 control
    (U+0085), a ZERO WIDTH SPACE, a CRLF, a C0 control, tab/space runs,
    and padded document edges — every rule fires non-vacuously, and
    `changed` is true everywhere the
    spike applied (the oracle builds the identical spike from chr()
    codepoints and runs DuckDB's nfc_normalize — utf8proc's UAX #15,
    matching the unicodedata path in the Spark side's Arrow stage)."""
    from geofeaturegeneration_spark.operators import normalize_text

    docs = _docs_wide(spark, sf_dir)
    spiked = docs.select(
        "doc_id",
        F.concat(
            # BOM, then NFD e + COMBINING ACUTE, the U+212B ANGSTROM
            # singleton, a C1 control (U+0085 NEL) and a ZERO WIDTH SPACE
            F.lit("\ufeff  Cafe\u0301 \u212b \u0085x\u200by  \r\n"),
            F.col("text"),
            F.lit("\ttail\x01 here  \n\n"),
        ).alias("text"),
    )
    return normalize_text(spiked, "doc_id", "text")


def q_quality_filter(spark, sf_dir):
    """C4/Gopher keep decision over the documents corpus; thresholds tuned
    so the synthetic docs split into keeps AND drops on several rules
    (word count, stopword share, duplicate-word fraction) — not a
    vacuously-true verdict."""
    from geofeaturegeneration_spark.operators import quality_filter

    docs = _docs_wide(spark, sf_dir)
    return quality_filter(
        docs, "doc_id", "text",
        min_words=30, max_words=70,
        min_avg_word_len=3.0, max_avg_word_len=6.0,
        max_punct_ratio=0.05, max_stopword_ratio=0.2,
        max_dup_word_fraction=0.8,
    )


def q_shuffle_shards(spark, sf_dir):
    """Deterministic global corpus shuffle + fixed-size shard export:
    pos = global rank by (md5(id#shuffle), id) via distributed
    zipWithIndex — NO single-partition window; identical at any
    parallelism, which is exactly what the oracle's row_number replay
    checks."""
    from geofeaturegeneration_spark.operators import shuffle_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return shuffle_shards(docs, "doc_id", shard_size=256)


def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled mixture sampling (alpha=0.5 upsample-the-tail,
    target half the corpus): driver-computed integer ppm rates realized
    through the source_sample draw."""
    from geofeaturegeneration_spark.operators import temperature_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mix(docs, "doc_id", alpha=0.5, target_frac=0.5)


def q_temperature_tokens(spark, sf_dir):
    """Token-budget temperature mixing (alpha=0.5, target half the corpus
    TOKENS): group mass = exact int64 word-count sums instead of doc
    counts — the form pretraining mixes are specified in. Same pure
    per-row draw; different salt so the two samples are independent."""
    from geofeaturegeneration_spark.functions.text import n_words
    from geofeaturegeneration_spark.operators import temperature_mix

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", n_words(F.col("text")).alias("n_tok")
    )
    return temperature_mix(
        docs, "doc_id", alpha=0.5, target_frac=0.5,
        salt="tokrate", weight_col="n_tok",
    ).drop("n_tok")


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracle-matched queries OUTSIDE the driver's 50-entry window: physical
    twins of contract entries (identical output, different plan) and folded
    standalone variants, plus round-3 curation operators added after the
    window filled (decontaminate / source_quota / rare_tokens — distinct
    operators, full oracle + pytest coverage, driver slot pending). Run by
    tools/compare_oracle.py and swept by tests/test_plan_audit.py exactly
    like the contract."""
    return {
        # round 5: folded out of the driver window by the rotation policy
        # (tools/rotation.py) to give chunk_strided / edit_join_cross /
        # epoch_upsample / leakage_split (and two since-retired queries)
        # their first CORRECTNESS rows. Each is long driver-green
        # (series_matrix + contrastive r03-r04; hash_split r01+r03-r04;
        # repetition r02-r04; grid_cantor r01-r04) and keeps coverage:
        # repetition's pure expressions sit beside the in-window
        # text_stats, grid_cantor's math rides stay_enrich, hash_split's
        # md5 draw is leakage_split's split stage, and
        # series_matrix/contrastive are pytest-pinned
        # (test_matrix_split.py) — all five stay value-exact under
        # compare_oracle.
        "series_matrix": q_series_matrix,
        "contrastive": q_contrastive,
        "hash_split": q_hash_split,
        "repetition": q_repetition,
        "grid_cantor": q_grid,
        # round 4: folded out of the driver window to give source_quota and
        # source_sample their first CORRECTNESS rows. `vocab` is the literal
        # first stage of the in-window vocab_encode (build_vocab feeds the
        # encode join); `token_roundtrip` is the inverse-property test of
        # the in-window chunk_sequences (byte-equality also pinned in
        # tests/test_sequence.py). Both stay value-exact under
        # compare_oracle.
        "vocab": q_vocab,
        "token_roundtrip": q_token_roundtrip,
        # round 4: folded out of the driver window — a generic TPC-H demo
        # aggregation from round 1 (driver-green r01-r03), not a SURVEY §2
        # operator; orders_enrich keeps the TPC-H join layer in-window.
        "tpch_pricing": q_tpch_pricing,
        # the per_doc=True scope of the in-window line_dedup (within-doc
        # repeated-line trim, no cross-doc state)
        "line_dedup_doc": q_line_dedup_doc,
        # round 4: folded to free a slot for one since-retired sketch
        # query — sliding_subseq keeps its windows siblings (lag_lead,
        # rolling) in-window; driver-green r01-r03 and value-exact under
        # compare_oracle.
        "sliding_subseq": q_sliding,
        # round 4: the literal first stage of the in-window dedup_exact
        # (exact_dedup groups BY this fingerprint) — folded to free the
        # span_dedup slot
        "fingerprint": q_fingerprint,
        # same output as stay_move_spliced minus the first/last raw-point
        # splice (the simpler variant; spliced is the full reference rule)
        "stay_move": q_stay_move,
        # round 4 (this session): folded out of the driver window
        # (driver-green r01-r03) to give pagerank its first CORRECTNESS
        # row; the gap-rule sessionizer stays value-exact here and its
        # machinery stays in-window through sessionize_state
        "sessionize_gap": q_sessionize_gap,
        # same output as asof_salted via the union-window plan
        "asof_union": q_asof_union,
        # standalone range-frame rolling (contract 'rolling' folds both)
        "rolling_range": q_rolling_range,
        # round 4 (this session): folded out of the driver window
        # (driver-green r01-r03) to give edit_join (and one since-retired
        # query) their first CORRECTNESS rows; both stay value-exact under
        # compare_oracle. interaction_wide is interaction_matrix's wide
        # pivot twin; ngram_jaccard's shingle machinery stays in-window
        # through minhash_pairs (same _shingles_expr stage).
        "interaction_matrix": q_interaction,
        "ngram_jaccard": q_ngram_jaccard,
        # keeper-selection composition of the edit family: edit pairs ->
        # the same connected-components fixpoint as dedup_clusters
        "edit_clusters": q_edit_clusters,
        "interaction_wide": q_interaction_wide,
        # TakeOrdered top-k + broadcast enrich (same family as orders_enrich)
        "top_customers": q_top_customers,
        # signature STAGE queries folded out of the driver window (late
        # round 3) to give quality_filter (and one since-retired query)
        # contract slots; both stages stay driver-verified transitively — the
        # in-window simhash_pairs / minhash_pairs / minhash_cross queries
        # compute these exact signatures as their first step — and stay
        # value-exact here under compare_oracle
        "simhash": q_simhash,
        "minhash_sigs": q_minhash_sigs,
        # round 4: folded out of the driver window (driver-green r01-r03;
        # two-expression operators) to give the new traj_graph operator
        # and a since-retired query their first CORRECTNESS rows; both stay
        # value-exact under compare_oracle
        "decimate": q_decimate,
        "minmax_norm": q_minmax,
        # round 4: folded out of the driver window (driver-green r01-r03)
        # to give a since-retired query and shuffle_shards contract rows —
        # tokens_ordered is the literal input stage of the in-window
        # chunk_sequences (same _doc_tokens output, chunking added);
        # time_features is pure calendar expressions
        "tokens_ordered": q_tokens_ordered,
        "time_features": q_time_features,
        # temperature-scaled mixing: a driver-side rate computation whose
        # corpus-side filter IS the in-window source_sample draw — verified
        # transitively through source_sample's contract row
        "temperature_mix": q_temperature_mix,
        # token-budget form of the same recipe (weight_col): group mass =
        # exact int64 token sums, rates realized through the identical
        # source_sample draw
        "temperature_tokens": q_temperature_tokens,
        # node-degree features derived ENTIRELY from the in-window
        # traj_graph edge table (union + groupBy of its output) — verified
        # transitively by the contract entry, value-exact here
        "graph_nodes": q_graph_nodes,
        # weighted (n_trips) PageRank over the in-window traj_graph edge
        # table — location importance; exact int64 recurrence, unrolled
        # CTE oracle like the in-window pagerank
        "traj_pagerank": q_traj_pagerank,
        # folded round 4 to free a slot for one since-retired sketch
        # query: pure column-expression language classifier, driver-green
        # r01-r03; the text family keeps five in-window rows
        "lang_id": q_lang_id,
        # folded round 4 to free a slot for one since-retired sketch
        # query: a TPC-H demo aggregation (green rows r01-r03), not a
        # SURVEY §2 operator — the §2.3 broadcast-enrich row is carried by
        # in-window stay_enrich
        "orders_enrich": q_orders_enrich,
        # folded round 4 to free a since-retired query's driver slot: green
        # rows r01-r03, pure column exprs, canonical vectors pinned in
        # test_grid.py; grid_cantor keeps the geo-function family in-window
        "geohash": q_geohash,
        # folded round 4 (with a since-retired query) to free driver
        # slots for clean_lines and normalize_text (first-ever rows):
        # green rows r01-r03, and it stays transitively driver-verified
        # through minhash_pairs (same signature+banding machinery)
        "minhash_cross": q_minhash_cross,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_MD5L = "('0x'||substr(md5({x}),1,15))::BIGINT"

_SEC = "epoch_us({x})//1000000"
_NORM_TEXT = "regexp_replace(trim(lower(text)),'\\s+',' ','g')"
_STOP = "('the','a','of','and','to','in','is','it')"

_WORD_EDGES_CTES = (
    "wd AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents)",
    "t AS (SELECT doc_id, unnest(ws) AS tw,"
    " unnest(generate_series(1, len(ws))) AS pos FROM wd)",
    "e0 AS (SELECT lag(tw) OVER (PARTITION BY doc_id ORDER BY pos) AS src,"
    " tw AS dst FROM t)",
    "e AS (SELECT DISTINCT src, dst, 1 AS w FROM e0"
    " WHERE src IS NOT NULL AND src != dst)",
)


def _pagerank_sql(
    edges_ctes=_WORD_EDGES_CTES,
    node_alias: str = "word",
    n_iter: int = 5,
    d: int = 850_000,
    scale: int = 10**12,
) -> str:
    """Unrolled-CTE PageRank oracle: DuckDB has no loop, but the
    operator's recurrence is exact integer arithmetic with a FIXED
    iteration count, so the iterations unroll into a chain of CTEs that
    reproduce the int64 ranks bit-for-bit (``//`` and Spark ``div`` agree
    on non-negative ints; sums are exact)."""
    base = f"((1000000-{d})*{scale})//1000000//(SELECT n FROM nn)"
    ctes = list(edges_ctes) + [
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, SUM(w)::BIGINT AS c FROM e GROUP BY 1)",
        f"pr0 AS (SELECT node, {scale}//(SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"pr{i + 1} AS (SELECT n2.node, {base} +"
            f" ({d} * COALESCE(s.s, 0))//1000000 AS rank"
            f" FROM nodes n2 LEFT JOIN"
            f" (SELECT e.dst AS node, SUM((p.rank * e.w) // d2.c) AS s"
            f" FROM e JOIN pr{i} p ON e.src = p.node"
            f" JOIN deg d2 ON d2.src = e.src GROUP BY 1) s"
            f" ON s.node = n2.node)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node AS {node_alias}, rank::BIGINT AS rank"
        + f" FROM pr{n_iter}"
    )


_TOKENS_CTE = f"""
tok AS (
  SELECT doc_id,
         list_transform(string_split(text,' '),
                        w -> (({_MD5L.format(x='w')}) % {TOKEN_MOD})::INT) AS tokens
  FROM documents
)"""

_SHINGLE_CTE = f"""
w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ({_MD5L.format(x='s')}) % 2147483647 AS h
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws)-2),
                                     i -> array_to_string(ws[i:i+2],' '))) AS s
        FROM w)
)"""

# Minhash-pair -> connected-component fixpoint, shared by dedup_clusters
# and leakage_split: bands from the shingle stream, symmetric edges, the
# recursive reachability closure, min-label components, and per-component
# representatives (cluster_id = min doc_id).
_CLUSTER_CTES = f"""
WITH RECURSIVE {_SHINGLE_CTE.strip()},
perm AS (SELECT i, (2*i+1)::BIGINT AS a, (i*i+1)::BIGINT AS b FROM range(16) t(i)),
sig AS (SELECT doc_id, i, MIN((a*h+b) % 2147483647) AS mh
        FROM sh, perm GROUP BY 1,2),
band AS (SELECT doc_id, (i//4)::INT AS band,
                string_agg(mh::VARCHAR, '-' ORDER BY i) AS sig_str
         FROM sig GROUP BY 1,2),
prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b ON a.band=b.band AND a.sig_str=b.sig_str
                                AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          UNION SELECT id_b, id_a FROM prs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
cc AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
asg AS (SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS comp
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
reps AS (SELECT comp, min(doc_id) AS cluster_id FROM asg GROUP BY 1)"""

# Hash-sampled negative-candidate CTEs (expects an ``inter`` CTE with
# DISTINCT (user_id, grid) in scope). Mirrors the sampled path of
# operators/split.py negative_samples with n_candidates=32, salt='cand':
# 32 slots per entity, slot j -> item index md5(user#cand#j) % |items|
# against the dense sort-rank item index, anti-join visited, rank by hash.
_NEG_CTES = f"""
ent AS (SELECT DISTINCT user_id FROM inter),
it AS (SELECT grid, (row_number() OVER (ORDER BY grid) - 1)::BIGINT AS idx
       FROM (SELECT DISTINCT grid FROM inter)),
slots AS (SELECT user_id, unnest(generate_series(0, 31)) AS j FROM ent),
cand AS (SELECT DISTINCT c.user_id, i.grid
         FROM (SELECT user_id,
                      ({_MD5L.format(x="user_id::VARCHAR || '#cand#' || j::VARCHAR")})
                        % (SELECT count(*) FROM it) AS idx
               FROM slots) c
         JOIN it i ON c.idx = i.idx),
unv AS (SELECT c.user_id, c.grid FROM cand c
        LEFT JOIN inter v ON v.user_id = c.user_id AND v.grid = c.grid
        WHERE v.user_id IS NULL),
rk AS (SELECT user_id, grid,
              (row_number() OVER (PARTITION BY user_id ORDER BY
                 ({_MD5L.format(x="user_id::VARCHAR || '#' || grid::VARCHAR")}) ASC,
                 grid ASC))::INT AS neg_rank
       FROM unv)"""


# DuckDB mirror of functions/grid.geohash_encode — same quantization
# association ((v-lo)/span*2^b), same clamp, same bit interleave.

def _geohash_quant_sql(v: str, lo: float, span: float, b: int) -> str:
    return (
        f"greatest(0, least(floor((({v}) - ({lo})) / {span} * "
        f"{float(1 << b)})::BIGINT, {(1 << b) - 1}))"
    )


def _geohash_concat_sql(lq: str, tq: str, precision: int) -> str:
    n_bits = 5 * precision
    b_lon = (n_bits + 1) // 2
    b_lat = n_bits // 2

    def bit(i: int) -> str:
        if i % 2 == 0:
            return f"(({lq} >> {b_lon - 1 - i // 2}) & 1)"
        return f"(({tq} >> {b_lat - 1 - i // 2}) & 1)"

    chars = []
    for k in range(precision):
        idx = " + ".join(f"({bit(5 * k + j)} << {4 - j})" for j in range(5))
        chars.append(
            f"substr('0123456789bcdefghjkmnpqrstuvwxyz', ({idx})::INT + 1, 1)"
        )
    return " || ".join(chars)


def _geohash_oracle_sql() -> str:
    q7l, q7t = (5 * 7 + 1) // 2, (5 * 7) // 2
    q5l, q5t = (5 * 5 + 1) // 2, (5 * 5) // 2
    return f"""
WITH b AS (
  SELECT event_id, (116.0 + value/1000.0) AS lon, (39.5 + value/2000.0) AS lat
  FROM events),
q AS (SELECT event_id,
             {_geohash_quant_sql('lon', -180.0, 360.0, q7l)} AS lq7,
             {_geohash_quant_sql('lat', -90.0, 180.0, q7t)} AS tq7,
             {_geohash_quant_sql('lon', -180.0, 360.0, q5l)} AS lq5,
             {_geohash_quant_sql('lat', -90.0, 180.0, q5t)} AS tq5
      FROM b)
SELECT event_id,
       {_geohash_concat_sql('lq7', 'tq7', 7)} AS gh7,
       {_geohash_concat_sql('lq5', 'tq5', 5)} AS gh5
FROM q
"""


def _lang_case() -> str:
    langs = sorted(X.LANG_STOPWORDS.keys())
    counts = {
        lang: f"len(list_filter(string_split(text,' '), w -> w IN {tuple(sw)}))"
        for lang, sw in X.LANG_STOPWORDS.items()
    }
    branches = []
    for idx, lang in enumerate(langs):
        later = langs[idx + 1:]
        cond = f"s_{lang} > 0"
        if later:
            cond += f" AND s_{lang} >= greatest({', '.join('s_' + l for l in later)})"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " ELSE 'und' END"
    score_cols = ", ".join(f"{expr} AS s_{lang}" for lang, expr in counts.items())
    return f"""
WITH s AS (SELECT doc_id, lang, {score_cols} FROM documents)
SELECT doc_id, lang, {case} AS pred_lang FROM s
"""


def rotation_hints() -> dict[str, dict]:
    """Rotation metadata consumed by ``tools/rotation.py`` (the round-4
    verdict's "rotation as policy" ask). Two keys:

    - ``carriers``: registered query -> the sibling whose plan exercises
      this query's distinctive machinery (stage, physical twin, or same
      draw/kernel). A query WITHOUT a carrier entry has standalone logic
      that only its own driver row can vouch for — those are first in
      line for promotion into the 50-entry window.
    - ``foldable``: in-window keys the policy may demote to
      ``extra_queries()`` to free slots, each with the reason the local
      gates (compare_oracle + pytest + optional carrier) keep covering
      them. Anything NOT listed here is an anchor (family-defining
      operator) the tool must never propose folding.

    The maps are data, not code: the tool joins them against the
    CORRECTNESS_r*.json history to rank promotions (never-driver-verified
    and carrier-less first) and folds (most green driver rounds first).
    """
    carriers = {
        # literal stages / inverse properties of an in-window consumer
        "vocab": "vocab_encode",
        "token_roundtrip": "chunk_sequences",
        "tokens_ordered": "chunk_sequences",
        "fingerprint": "dedup_exact",
        "minhash_sigs": "minhash_pairs",
        "simhash": "simhash_pairs",
        "graph_nodes": "traj_graph",
        # physical twins — identical output, different plan
        "sessionize_gap": "sessionize_state",
        "asof_union": "asof_salted",
        "stay_move": "stay_move_spliced",
        "rolling_range": "rolling",
        "minhash_cross": "minhash_pairs",
        "edit_clusters": "edit_join",
        # same kernel / same deterministic draw, different scope knob
        "line_dedup_doc": "line_dedup",
        "temperature_mix": "source_sample",
        "temperature_tokens": "source_sample",
        "traj_pagerank": "pagerank",
        "lang_id": "text_stats",
        "interaction_matrix": "pivot_counts",
        "interaction_wide": "pivot_counts",
        "sliding_subseq": "rolling",
        "tpch_pricing": "orders_enrich",
    }
    foldable = {
        # reason strings are documentation for the proposal output
        "repetition": "pure expressions beside text_stats (its carrier)",
        "grid_cantor": "grid math also rides the in-window stay_enrich",
        "contrastive": "green r03+r04; composition of split/window"
        " machinery pinned by tests/test_matrix_split.py",
        "series_matrix": "green r03+r04; the SQL collect/sort/pad plan is"
        " pytest-pinned (test_matrix_split.py, test_plan_audit.py)",
        "hash_split": "green r01+r03+r04; the md5 draw is the same kernel"
        " as leakage_split's split stage",
    }
    return {"carriers": carriers, "foldable": foldable}


def oracle_sql() -> dict[str, str]:
    sec_ts = _SEC.format(x="ts")
    # PII oracle pieces are GENERATED from the operator's own pattern table
    # so the two sides cannot drift; every pattern is RE2-and-Java identical
    # (no lookaround/backrefs — see curation.PII_PATTERNS)
    from geofeaturegeneration_spark.operators.curation import PII_PATTERNS

    pii_clean = "text"
    for _n, _p, _t in PII_PATTERNS:
        pii_clean = f"regexp_replace({pii_clean}, '{_p}', '{_t}', 'g')"
    pii_counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{_p}'))::INT AS n_{_n}"
        for _n, _p, _t in PII_PATTERNS
    )
    return {
        "tpch_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity),2) AS sum_qty,
       round(sum(l_extendedprice),2) AS sum_base_price,
       round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
       round(avg(l_quantity),6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY 1,2
""",
        "orders_enrich": """
SELECT n_name, count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice),2) AS total_price
FROM orders JOIN customer ON o_custkey=c_custkey
            JOIN nation ON c_nationkey=n_nationkey
GROUP BY 1
""",
        "top_customers": """
WITH rev AS (
  SELECT o_custkey, round(sum(o_totalprice),2) AS revenue,
         count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1),
rk AS (
  SELECT *, (row_number() OVER (ORDER BY revenue DESC, o_custkey))::INT AS rnk
  FROM rev)
SELECT o_custkey AS custkey, c_name, revenue, n_orders, rnk
FROM rk JOIN customer ON o_custkey = c_custkey
WHERE rnk <= 10
""",
        "sessionize_gap": f"""
WITH o AS (SELECT user_id, ts, value, {sec_ts} AS sec FROM events),
f AS (SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                     THEN 1 ELSE 0 END AS new
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM f)
SELECT user_id, session_id, min(ts) AS stime, max(ts) AS etime,
       count(*)::BIGINT AS n_events,
       (max(sec)-min(sec))::DOUBLE AS duration_s,
       round(sum(value),6) AS sum_value
FROM s GROUP BY user_id, session_id
""",
        "sessionize_state": f"""
WITH r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
            FROM events),
f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w != event_type
                          THEN 1 ELSE 0 END AS new
           FROM r0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f),
g AS (SELECT user_id, sid, min(ts) AS stime, count(*)::BIGINT AS n_rows,
             min(rn) AS ord,
             arg_min(event_type, rn) AS event_type,
             arg_min(value, rn) AS first_value
      FROM s GROUP BY 1,2),
e AS (SELECT *, lead(stime) OVER w2 AS etime,
             (row_number() OVER w2)::INT AS stay_seq
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY stime, ord))
SELECT user_id, stay_seq, event_type, stime, etime,
       ({_SEC.format(x='etime')} - {_SEC.format(x='stime')})::DOUBLE AS duration_s,
       n_rows, first_value
FROM e
WHERE etime IS NOT NULL
  AND ({_SEC.format(x='etime')} - {_SEC.format(x='stime')}) >= 600
""",
        "stay_move": f"""
WITH r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
            FROM events),
f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w != event_type
                          THEN 1 ELSE 0 END AS new
           FROM r0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f),
g AS (SELECT user_id, sid, min(ts) AS stime, min(rn) AS ord,
             arg_min(event_type, rn) AS event_type
      FROM s GROUP BY 1,2),
e AS (SELECT *, lead(stime) OVER w2 AS etime
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY stime, ord)),
stays AS (SELECT user_id, event_type, stime, etime FROM e
          WHERE etime IS NOT NULL
            AND ({_SEC.format(x='etime')} - {_SEC.format(x='stime')}) >= 600),
mv AS (SELECT user_id,
              event_type AS s_event_type,
              etime AS move_stime,
              lead(event_type) OVER w3 AS e_event_type,
              lead(stime) OVER w3 AS move_etime
       FROM stays WINDOW w3 AS (PARTITION BY user_id ORDER BY stime))
SELECT user_id,
       (row_number() OVER (PARTITION BY user_id ORDER BY move_stime))::INT AS move_seq,
       s_event_type, e_event_type, move_stime, move_etime,
       ({_SEC.format(x='move_etime')} - {_SEC.format(x='move_stime')})::DOUBLE AS duration_s
FROM mv WHERE move_etime IS NOT NULL
""",
        "stay_move_spliced": f"""
WITH r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
            FROM events),
f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w != event_type
                          THEN 1 ELSE 0 END AS new
           FROM r0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f),
g AS (SELECT user_id, sid, min(ts) AS stime, min(rn) AS ord,
             arg_min(event_type, rn) AS event_type
      FROM s GROUP BY 1,2),
e AS (SELECT *, lead(stime) OVER w2 AS etime
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY stime, ord)),
stays AS (SELECT user_id, stime, etime, event_type, 1 AS tag FROM e
          WHERE etime IS NOT NULL
            AND ({_SEC.format(x='etime')} - {_SEC.format(x='stime')}) >= 600),
pts AS (SELECT user_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_type ASC) AS rna,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_type DESC) AS rnd
        FROM events),
fp AS (SELECT user_id, ts AS stime, ts AS etime, event_type, 0 AS tag
       FROM pts WHERE rna = 1),
lp AS (SELECT user_id, ts AS stime, ts AS etime, event_type, 2 AS tag
       FROM pts WHERE rnd = 1),
un AS (SELECT * FROM fp UNION ALL SELECT * FROM stays
       UNION ALL SELECT * FROM lp),
mv AS (SELECT user_id,
              event_type AS s_event_type,
              etime AS move_stime,
              lead(event_type) OVER w3 AS e_event_type,
              lead(stime) OVER w3 AS move_etime
       FROM un WINDOW w3 AS (PARTITION BY user_id ORDER BY stime, tag))
SELECT user_id,
       (row_number() OVER (PARTITION BY user_id
                           ORDER BY move_stime, move_etime))::INT AS move_seq,
       s_event_type, e_event_type, move_stime, move_etime,
       ({_SEC.format(x='move_etime')} - {_SEC.format(x='move_stime')})::DOUBLE AS duration_s
FROM mv WHERE move_etime IS NOT NULL
""",
        "traj_graph": f"""
WITH r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
            FROM events),
f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w != event_type
                          THEN 1 ELSE 0 END AS new
           FROM r0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f),
g AS (SELECT user_id, sid, min(ts) AS stime, min(rn) AS ord,
             arg_min(event_type, rn) AS event_type
      FROM s GROUP BY 1,2),
e AS (SELECT *, lead(stime) OVER w2 AS etime
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY stime, ord)),
stays AS (SELECT user_id, stime, event_type FROM e
          WHERE etime IS NOT NULL
            AND ({_SEC.format(x='etime')} - {_SEC.format(x='stime')}) >= 600),
edges AS (SELECT user_id,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY stime) AS src,
                 event_type AS dst
          FROM stays)
SELECT src, dst, count(*)::BIGINT AS n_trips,
       count(DISTINCT user_id)::BIGINT AS n_entities
FROM edges WHERE src IS NOT NULL AND src != dst
GROUP BY src, dst
""",
        "graph_nodes": f"""
WITH r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
            FROM events),
f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                            OR lag(event_type) OVER w != event_type
                          THEN 1 ELSE 0 END AS new
           FROM r0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f),
g AS (SELECT user_id, sid, min(ts) AS stime, min(rn) AS ord,
             arg_min(event_type, rn) AS event_type
      FROM s GROUP BY 1,2),
e AS (SELECT *, lead(stime) OVER w2 AS etime
      FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY stime, ord)),
stays AS (SELECT user_id, stime, event_type FROM e
          WHERE etime IS NOT NULL
            AND ({_SEC.format(x='etime')} - {_SEC.format(x='stime')}) >= 600),
edg AS (SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY stime) AS src,
               event_type AS dst
        FROM stays),
edges AS (SELECT src, dst, count(*)::BIGINT AS n_trips
          FROM edg WHERE src IS NOT NULL AND src != dst
          GROUP BY src, dst),
sides AS (
  SELECT src AS node, n_trips AS out_t, 1 AS out_d,
         0::BIGINT AS in_t, 0 AS in_d FROM edges
  UNION ALL
  SELECT dst AS node, 0::BIGINT AS out_t, 0 AS out_d,
         n_trips AS in_t, 1 AS in_d FROM edges)
SELECT node, sum(out_t)::BIGINT AS out_trips, sum(out_d)::BIGINT AS out_degree,
       sum(in_t)::BIGINT AS in_trips, sum(in_d)::BIGINT AS in_degree
FROM sides GROUP BY node
""",
        "asof_union": _ASOF_SQL,
        "asof_salted": _ASOF_SQL,
        "lag_lead": f"""
SELECT event_id, user_id, ts, value,
       lag(value,1) OVER w AS value_lag1,
       value - lag(value,1) OVER w AS value_delta1,
       lag(value,2) OVER w AS value_lag2,
       value - lag(value,2) OVER w AS value_delta2,
       lead(value,1) OVER w AS value_lead1,
       ({sec_ts} - lag({sec_ts}) OVER w)::DOUBLE AS gap_s_lag1
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""",
        "rolling": f"""
SELECT event_id, user_id, ts,
       round(avg(value) OVER f,6) AS roll_avg,
       round(sum(value) OVER f,6) AS roll_sum,
       min(value) OVER f AS roll_min,
       max(value) OVER f AS roll_max,
       round(sum(value) OVER c,6) AS cum_sum,
       (row_number() OVER (PARTITION BY user_id ORDER BY ts))::INT AS row_idx,
       round(avg(value) OVER g,6) AS rng_avg,
       round(sum(value) OVER g,6) AS rng_sum,
       min(value) OVER g AS rng_min,
       max(value) OVER g AS rng_max
FROM events
WINDOW f AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       c AS (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING),
       g AS (PARTITION BY user_id ORDER BY {_SEC.format(x='ts')}
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
""",
        "rolling_range": f"""
SELECT event_id, user_id, ts,
       round(avg(value) OVER f,6) AS roll_avg,
       round(sum(value) OVER f,6) AS roll_sum,
       min(value) OVER f AS roll_min,
       max(value) OVER f AS roll_max,
       round(sum(value) OVER c,6) AS cum_sum,
       (row_number() OVER (PARTITION BY user_id ORDER BY {_SEC.format(x='ts')}))::INT AS row_idx
FROM events
WINDOW f AS (PARTITION BY user_id ORDER BY {_SEC.format(x='ts')}
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW),
       c AS (PARTITION BY user_id ORDER BY {_SEC.format(x='ts')}
             ROWS UNBOUNDED PRECEDING)
""",
        "pivot_counts": """
SELECT user_id,
       count(*) FILTER (WHERE event_type='click')::BIGINT AS click,
       count(*) FILTER (WHERE event_type='error')::BIGINT AS error,
       count(*) FILTER (WHERE event_type='purchase')::BIGINT AS purchase,
       count(*) FILTER (WHERE event_type='signup')::BIGINT AS signup,
       count(*) FILTER (WHERE event_type='view')::BIGINT AS "view"
FROM events GROUP BY 1
""",
        "interaction_matrix": """
SELECT user_id, event_type, count(*)::BIGINT AS n_visits
FROM events GROUP BY 1,2
""",
        "vocab": """
SELECT word, (row_number() OVER (ORDER BY word))::BIGINT AS vocab_id
FROM (SELECT DISTINCT unnest(string_split(text,' ')) AS word FROM documents)
""",
        "vocab_encode": """
WITH v AS (SELECT event_type, (row_number() OVER (ORDER BY event_type))::BIGINT AS vocab_id
           FROM (SELECT DISTINCT event_type FROM events))
SELECT event_id, e.event_type, vocab_id
FROM events e JOIN v ON e.event_type = v.event_type
""",
        "tokens_ordered": f"""
WITH {_TOKENS_CTE.strip()}
SELECT doc_id, len(tokens)::INT AS n_tok,
       array_to_string(tokens, ',') AS tokens
FROM tok
""",
        # NB: built explode-side (unnest + group-by) rather than via list
        # slicing: DuckDB 1.0 hits std::bad_array_new_length on
        # column-valued list slices over view-sourced lambda lists.
        "chunk_sequences": f"""
WITH {_TOKENS_CTE.strip()},
sized AS (SELECT doc_id, tokens, len(tokens) AS n,
                 {SEQ_LEN}*greatest((len(tokens)+{SEQ_LEN - 1})//{SEQ_LEN},1) AS tot
          FROM tok),
realr AS (SELECT doc_id, unnest(tokens) AS tid,
                 unnest(generate_series(1, n)) AS pos FROM sized),
padr AS (SELECT doc_id, 0 AS tid, unnest(generate_series(n+1, tot)) AS pos
         FROM sized WHERE tot > n),
allr AS (SELECT * FROM realr UNION ALL SELECT * FROM padr)
SELECT doc_id, ((pos-1)//{SEQ_LEN})::INT AS chunk_idx,
       array_to_string(list(tid ORDER BY pos), ',') AS chunk
FROM allr GROUP BY 1, 2
""",
        # chunk_strided: per-token window membership — padded position p
        # belongs to window i iff i*16 < p <= i*16 + 32, windows floored
        # at one per doc; pad rows fill to (nw-1)*16 + 32
        "chunk_strided": f"""
WITH {_TOKENS_CTE.strip()},
sized AS (SELECT doc_id, tokens, len(tokens) AS n,
                 greatest(ceil((len(tokens) - {SEQ_LEN})/{SEQ_LEN // 2}.0)::INT + 1, 1) AS nw
          FROM tok),
sized2 AS (SELECT *, (nw-1)*{SEQ_LEN // 2} + {SEQ_LEN} AS tot FROM sized),
realr AS (SELECT doc_id, nw, unnest(tokens) AS tid,
                 unnest(generate_series(1, n)) AS pos FROM sized2),
padr AS (SELECT doc_id, nw, 0 AS tid, unnest(generate_series(n+1, tot)) AS pos
         FROM sized2 WHERE tot > n),
allr AS (SELECT * FROM realr UNION ALL SELECT * FROM padr),
wins AS (SELECT unnest(generate_series(0, (SELECT max(nw)-1 FROM sized))) AS i)
SELECT doc_id, i::INT AS chunk_idx,
       array_to_string(list(tid ORDER BY pos), ',') AS chunk
FROM allr, wins t
WHERE i < nw AND pos > i*{SEQ_LEN // 2} AND pos <= i*{SEQ_LEN // 2} + {SEQ_LEN}
GROUP BY 1, 2
""",
        # edit_clusters: the dedup_clusters fixpoint over edit pairs
        "edit_clusters": """
WITH RECURSIVE k AS (SELECT doc_id, substr(trim(regexp_replace(lower(regexp_replace(substr(text,1,96),'[^A-Za-z0-9 ]','','g')),' +',' ','g')),1,24) AS key FROM documents),
k2 AS (SELECT * FROM k WHERE len(key) >= 1),
prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM k2 a JOIN k2 b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.key, b.key) <= 1),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          UNION SELECT id_b, id_a FROM prs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
cc AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a),
asg AS (SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS comp
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.id),
reps AS (SELECT comp, min(doc_id) AS cluster_id FROM asg GROUP BY 1)
SELECT a.doc_id, r.cluster_id, (a.doc_id = r.cluster_id) AS is_keeper
FROM asg a JOIN reps r ON a.comp = r.comp
""",
        # pagerank: 5 iterations unrolled into a CTE chain (see
        # _pagerank_sql) — exact int64 recurrence, bit-identical ranks
        "pagerank": _pagerank_sql(),
        # traj_pagerank: weighted unrolled chain over the traj edge CTEs
        "traj_pagerank": _pagerank_sql(('r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events)', 'f2 AS (SELECT *, CASE WHEN lag(event_type) OVER wx IS NULL OR lag(event_type) OVER wx != event_type THEN 1 ELSE 0 END AS new FROM r0 WINDOW wx AS (PARTITION BY user_id ORDER BY rn))', 's2 AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS sid FROM f2)', 'g2 AS (SELECT user_id, sid, min(ts) AS stime, min(rn) AS ord, arg_min(event_type, rn) AS event_type FROM s2 GROUP BY 1,2)', 'le AS (SELECT *, lead(stime) OVER wy AS etime FROM g2 WINDOW wy AS (PARTITION BY user_id ORDER BY stime, ord))', 'stays2 AS (SELECT user_id, stime, event_type FROM le WHERE etime IS NOT NULL AND (epoch_us(etime)//1000000 - epoch_us(stime)//1000000) >= 600)', 'ed0 AS (SELECT user_id, lag(event_type) OVER (PARTITION BY user_id ORDER BY stime) AS src, event_type AS dst FROM stays2)', 'e AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed0 WHERE src IS NOT NULL AND src != dst GROUP BY 1,2)'), node_alias="node"),
        # edit_join: the oracle IS the naive quadratic join — the operator's
        # symmetric-delete blocking is complete, so they agree exactly;
        # both engines measure distance over the identical ascii_key form
        # (pure ASCII, so char edits count the same under Java and utf8)
        "edit_join": """
WITH k AS (SELECT doc_id, substr(trim(regexp_replace(lower(regexp_replace(substr(text,1,96),'[^A-Za-z0-9 ]','','g')),' +',' ','g')),1,24) AS key FROM documents),
k2 AS (SELECT * FROM k WHERE len(key) >= 1)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.key, b.key)::INT AS dist
FROM k2 a JOIN k2 b ON a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= 1
""",
        "edit_join_cross": """
WITH k AS (SELECT doc_id, substr(trim(regexp_replace(lower(regexp_replace(substr(text,1,96),'[^A-Za-z0-9 ]','','g')),' +',' ','g')),1,24) AS key FROM documents),
k2 AS (SELECT * FROM k WHERE len(key) >= 1)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.key, b.key)::INT AS dist
FROM k2 a JOIN k2 b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
WHERE levenshtein(a.key, b.key) <= 1
""",
        "token_roundtrip": f"""
WITH {_TOKENS_CTE.strip()}
SELECT doc_id, len(tokens)::INT AS n_tok,
       array_to_string(tokens, ',') AS tokens
FROM tok
""",
        "dedup_exact": f"""
SELECT {_MD5L.format(x=_NORM_TEXT)} AS fp,
       count(*)::BIGINT AS n_copies,
       min(doc_id) AS keep_id
FROM documents GROUP BY 1
""",
        "minhash_pairs": f"""
WITH {_SHINGLE_CTE.strip()},
perm AS (SELECT i, (2*i+1)::BIGINT AS a, (i*i+1)::BIGINT AS b FROM range(16) t(i)),
sig AS (SELECT doc_id, i, MIN((a*h+b) % 2147483647) AS mh
        FROM sh, perm GROUP BY 1,2),
band AS (SELECT doc_id, (i//4)::INT AS band,
                string_agg(mh::VARCHAR, '-' ORDER BY i) AS sig_str
         FROM sig GROUP BY 1,2)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM band a JOIN band b ON a.band=b.band AND a.sig_str=b.sig_str
                        AND a.doc_id < b.doc_id
""",
        "minhash_cross": f"""
WITH {_SHINGLE_CTE.strip()},
perm AS (SELECT i, (2*i+1)::BIGINT AS a, (i*i+1)::BIGINT AS b FROM range(16) t(i)),
sig AS (SELECT doc_id, i, MIN((a*h+b) % 2147483647) AS mh
        FROM sh, perm GROUP BY 1,2),
band AS (SELECT doc_id, (i//4)::INT AS band,
                string_agg(mh::VARCHAR, '-' ORDER BY i) AS sig_str
         FROM sig GROUP BY 1,2)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM band a JOIN band b ON a.band=b.band AND a.sig_str=b.sig_str
WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
""",
        "dedup_clusters": f"""
{_CLUSTER_CTES}
SELECT a.doc_id, r.cluster_id, (a.doc_id = r.cluster_id) AS is_keeper
FROM asg a JOIN reps r ON a.comp = r.comp
""",
        # leakage_safe_split: the SAME cluster fixpoint, with the split
        # bucket drawn on cluster_id instead of doc_id — every member of
        # a near-dup cluster lands on one side of the boundary
        "leakage_split": f"""
{_CLUSTER_CTES}
SELECT a.doc_id,
       ((({_MD5L.format(x="r.cluster_id::VARCHAR || 'split'")}) % 100))::INT
         AS split_bucket,
       ((({_MD5L.format(x="r.cluster_id::VARCHAR || 'split'")}) % 100) < 20)
         AS is_test
FROM asg a JOIN reps r ON a.comp = r.comp
""",
        "ngram_jaccard": f"""
WITH {_SHINGLE_CTE.strip()},
dfreq AS (SELECT h, count(*)::BIGINT AS df FROM sh GROUP BY 1),
shf AS (SELECT sh.* FROM sh JOIN dfreq USING(h) WHERE df <= 5),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shf GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS ni
          FROM shf a JOIN shf b ON a.h=b.h AND a.doc_id<b.doc_id GROUP BY 1,2)
SELECT id_a, id_b,
       round(ni::DOUBLE/(na.n+nb.n-ni)::DOUBLE, 6) AS jaccard
FROM inter JOIN sizes na ON inter.id_a=na.doc_id
           JOIN sizes nb ON inter.id_b=nb.doc_id
WHERE round(ni::DOUBLE/(na.n+nb.n-ni)::DOUBLE, 6) >= 0.4
""",
        "simhash": f"""
WITH wd AS (SELECT doc_id, {_MD5L.format(x='w')} AS h
            FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)),
bits AS (SELECT b, (1::BIGINT << b) AS pow2 FROM range(32) t(b)),
contrib AS (SELECT doc_id, b, pow2, SUM(2*((h//pow2)%2)-1)::BIGINT AS s
            FROM wd, bits GROUP BY 1,2,3)
SELECT doc_id,
       SUM(CASE WHEN s > 0 THEN pow2 ELSE 0 END)::BIGINT AS simhash
FROM contrib GROUP BY 1
""",
        "simhash_pairs": f"""
WITH wd AS (SELECT doc_id, {_MD5L.format(x='w')} AS h
            FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)),
bits AS (SELECT b, (1::BIGINT << b) AS pow2 FROM range(32) t(b)),
contrib AS (SELECT doc_id, b, pow2, SUM(2*((h//pow2)%2)-1)::BIGINT AS s
            FROM wd, bits GROUP BY 1,2,3),
sig AS (SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN pow2 ELSE 0 END)::BIGINT AS sh
        FROM contrib GROUP BY 1)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sh, b.sh))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
""",
        "minhash_sigs": f"""
WITH {_SHINGLE_CTE.strip()},
perm AS (SELECT i, (2*i+1)::BIGINT AS a, (i*i+1)::BIGINT AS b FROM range(8) t(i)),
shd AS (SELECT DISTINCT doc_id, h FROM sh)
SELECT doc_id, i::INT AS i, MIN((a*h+b) % 2147483647)::BIGINT AS mh
FROM shd, perm GROUP BY 1, 2
""",
        "interaction_wide": """
SELECT user_id,
       count(*) FILTER (WHERE event_type='click')::BIGINT AS click,
       count(*) FILTER (WHERE event_type='error')::BIGINT AS error,
       count(*) FILTER (WHERE event_type='purchase')::BIGINT AS purchase,
       count(*) FILTER (WHERE event_type='signup')::BIGINT AS signup,
       count(*) FILTER (WHERE event_type='view')::BIGINT AS "view"
FROM events GROUP BY 1
""",
        "text_stats": f"""
SELECT doc_id,
       len(string_split(text,' '))::INT AS n_words,
       len(regexp_extract_all(text, '{X.TOKEN_REGEX}'))::INT AS n_tokens,
       round(length(replace(text,' ',''))::DOUBLE
             / greatest(len(string_split(text,' ')),1)::DOUBLE, 6) AS avg_word_len,
       round((length(text) - length(regexp_replace(text,'[^A-Za-z0-9 ]','','g')))::DOUBLE
             / greatest(length(text),1)::DOUBLE, 6) AS punct_ratio,
       round(len(list_filter(string_split(text,' '), w -> w IN {_STOP}))::DOUBLE
             / greatest(len(string_split(text,' ')),1)::DOUBLE, 6) AS stopword_ratio,
       round(0.4*least(len(string_split(text,' '))::DOUBLE/100.0, 1.0)
             + 0.3*(1.0 - (length(text) - length(regexp_replace(text,'[^A-Za-z0-9 ]','','g')))::DOUBLE
                          / greatest(length(text),1)::DOUBLE)
             + 0.3*(1.0 - len(list_filter(string_split(text,' '), w -> w IN {_STOP}))::DOUBLE
                          / greatest(len(string_split(text,' ')),1)::DOUBLE), 6) AS quality
FROM documents
""",
        "lang_id": _lang_case(),
        "repetition": """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
                  string_split(text, chr(10)) AS ls
           FROM documents),
b AS (SELECT doc_id, ws, ls,
             CASE WHEN len(ws) >= 2
                  THEN list_transform(generate_series(1, len(ws) - 1),
                                      i -> ws[i] || ' ' || ws[i + 1])
                  ELSE [] END AS bs
      FROM w)
SELECT doc_id,
       round((len(ws) - len(list_distinct(ws))) / greatest(len(ws), 1), 6)
         AS dup_word_frac,
       round(list_max(list_transform(list_distinct(ws),
                                     w2 -> len(list_filter(ws, x -> x = w2))))
             / greatest(len(ws), 1), 6) AS top_word_share,
       CASE WHEN len(bs) > 0
            THEN round(list_max(list_transform(list_distinct(bs),
                                b2 -> len(list_filter(bs, x -> x = b2))))
                       / len(bs), 6)
            ELSE 0.0 END AS top_bigram_share,
       round((len(ls) - len(list_distinct(ls))) / greatest(len(ls), 1), 6)
         AS dup_line_frac
FROM b
""",
        "fingerprint": f"""
SELECT doc_id, {_MD5L.format(x=_NORM_TEXT)} AS fp FROM documents
""",
        "minmax_norm": """
SELECT event_id, event_type,
       CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.0
            ELSE round((value - min(value) OVER w)
                       / (max(value) OVER w - min(value) OVER w), 6)
       END AS value_norm
FROM events WINDOW w AS (PARTITION BY event_type)
""",
        "decimate": """
SELECT event_id, user_id, ts FROM (
  SELECT event_id, user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events)
WHERE (rn-1) % 5 = 0
""",
        "sliding_subseq": """
SELECT user_id, ts, array_to_string("query", ',') AS "query", pos FROM (
  SELECT user_id, ts,
         list(event_id) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS "query",
         lead(event_id) OVER (PARTITION BY user_id ORDER BY ts) AS pos
  FROM events)
WHERE len("query") = 3 AND pos IS NOT NULL
""",
        "grid_cantor": """
WITH b AS (
  SELECT event_id, 116.0 + value/1000.0 AS lon, 39.5 + value/2000.0 AS lat
  FROM events),
g AS (
  SELECT event_id,
         floor((lon - 116.0 + 0.01/2) / 0.01)::BIGINT AS loncol,
         floor((lat - 39.5 + 0.008/2) / 0.008)::BIGINT AS latcol
  FROM b
  WHERE lon > 116.0 AND lon < 116.4 AND lat > 39.5 AND lat < 39.7),
c AS (
  SELECT *,
         CASE WHEN loncol >= 0 THEN 2*loncol ELSE -2*loncol-1 END AS fx,
         CASE WHEN latcol >= 0 THEN 2*latcol ELSE -2*latcol-1 END AS fy
  FROM g),
z AS (SELECT event_id, loncol, latcol,
             ((fx+fy)*(fx+fy+1))//2 + fy AS grid FROM c),
u AS (SELECT *,
             floor((sqrt(grid*8+1)-1)/2)::BIGINT AS w FROM z),
v AS (SELECT event_id, loncol, latcol, grid,
             grid - (w*(w+1))//2 AS fy2,
             w - (grid - (w*(w+1))//2) AS fx2
      FROM u)
SELECT event_id, loncol, latcol, grid,
       (CASE WHEN fx2 % 2 = 0 THEN fx2//2 ELSE -((fx2+1)//2) END)::BIGINT AS ux,
       (CASE WHEN fy2 % 2 = 0 THEN fy2//2 ELSE -((fy2+1)//2) END)::BIGINT AS uy,
       round(loncol*0.01 + 116.0, 6) AS centre_lon,
       round(latcol*0.008 + 39.5, 6) AS centre_lat
FROM v
""",
        # padding via generated zero rows (list_resize on nested lists over
        # views triggers the same DuckDB 1.0 bad_array_new_length bug as the
        # chunk slice — see chunk_sequences note)
        "series_matrix": """
WITH g AS (
  SELECT user_id, date_trunc('week', ts)::TIMESTAMP AS period_start, ts, value
  FROM events),
r AS (
  SELECT user_id, period_start, value::DOUBLE AS v,
         row_number() OVER (PARTITION BY user_id, period_start ORDER BY ts) AS idx
  FROM g),
cnt AS (SELECT user_id, period_start, count(*)::INT AS n_rows
        FROM g GROUP BY 1,2),
pad AS (
  SELECT user_id, period_start, 0.0::DOUBLE AS v,
         unnest(generate_series(n_rows+1, 24))::BIGINT AS idx
  FROM cnt WHERE n_rows < 24),
allr AS (SELECT * FROM r UNION ALL SELECT * FROM pad)
SELECT a.user_id, a.period_start, c.n_rows,
       array_to_string(
         list_transform(list(a.v ORDER BY a.idx),
                        x -> round(least(greatest(x, -4e12), 4e12) * 1000000)::BIGINT),
         ',') AS matrix
FROM allr a JOIN cnt c
  ON a.user_id = c.user_id AND a.period_start = c.period_start
WHERE c.n_rows <= 24
GROUP BY a.user_id, a.period_start, c.n_rows
""",
        "geohash": _geohash_oracle_sql(),
        "hash_split": f"""
SELECT doc_id,
       (({_MD5L.format(x="doc_id::VARCHAR || 'split'")}) % 100)::INT AS split_bucket,
       (({_MD5L.format(x="doc_id::VARCHAR || 'split'")}) % 100) < 20 AS is_test
FROM documents
""",
        "negative_samples": f"""
WITH inter AS (
  SELECT DISTINCT user_id,
         floor((116.0 + value/1000.0 - 116.0 + 0.01/2) / 0.01)::BIGINT AS grid
  FROM events),
{_NEG_CTES.strip()}
SELECT user_id, grid, neg_rank FROM rk WHERE neg_rank <= 3
""",
        "stay_enrich": f"""
WITH g AS (
  SELECT *, floor((116.0 + value/1000.0 - 116.0 + 0.01/2) / 0.01)::BIGINT AS grid
  FROM events),
poi AS (
  SELECT grid,
         count(*) FILTER (WHERE event_type='click')::BIGINT AS click,
         count(*) FILTER (WHERE event_type='error')::BIGINT AS error,
         count(*) FILTER (WHERE event_type='purchase')::BIGINT AS purchase,
         count(*) FILTER (WHERE event_type='signup')::BIGINT AS signup,
         count(*) FILTER (WHERE event_type='view')::BIGINT AS "view"
  FROM g GROUP BY 1),
r0 AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn FROM g),
f AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w != event_type
                     THEN 1 ELSE 0 END AS new
      FROM r0 WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
s AS (SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f),
gr AS (SELECT user_id, sid, min(ts) AS stime, min(rn) AS ord,
              arg_min(grid, rn) AS grid
       FROM s GROUP BY 1,2),
e AS (SELECT *, lead(stime) OVER w2 AS etime,
             (row_number() OVER w2)::INT AS stay_seq
      FROM gr WINDOW w2 AS (PARTITION BY user_id ORDER BY stime, ord)),
stays AS (
  SELECT user_id, stay_seq, grid, stime, etime,
         ({_SEC.format(x='etime')} - {_SEC.format(x='stime')})::DOUBLE AS duration_s
  FROM e
  WHERE etime IS NOT NULL
    AND ({_SEC.format(x='etime')} - {_SEC.format(x='stime')}) >= 600)
SELECT s.user_id, s.stay_seq, s.grid, s.stime, s.etime, s.duration_s,
       coalesce(p.click,0) AS click, coalesce(p.error,0) AS error,
       coalesce(p.purchase,0) AS purchase, coalesce(p.signup,0) AS signup,
       coalesce(p."view",0) AS "view"
FROM stays s LEFT JOIN poi p ON s.grid = p.grid
""",
        "contrastive": f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         floor((116.0 + value/1000.0 - 116.0 + 0.01/2) / 0.01)::BIGINT AS grid
  FROM events),
sl AS (
  SELECT user_id, ts, "query", pos FROM (
    SELECT user_id, ts,
           list(event_id) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS "query",
           lead(event_id) OVER (PARTITION BY user_id ORDER BY ts) AS pos
    FROM g)
  WHERE len("query") = 3 AND pos IS NOT NULL),
inter AS (SELECT DISTINCT user_id, grid FROM g),
{_NEG_CTES.strip()},
negs AS (
  SELECT user_id, array_to_string(list(grid ORDER BY neg_rank), ',') AS neg
  FROM rk WHERE neg_rank <= 3 GROUP BY 1)
SELECT sl.user_id, sl.ts, array_to_string(sl."query", ',') AS "query",
       sl.pos, negs.neg
FROM sl LEFT JOIN negs ON sl.user_id = negs.user_id
""",
        "time_features": """
SELECT event_id,
       weekofyear(ts)::INT AS week_of_year,
       (isodow(ts)-1)::INT AS day_of_week,
       dayofyear(ts)::INT AS day_of_year,
       quarter(ts)::INT AS "quarter",
       month(ts)::INT AS "month",
       hour(ts)::INT AS "hour"
FROM events
""",
        # mirrors operators/curation.decontaminate: distinct 3-shingle
        # hashes (md5 % MERSENNE31, same as the dedup family) on both
        # sides, benchmark = every 97th doc
        "decontaminate": f"""
WITH
dw AS (SELECT doc_id, string_split(text,' ') ws FROM documents WHERE doc_id % 97 <> 0),
dsh AS (SELECT DISTINCT doc_id, ({_MD5L.format(x='s')}) % 2147483647 AS h
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(ws)-2),
                                           i -> array_to_string(ws[i:i+2],' '))) AS s
              FROM dw)),
bw AS (SELECT doc_id, string_split(text,' ') ws FROM documents WHERE doc_id % 97 = 0),
bsh AS (SELECT DISTINCT ({_MD5L.format(x='s')}) % 2147483647 AS h
        FROM (SELECT unnest(list_transform(generate_series(1, len(ws)-2),
                                           i -> array_to_string(ws[i:i+2],' '))) AS s
              FROM bw)),
hits AS (SELECT doc_id, count(*)::INT AS n_hits
         FROM dsh JOIN bsh USING (h) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(h.n_hits, 0)::INT AS n_hits,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN hits h USING (doc_id)
""",
        # mirrors operators/curation.source_quota (quota=50, salt 'mix')
        "source_quota": f"""
WITH rk AS (
  SELECT doc_id, source,
         (row_number() OVER (PARTITION BY source ORDER BY
            ({_MD5L.format(x="doc_id::VARCHAR || '#mix'")}) ASC,
            doc_id ASC))::INT AS mix_rank
  FROM documents)
SELECT doc_id, source, mix_rank FROM rk WHERE mix_rank <= 50
""",
        # mirrors operators/curation.source_sample (ppm rates, salt
        # 'mixrate'): integer ppm threshold — exact in any engine
        "source_sample": f"""
SELECT doc_id, source
FROM documents
WHERE ({_MD5L.format(x="doc_id::VARCHAR || '#mixrate'")}) % 1000000
      < (CASE source WHEN 'src0' THEN 800000
                     WHEN 'src1' THEN 300000 ELSE 0 END)
""",
        # epoch_upsample: floor(ppm/1e6) guaranteed copies + one more iff
        # md5(id#epoch) % 1e6 < ppm % 1e6; generate_series(1, 0) is empty
        # in DuckDB and the Spark side filters n >= 1 before its ANSI
        # sequence, so the engines agree on dropped rows
        "epoch_upsample": f"""
WITH j AS (SELECT doc_id, source,
       (CASE source WHEN 'src0' THEN 2300000
                    WHEN 'src1' THEN 700000 ELSE 1000000 END)::BIGINT AS ppm,
       ({_MD5L.format(x="doc_id::VARCHAR || '#epoch'")}) % 1000000 AS h
 FROM documents),
n AS (SELECT doc_id, source,
       (ppm // 1000000) + (CASE WHEN h < ppm % 1000000
                                THEN 1 ELSE 0 END) AS n
 FROM j)
SELECT doc_id, source, unnest(generate_series(1, n))::INT AS epoch
FROM n WHERE n >= 1
""",
        # mirrors operators/curation.temperature_mix (alpha=0.5,
        # target_frac=0.5): the rate formula replays with the same float-op
        # order (sqrt is IEEE-exact in both engines; temperature_rates
        # routes alpha=0.5 through math.sqrt, never pow); the corpus-side
        # draw is the integer-ppm source_sample threshold
        "temperature_mix": f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
t AS (SELECT sum(n)::DOUBLE AS total_n, sum(sqrt(n::DOUBLE)) AS tot FROM c),
p AS (SELECT source,
             floor(1000000 * least(1.0,
                 0.5 * total_n * sqrt(n::DOUBLE) / tot / n))::BIGINT AS ppm
      FROM c, t)
SELECT d.doc_id, d.source
FROM documents d JOIN p USING (source)
WHERE ({_MD5L.format(x="d.doc_id::VARCHAR || '#mixrate'")}) % 1000000 < p.ppm
""",
        # mirrors operators/curation.temperature_mix with weight_col
        # (token-budget mixing, salt 'tokrate'): group mass = exact BIGINT
        # word-count sums (whitespace split, the repo-wide token
        # convention), then the identical sqrt rate formula and integer-ppm
        # draw. DuckDB sums to HUGEINT -> cast back to BIGINT like Spark's
        # long before the float normalization.
        "temperature_tokens": f"""
WITH c AS (SELECT source,
                  sum(len(string_split(text, ' ')))::BIGINT AS n
           FROM documents GROUP BY source),
t AS (SELECT sum(n)::DOUBLE AS total_n, sum(sqrt(n::DOUBLE)) AS tot FROM c),
p AS (SELECT source,
             floor(1000000 * least(1.0,
                 0.5 * total_n * sqrt(n::DOUBLE) / tot / n))::BIGINT AS ppm
      FROM c, t)
SELECT d.doc_id, d.source
FROM documents d JOIN p USING (source)
WHERE ({_MD5L.format(x="d.doc_id::VARCHAR || '#tokrate'")}) % 1000000 < p.ppm
""",
        # mirrors operators/split.shuffle_shards (shard_size=256, salt
        # 'shuffle'): the distributed zipWithIndex result must equal the
        # naive global row_number definition at any parallelism
        "shuffle_shards": f"""
WITH p AS (
  SELECT doc_id, source,
         (row_number() OVER (ORDER BY
            ({_MD5L.format(x="doc_id::VARCHAR || '#shuffle'")}) ASC,
            doc_id ASC) - 1)::BIGINT AS pos
  FROM documents)
SELECT doc_id, source, pos, pos // 256 AS shard, pos % 256 AS shard_pos
FROM p
""",
        # mirrors operators/curation.rare_token_stats (rare_below=2);
        # rare_frac is one IEEE division of two exact bigints — identical
        # in any engine
        "rare_tokens": """
WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
c AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
j AS (SELECT t.doc_id, c.cnt FROM t JOIN c USING (w))
SELECT doc_id,
       count(*)::INT AS n_tokens,
       sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END)::INT AS n_rare,
       (sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END)::DOUBLE
          / count(*)::DOUBLE) AS rare_frac
FROM j GROUP BY doc_id
""",
        "pii_scrub": f"""
WITH spiked AS (SELECT doc_id, text
 || CASE WHEN doc_id%7=0 THEN ' reach me at user' || doc_id::VARCHAR || '@example.com' ELSE '' END
 || CASE WHEN doc_id%5=0 THEN ' or 415-555-' || lpad((doc_id%10000)::VARCHAR,4,'0') ELSE '' END
 || CASE WHEN doc_id%9=0 THEN ' from 10.0.' || (doc_id%256)::VARCHAR || '.' || ((doc_id*7)%256)::VARCHAR ELSE '' END
 || CASE WHEN doc_id%13=0 THEN ' ssn 123-45-' || lpad((doc_id%10000)::VARCHAR,4,'0') ELSE '' END
 || CASE WHEN doc_id%17=0 THEN ' card 4111111111111111' ELSE '' END AS text
 FROM documents),
cnt AS (SELECT doc_id, {pii_clean} AS clean,
       {pii_counts}
       FROM spiked)
SELECT doc_id, clean, n_email, n_ssn, n_phone, n_ip, n_num,
       (n_email + n_ssn + n_phone + n_ip + n_num)::INT AS pii_total
FROM cnt
""",
        # mirrors operators/curation.line_dedup (min_len=1): lines shorter
        # than 1 char (i.e. empty separator lines) are EXEMPT from dedup
        # and kept unconditionally
        "line_dedup": """
WITH lined AS (SELECT doc_id,
        regexp_replace(text, '((\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g')
        || chr(10) || chr(10) || 'subscribe to our newsletter today' AS text
      FROM documents),
ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM lined),
lines AS (SELECT doc_id, unnest(arr) AS line,
                 unnest(generate_series(0, len(arr)-1)) AS line_no FROM ls),
h AS (SELECT doc_id, line_no, line,
             ('0x' || substr(md5(line),1,15))::BIGINT AS hh FROM lines),
win AS (SELECT doc_id, line_no, line,
               row_number() OVER (PARTITION BY hh ORDER BY doc_id, line_no) AS rn
        FROM h WHERE length(line) >= 1),
kept AS (SELECT doc_id, line_no, line FROM win WHERE rn = 1
         UNION ALL
         SELECT doc_id, line_no, line FROM h WHERE length(line) < 1),
agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean,
               count(*)::INT AS n_kept
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*)::INT AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean,'') AS clean, t.n_lines,
       coalesce(a.n_kept,0)::INT AS n_kept
FROM tot t LEFT JOIN agg a USING (doc_id)
""",
        # per_doc scope: winner partition gains doc_id; same exemption
        "line_dedup_doc": """
WITH lined AS (SELECT doc_id,
        regexp_replace(text, '((\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g')
        || chr(10) || chr(10) || 'subscribe to our newsletter today'
        || chr(10) || 'subscribe to our newsletter today' || chr(10)
        || regexp_extract(text, '^(\\S+( \\S+){7})', 1) AS text
      FROM documents),
ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM lined),
lines AS (SELECT doc_id, unnest(arr) AS line,
                 unnest(generate_series(0, len(arr)-1)) AS line_no FROM ls),
h AS (SELECT doc_id, line_no, line,
             ('0x' || substr(md5(line),1,15))::BIGINT AS hh FROM lines),
win AS (SELECT doc_id, line_no, line,
               row_number() OVER (PARTITION BY doc_id, hh
                                  ORDER BY line_no) AS rn
        FROM h WHERE length(line) >= 1),
kept AS (SELECT doc_id, line_no, line FROM win WHERE rn = 1
         UNION ALL
         SELECT doc_id, line_no, line FROM h WHERE length(line) < 1),
agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean,
               count(*)::INT AS n_kept
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*)::INT AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean,'') AS clean, t.n_lines,
       coalesce(a.n_kept,0)::INT AS n_kept
FROM tot t LEFT JOIN agg a USING (doc_id)
""",
        # mirrors operators/curation.clean_lines (C4 line rules: >=5 words,
        # terminal punctuation after rtrim, no 'javascript'; page verdict:
        # >=3 kept lines, no 'lorem ipsum' (ci), no '{') over the same
        # line-ified + rule-spiked corpus as the Spark query
        "clean_lines": """
WITH lined AS (SELECT doc_id,
        regexp_replace(text, '((\\S+ ){5}\\S+) ', '\\1.' || chr(10), 'g')
        || chr(10) || 'too short.'
        || chr(10) || 'enable javascript to view this site now.'
        || chr(10) || 'this trailing line has no terminal punctuation at all'
        || CASE WHEN doc_id%7=0
                THEN chr(10) || 'Lorem Ipsum dolor sit amet consectetur.'
                ELSE '' END
        || CASE WHEN doc_id%11=0
                THEN chr(10) || 'function f() { return 1; } and some words here.'
                ELSE '' END AS text
      FROM documents),
ls AS (SELECT doc_id, text, string_split(text, chr(10)) AS arr FROM lined),
lines AS (SELECT doc_id, unnest(arr) AS line,
                 unnest(generate_series(0, len(arr)-1)) AS line_no FROM ls),
ok AS (SELECT doc_id, line_no, line FROM lines
       WHERE len(list_filter(string_split(line, ' '), w -> w <> '')) >= 5
         AND right(rtrim(line), 1) IN ('.','!','?','"','''')
         AND NOT contains(lower(line), 'javascript')),
agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean,
               count(*)::INT AS n_kept
        FROM ok GROUP BY doc_id),
tot AS (SELECT doc_id, count(*)::INT AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean,'') AS clean, t.n_lines,
       coalesce(a.n_kept,0)::INT AS n_kept,
       (coalesce(a.n_kept,0) >= 3
        AND NOT contains(lower(l.text), 'lorem ipsum')
        AND NOT contains(l.text, '{')) AS keep
FROM tot t
LEFT JOIN agg a USING (doc_id)
JOIN lined l ON l.doc_id = t.doc_id
""",
        # mirrors operators/curation.normalize_text rule-for-rule; the
        # spike is rebuilt from chr() codepoints (769 = COMBINING ACUTE,
        # 8491 = ANGSTROM SIGN singleton, 13/10 = CRLF, 9 = tab, 1 = C0
        # control) and DuckDB's nfc_normalize binds the same utf8proc
        # library as the Spark side's pyarrow utf8_normalize kernel
        "normalize_text": """
WITH spiked AS (SELECT doc_id,
        chr(65279) || '  Cafe' || chr(769) || ' ' || chr(8491) || ' '
        || chr(133) || 'x' || chr(8203) || 'y  ' || chr(13) || chr(10)
        || text
        || chr(9) || 'tail' || chr(1) || ' here  ' || chr(10) || chr(10) AS text
      FROM documents),
s1 AS (SELECT doc_id, text AS orig,
              regexp_replace(text, '\\r\\n?', chr(10), 'g') AS t FROM spiked),
s2 AS (SELECT doc_id, orig,
              regexp_replace(t,
                '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F\\x{200B}\\x{FEFF}]',
                '', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, orig, nfc_normalize(t) AS t FROM s2),
s4 AS (SELECT doc_id, orig, regexp_replace(t, '[ \\t]+', ' ', 'g') AS t FROM s3),
s5 AS (SELECT doc_id, orig, regexp_replace(t, ' *\\n *', chr(10), 'g') AS t FROM s4),
s6 AS (SELECT doc_id, orig,
              regexp_replace(t, '^[\\n ]+|[\\n ]+$', '', 'g') AS t FROM s5)
SELECT doc_id, t AS norm, coalesce(t <> orig, false) AS changed FROM s6
""",
        # mirrors operators/dedup.span_dedup (k=8, md5 60-bit window hash,
        # min-(doc,pos) winner, gaps-and-islands span merge); the oracle's
        # per-token range join replaces the engine's complement slicing —
        # same kept set, O(n^2)-ish is fine at oracle scale
        "span_dedup": f"""
WITH spiked AS (SELECT doc_id,
        text || CASE WHEN doc_id%3=0 THEN ' {_SPAN_DISC}' ELSE '' END AS text
      FROM documents),
w AS (SELECT doc_id, string_split(text,' ') ws FROM spiked),
win AS (SELECT doc_id,
               unnest(generate_series(0, len(ws)-8)) AS pos,
               unnest(list_transform(generate_series(1, len(ws)-7),
                                     i -> array_to_string(ws[i:i+7],' '))) AS s
        FROM w),
h AS (SELECT doc_id, pos, ('0x'||substr(md5(s),1,15))::BIGINT AS hh FROM win),
rk AS (SELECT doc_id, pos,
              row_number() OVER (PARTITION BY hh ORDER BY doc_id, pos) AS rn
       FROM h),
losers AS (SELECT doc_id, pos FROM rk WHERE rn > 1),
lag_t AS (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM losers),
isl AS (SELECT doc_id, pos,
               sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM lag_t),
iv AS (SELECT doc_id, island, min(pos) AS ds, max(pos)+8 AS de
       FROM isl GROUP BY 1, 2),
toks AS (SELECT doc_id, unnest(ws) AS wd,
                unnest(generate_series(0, len(ws)-1)) AS p FROM w),
dup_tok AS (SELECT DISTINCT t.doc_id, t.p
            FROM toks t JOIN iv ON t.doc_id = iv.doc_id
                              AND t.p >= iv.ds AND t.p < iv.de),
kept AS (SELECT t.doc_id, t.wd, t.p FROM toks t
         LEFT JOIN dup_tok d ON t.doc_id = d.doc_id AND t.p = d.p
         WHERE d.doc_id IS NULL),
agg AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY p) AS clean,
               count(*) AS nk FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, len(ws) AS n FROM w)
SELECT t.doc_id, coalesce(a.clean,'') AS clean, t.n::INT AS n_tokens,
       (t.n - coalesce(a.nk,0))::INT AS n_dup_tokens
FROM tot t LEFT JOIN agg a USING (doc_id)
""",
        "quality_filter": f"""
WITH s AS (SELECT doc_id,
       len(string_split(text,' ')) AS nw,
       round(length(replace(text,' ',''))::DOUBLE
             / greatest(len(string_split(text,' ')),1)::DOUBLE, 6) AS awl,
       round((length(text) - length(regexp_replace(text,'[^A-Za-z0-9 ]','','g')))::DOUBLE
             / greatest(length(text),1)::DOUBLE, 6) AS pr,
       round(len(list_filter(string_split(text,' '), w -> w IN {_STOP}))::DOUBLE
             / greatest(len(string_split(text,' ')),1)::DOUBLE, 6) AS sr,
       round((len(string_split(text,' ')) - len(list_distinct(string_split(text,' '))))
             / greatest(len(string_split(text,' ')), 1), 6) AS dwf
  FROM documents),
f AS (SELECT doc_id, nw::INT AS n_words,
       nw < 30 AS too_short, nw > 70 AS too_long,
       (awl < 3.0 OR awl > 6.0) AS bad_word_len,
       pr > 0.05 AS too_punct, sr > 0.2 AS stop_stuffed,
       dwf > 0.8 AS repetitive
  FROM s)
SELECT doc_id, n_words, too_short, too_long, bad_word_len, too_punct,
       stop_stuffed, repetitive,
       (NOT too_short AND NOT too_long AND NOT bad_word_len AND NOT too_punct
        AND NOT stop_stuffed AND NOT repetitive) AS keep
FROM f
""",
    }


_ASOF_SQL = """
WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type='purchase'),
r AS (SELECT user_id AS r_user, ts AS click_ts, value AS click_value
      FROM events WHERE event_type='click')
SELECT l.event_id, l.user_id, l.ts, l.value, r.click_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.r_user AND r.click_ts <= l.ts
"""
