"""Mergeable probabilistic sketches for corpus statistics at 100-TB scale:
a HyperLogLog cardinality sketch and a base-2 HDR histogram with
quantiles.

No analog exists in the reference (its statistics are pandas calls over
one in-memory frame); these are the tools
a pretraining pipeline needs when the DISTINCT cardinality of a key
(tokens, URLs, fingerprints) or the value range of a length column is too
large to shuffle or to sort globally:

* ``hll_build`` / ``hll_merge`` / ``hll_estimate`` / ``hll_count`` —
  Flajolet et al.'s HyperLogLog as a register table of at most ``2^p``
  rows regardless of corpus size. Shard tables merge by register-wise
  max (one union + groupBy), so a merged sketch is EXACTLY the sketch of
  the union; estimation error enters only in the final floats.
* ``hist_build`` / ``hist_merge`` / ``hist_quantiles`` /
  ``hist_quantile_values`` — the HDR-histogram bucket layout as a table
  of at most ``~63 * 2^sub_bits`` rows; shard histograms merge by
  cell-wise sum, and quantiles come from a window over the bounded
  bucket table, never a global sort of the values.

Determinism contract: the only hash primitive is the repo-wide md5-60bit
(functions.text.md5_long), and every register / bucket id is exact
integer arithmetic written so Spark and the DuckDB oracles evaluate the
same expression. Sketch tables are therefore pure functions of the input
values, identical across engines, partitionings, and retries (verified by
the DuckDB oracles and the repartition-invariance tests).

Scale shapes: each build is one narrow projection + one partial-aggregated
groupBy on a uniform, bounded key (no explode, no join); merges are
union + groupBy on the same bounded key; ``hist_quantiles`` lineage-cuts
its small bucket table once and filters it once per requested quantile.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geofeaturegeneration_spark.functions.text import md5_long


# ---------------------------------------------------------------------------
# HyperLogLog-style cardinality sketch (mergeable distinct counting)
# ---------------------------------------------------------------------------

_HLL_BITS = 60  # md5_long yields 60-bit hashes


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias-correction constant for m registers."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_build(
    df: DataFrame,
    value_col: str,
    p: int = 12,
    salt: str = "hll",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog register table of one column: (r, rank) with exactly one
    row per NON-EMPTY register — at most ``2^p`` rows regardless of input
    size, the cardinality sibling of ``hist_build`` (distribution).
    Flajolet, Fusy, Gandouet & Meunier 2007: register index ``r`` = the
    low ``p`` bits of the 60-bit md5, rank = the leading-zero count of
    the remaining ``60-p`` bits plus one, maxed per register.

    Everything is EXACT integer arithmetic — the register table is a pure
    function of the value set, identical across engines / partitionings /
    retries (the DuckDB oracle replays it bit-for-bit; bit length is
    ``length(bin(w))``, minimal in both engines). Estimation error enters
    only in ``hll_estimate``'s final floats, with the standard
    ``1.04/sqrt(2^p)`` relative std. Null values are skipped (they carry no
    cardinality information and would otherwise all alias md5('null')).

    Plan: NO explode (each row feeds exactly one register) — one
    narrow projection + one partial-aggregated groupBy on the uniform
    bounded ``r`` key. Register tables of corpus shards merge via
    ``hll_merge`` (union + max — associative, so sharded build == global
    build exactly); the table round-trips through parquet, giving
    "count distinct urls/tokens across 100 TB of shards" for the cost of
    shuffling ``<= shards * 2^p`` rows. ``group_cols`` keeps one register
    table PER GROUP ("distinct tokens per source/language" — bounded at
    groups x 2^p rows, still one hash shuffle)."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    gcols = list(group_cols or [])
    m = 1 << p
    v = F.col(value_col)
    h = md5_long(F.concat(v.cast("string"), F.lit(f"#{salt}")))
    staged = df.filter(v.isNotNull()).select(*gcols, h.alias("_h"))
    w = F.expr(f"_h div {m}")  # the upper 60-p bits
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    rank = (F.lit(_HLL_BITS - p + 1) - bitlen).cast("int")
    return (
        staged.select(
            *gcols,
            (F.col("_h") % F.lit(m)).cast("int").alias("r"),
            rank.alias("rank"),
        )
        .groupBy(*gcols, "r")
        .agg(F.max("rank").alias("rank"))
    )


def hll_merge(
    *sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Register-wise max of same-shape register tables (same p/salt/
    group_cols — the caller's contract, as with ``hist_merge``). Because
    max is associative and commutative, merging shard sketches is EXACTLY
    the sketch of the union — no merge error, the property that makes HLL
    the canonical distributed distinct counter. union + groupBy on the
    2^p-bounded key."""
    if not sketches:
        raise ValueError("hll_merge needs at least one sketch")
    gcols = list(group_cols or [])
    return (
        reduce(DataFrame.unionByName, sketches)
        .groupBy(*gcols, "r")
        .agg(F.max("rank").alias("rank"))
    )


def hll_estimate(
    sketch: DataFrame, p: int = 12, group_cols: list[str] | None = None
) -> DataFrame:
    """One-row cardinality estimate from a register table: columns
    ``filled`` (non-empty registers, exact int64), ``z_scaled`` (the HLL
    harmonic-mean denominator ``sum(2^-rank)`` over ALL m registers, scaled
    by ``2^(61-p)`` into an EXACT int64 — every term ``2^(61-p-rank)`` is a
    dyadic integer, so the cross-partition sum is shuffle-order-proof), and
    ``est`` (the corrected estimate, double).

    The only floats are the final expression: raw = alpha_m * m^2 *
    2^(61-p) / z_scaled (one literal multiply, one IEEE division), with
    Flajolet's small-range correction — linear counting ``m * ln(m/zeros)``
    when raw <= 2.5m and zero registers exist. The raw branch replays
    bit-identically in the DuckDB oracle (multiply/divide are correctly
    rounded); the linear-counting branch goes through ``ln``, which is
    only 1-ulp-accurate and engine-specific (JVM StrictMath vs libm), so
    cross-engine comparisons of ``est`` must round first — the contract
    queries compare ``round(1e6 * est)`` per the repo's scaled-int rule.

    ``group_cols`` (matching ``hll_build``) yields one estimate row per
    group; the ungrouped form stays a single global agg (one row even on
    empty input — the count of nothing is 0, not absent)."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    gcols = list(group_cols or [])
    m = 1 << p
    scale = 1 << (_HLL_BITS - p + 1)  # 2^(61-p): the rank-0 (empty) term
    aggs = [
        F.count(F.lit(1)).alias("filled"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(1L, {_HLL_BITS - p + 1} - rank)")),
            F.lit(0).cast("long"),
        ).alias("_z1"),
    ]
    agg = sketch.groupBy(*gcols).agg(*aggs) if gcols else sketch.agg(*aggs)
    zeros = F.lit(m) - F.col("filled")
    z_scaled = (F.col("_z1") + zeros * F.lit(scale)).alias("z_scaled")
    out = agg.select(*gcols, F.col("filled"), z_scaled)
    c = _hll_alpha(m) * m * m * scale  # one Python float literal
    raw = F.lit(c) / F.col("z_scaled").cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), lc
    ).otherwise(raw)
    return out.withColumn("est", est)


def hll_count(
    df: DataFrame,
    value_col: str,
    p: int = 12,
    salt: str = "hll",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Approximate COUNT(DISTINCT value_col) (per group, with
    ``group_cols``) as build + estimate — one narrow scan, one bounded
    groupBy, one single-row (or per-group) agg. The streaming /
    incremental form is: persist ``hll_build`` per shard, ``hll_merge`` the
    shard tables, ``hll_estimate`` the merge (exactly equal to this
    one-shot form — pinned in tests)."""
    return hll_estimate(
        hll_build(df, value_col, p, salt, group_cols), p, group_cols
    )


# ---------------------------------------------------------------------------
# Base-2 HDR histogram + quantile sketch (mergeable distribution statistics)
# ---------------------------------------------------------------------------


def _hist_id_expr(value_sql: str, sub_bits: int) -> str:
    """Bucket id of a NONNEGATIVE int64 as a SQL string over ``value_sql``:
    exact singleton buckets below ``2^sub_bits``, then base-2 buckets split
    into ``2^sub_bits`` equal sub-buckets (the HDR-histogram layout). With
    e = floor(log2(v)) = length(bin(v)) - 1:

        id = ((e - s + 1) << s) + (v >> (e - s)) - 2^s

    — contiguous with the singleton range, monotone in v, EXACT integer
    arithmetic. Written in the operator/engine-shared dialect (``bin()``,
    ``>>`` with a column amount, no ``div``/``//``) so Spark's F.expr and
    the DuckDB oracles consume the IDENTICAL string."""
    s = sub_bits
    v = value_sql
    e = f"(length(bin({v})) - 1)"
    return (
        f"CASE WHEN {v} < {1 << s} THEN {v} "
        f"ELSE (({e} - {s} + 1) * {1 << s}) "
        f"+ ({v} >> ({e} - {s})) - {1 << s} END"
    )


def hist_build(
    df: DataFrame,
    value_col: str,
    sub_bits: int = 5,
    weight_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable distribution sketch of an integer column: (b, cnt) with
    one row per non-empty bucket — at most ``~63 * 2^sub_bits`` rows
    (~2k at the default) regardless of input size. The distribution
    sibling of ``hll_*`` (cardinality): doc lengths, token counts, byte
    sizes, score scaled-ints — "where should the p99 length cut sit
    across 100 TB" without a global sort.

    Buckets are the HDR-histogram layout: exact singletons below
    ``2^sub_bits``, then power-of-2 ranges split into ``2^sub_bits``
    sub-buckets — relative bucket width ``<= 2^-sub_bits`` (3.1% at the
    default 5). The id math is EXACT integer arithmetic (bit length via
    ``bin()``, identical in Spark and DuckDB), so the bucket table is a
    pure function of the value multiset: deterministic across engines,
    partitionings, and retries. Negative values mirror to negative ids
    (id ordering == value ordering, so quantile scans stay one pass);
    int64 min is outside the domain (its negation overflows — ANSI
    raises rather than mis-bucketing). Nulls are skipped.

    ``weight_col`` switches the mass from row counts to an exact-int64
    per-row weight (token-mass quantiles: "the doc length below which
    half the TOKENS sit"). ``group_cols`` keeps one histogram PER GROUP
    (per-source/per-language length distributions: bucket table bounded
    at groups x ~63*2^sub_bits rows, one hash shuffle on the (group, b)
    key — never a per-group sort). Plan: one narrow projection + one
    partial-aggregated groupBy on the bounded uniform key; shard
    histograms merge by cell-wise sum (``hist_merge``)."""
    if not 0 <= sub_bits <= 8:
        raise ValueError("sub_bits must be in [0, 8]")
    gcols = list(group_cols or [])
    v = F.col(value_col)
    wt = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    pos_id = _hist_id_expr("_av", sub_bits)
    staged = df.filter(v.isNotNull()).select(
        *gcols, v.cast("long").alias("_v"), wt.alias("_wt")
    ).withColumn("_av", F.abs(F.col("_v")))
    b = F.when(F.col("_v") >= 0, F.expr(pos_id)).otherwise(
        -F.expr(pos_id) - F.lit(1)
    )
    return (
        staged.select(*gcols, b.cast("long").alias("b"), F.col("_wt"))
        .groupBy(*gcols, "b")
        .agg(F.sum("_wt").alias("cnt"))
    )


def hist_merge(
    *hists: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Cell-wise sum of same-shape histograms (same sub_bits/group_cols —
    the caller's contract). union + groupBy on the bounded bucket key:
    shard histograms of a 100-TB corpus merge for the cost of shuffling
    a few thousand rows, and merge == build-on-union EXACTLY (integer
    sums are associative)."""
    if not hists:
        raise ValueError("hist_merge needs at least one histogram")
    gcols = list(group_cols or [])
    return (
        reduce(DataFrame.unionByName, hists)
        .groupBy(*gcols, "b")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _hist_lo_expr(id_sql: str, sub_bits: int) -> str:
    """Inverse of ``_hist_id_expr`` on NONNEGATIVE ids: the bucket's
    smallest value. id = (k << s) + off with k >= 1 maps back to
    lo = (2^s + off) << (k - 1). Same shared dialect (``>>`` replaces
    integer division by 2^s; CAST keeps the shift in int64)."""
    s = sub_bits
    b = id_sql
    k = f"({b} >> {s})"
    off = f"({b} % {1 << s})"
    return (
        f"CASE WHEN {b} < {1 << s} THEN {b} "
        f"ELSE (CAST({1 << s} + {off} AS BIGINT) << ({k} - 1)) END"
    )


def _hist_width_expr(id_sql: str, sub_bits: int) -> str:
    """Bucket width - 1 for a NONNEGATIVE id (0 for singletons)."""
    s = sub_bits
    b = id_sql
    return (
        f"CASE WHEN {b} < {1 << s} THEN 0 "
        f"ELSE (CAST(1 AS BIGINT) << (({b} >> {s}) - 1)) - 1 END"
    )


def hist_quantiles(
    hist: DataFrame,
    qs_ppm: list[int],
    sub_bits: int = 5,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a bucket table: one row per requested
    quantile (and per group, with ``group_cols``) — (``q_ppm``,
    ``value``, ``rank``) where ``value`` is the LOWER EDGE of the first
    bucket whose cumulative mass reaches ``ceil(q_ppm * total / 1e6)`` —
    a deterministic integer rule (no interpolation floats),
    under-reporting by at most the bucket's relative width
    ``2^-sub_bits``. ``sub_bits``/``group_cols`` must match
    ``hist_build``.

    Plan: JOIN-FREE — the cumulative sum is a window over the lineage-cut
    bucket table (keyed by ``group_cols`` when given: per-group state is
    ~63 * 2^sub_bits rows, so millions of groups scale as one keyed
    window; a bounded single-task global window otherwise), and each
    requested quantile is one filtered aggregate over the same
    checkpointed rows (|qs| bounded passes over a bounded table, unioned
    — never a probe join that would grow with groups x buckets)."""
    if not qs_ppm:
        raise ValueError("qs_ppm must be non-empty")
    for q in qs_ppm:
        if not 0 < q <= 1_000_000:
            raise ValueError("each q_ppm must be in (0, 1e6]")
    from pyspark.sql import Window as W

    gcols = list(group_cols or [])
    # lineage-cut: the tiny table computes once; the per-group total, the
    # cumulative, and every per-q pass read the same computed rows
    # (exchange-reuse discipline — without it, pushdown would specialize
    # the aggregate's subtree per consumer)
    hist = hist.localCheckpoint(eager=False)
    w = (
        W.partitionBy(*gcols)
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    neg_lo = _hist_lo_expr("(-b - 1)", sub_bits)
    neg_w = _hist_width_expr("(-b - 1)", sub_bits)
    lo = F.when(
        F.col("b") >= 0, F.expr(_hist_lo_expr("b", sub_bits))
    ).otherwise(
        # negative bucket id: value range [-(lo_pos + width - 1), -lo_pos];
        # the bucket's smallest value is the negated upper edge
        -(F.expr(neg_lo) + F.expr(neg_w))
    )
    cum = hist.select(
        *gcols,
        "b",
        lo.cast("long").alias("_lo"),
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(W.partitionBy(*gcols)).alias("_total"),
    )
    # target rank = ceil(q * total / 1e6), exact int64 (q*total stays in
    # range for totals < 2^43 ~ 8.8e12 rows/mass — beyond that, pre-scale
    # the weights; ANSI raises rather than wrapping)
    # ungrouped: group on a constant instead of a global agg, so an EMPTY
    # histogram yields an empty result (quantiles of nothing), not one
    # all-null row
    gkeys = gcols if gcols else [F.lit(1).alias("_gfs_one")]
    per_q = []
    for q in qs_ppm:
        target = F.expr(f"({int(q)} * _total + 999999) div 1000000")
        per_q.append(
            cum.filter(F.col("_cum") >= target)
            .groupBy(*gkeys)
            .agg(
                F.min_by(F.col("_lo"), F.col("b")).alias("value"),
                F.min(target).alias("rank"),
            )
            .select(
                *gcols,
                F.lit(int(q)).cast("long").alias("q_ppm"),
                "value",
                "rank",
            )
        )
    return reduce(DataFrame.unionByName, per_q)


def hist_quantile_values(
    df: DataFrame,
    value_col: str,
    qs_ppm: list[int],
    sub_bits: int = 5,
    weight_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """build + quantiles one-call (the incremental form persists
    ``hist_build`` per shard and queries the ``hist_merge``)."""
    return hist_quantiles(
        hist_build(df, value_col, sub_bits, weight_col, group_cols),
        qs_ppm,
        sub_bits,
        group_cols,
    )
