"""Ordered sequence materialization, padding, and chunked export.

Reference analogs (DP_GenerateTrajectory.py):
* per-entity time-ordered token vector (``:81``),
* pad with 0 to a multiple of ``seq_len`` = 100 (``:17``, ``:33-41``),
* reshape into ``(n, seq_len)`` rows (``:82-93``).

All pure SQL array expressions — ``collect_list(struct(t, v))`` +
``array_sort`` + ``transform`` for ordered materialization,
``array_repeat``/``concat`` for padding, ``sequence`` + ``slice`` for the
reshape. No Python executes per row, and the per-row invariant of
BASELINE.json (token arrays byte-equal to source) holds because tokens are
only ever moved, never recomputed.

Scale notes: a per-entity collect_list bounds state by the entity's own
row count — the same bound the downstream (n, seq_len) tensor forces anyway.
Entities too large for one task are the salted-asof problem, not this one
(sequence export is only meaningful for entities that fit a training sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ordered_tokens(
    df: DataFrame,
    entity_cols: list[str],
    order_col: str,
    token_col: str,
    out_col: str = "tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per entity: tokens in ``order_col`` order as one array.

    collect_list's order is whatever the partition delivers, so we collect
    (order, token) structs and array_sort — deterministic regardless of
    shuffle nondeterminism. Rows with a null order or token are dropped
    (identically on both code paths); an entity with only null rows emits
    no output row.

    ``num_partitions`` forces an explicit hash partitioning on the entity
    key that the groupBy then reuses (no second exchange). Use it when the
    byte volume is small but the per-entity array work is heavy: AQE's
    byte-based coalescing would otherwise pack hot entities into few tasks
    and create stragglers.

    Fast path: when ``order_col`` is an int (32-bit) and ``token_col`` an
    int, each (order, token) pair is packed into ONE int64 (order in the
    high 32 bits, token offset-encoded in the low 32) so the per-entity sort
    is a primitive long sort instead of a struct sort with boxed comparator
    lambdas — profiled ~3x faster and far less GC on hot entities. The token
    is stored XOR 0x80000000 (two's-complement -> offset-binary), so packed
    ties on duplicate order values break by SIGNED token order — identical
    to the struct path. bigint order columns (e.g. epoch millis/micros that
    overflow 32 bits and would silently scramble the packing) and every
    other type take the struct sort.
    """
    if num_partitions is not None:
        df = df.repartition(num_partitions, *entity_cols)
    # Null order/token rows are DROPPED in both paths (a null position is
    # unorderable; the packed path could not represent it anyway, and the
    # two paths must stay row-identical).
    df = df.filter(F.col(order_col).isNotNull() & F.col(token_col).isNotNull())
    o_type = df.schema[order_col].dataType.simpleString()
    v_type = df.schema[token_col].dataType.simpleString()
    if o_type == "int" and v_type == "int":
        tok_u = (
            F.col(token_col)
            .cast("long")
            .bitwiseXOR(F.lit(0x80000000))
            .bitwiseAND(F.lit(0xFFFFFFFF))
        )
        packed = F.shiftleft(F.col(order_col).cast("long"), 32) + tok_u
        return (
            df.groupBy(*entity_cols)
            .agg(F.array_sort(F.collect_list(packed)).alias("_packed"))
            .withColumn(
                out_col,
                # decode: undo the offset encoding, then sign-extend the low
                # 32 bits ((x << 32) >> 32); plain cast would throw under
                # ANSI mode
                F.transform(
                    "_packed",
                    lambda x: F.shiftright(
                        F.shiftleft(
                            x.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseXOR(
                                F.lit(0x80000000)
                            ),
                            32,
                        ),
                        32,
                    ).cast("int"),
                ),
            )
            .drop("_packed")
        )
    return (
        df.groupBy(*entity_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(token_col).alias("v")))
            ).alias("_pairs")
        )
        .withColumn(out_col, F.transform("_pairs", lambda p: p["v"]))
        .drop("_pairs")
    )


def pad_to_multiple(tokens: Column, seq_len: int, pad_value: int = 0) -> Column:
    """Pad an array column with ``pad_value`` to the next multiple of
    ``seq_len`` (DP_GenerateTrajectory.py:33-41). Empty arrays pad to one
    full block, matching ``ceil`` semantics with a floor of 1 block."""
    n = F.size(tokens)
    blocks = F.greatest(F.ceil(n / seq_len).cast("int"), F.lit(1))
    pad_len = blocks * seq_len - n
    return F.concat(
        tokens, F.array_repeat(F.lit(pad_value).cast("int"), pad_len)
    )


def chunk_sequences(
    df: DataFrame,
    tokens_col: str,
    seq_len: int,
    pad_value: int = 0,
    chunk_col: str = "chunk",
    idx_col: str = "chunk_idx",
    stride: int | None = None,
) -> DataFrame:
    """Pad then explode into fixed-length rows — the (n, 100) reshape of
    DP_GenerateTrajectory.py:82-93 as a long-form table:
    one output row per chunk with a 0-based ``chunk_idx``.

    ``stride`` (default ``seq_len`` = disjoint chunks, the reference
    semantics) < ``seq_len`` produces OVERLAPPING windows starting at
    0, stride, 2*stride, ... — the GPT-style sliding-context export where
    each training sequence carries ``seq_len - stride`` tokens of left
    context; every token still appears in at least one window and the
    tail window is padded. ``stride > seq_len`` would silently DROP
    tokens, so it raises. The overlapped export is one-way (reassembly is
    for the disjoint form).

    The padded array is materialized as a column BEFORE slicing: inlining
    the pad expression into every slice makes Spark re-evaluate it per
    chunk — O(n^2/seq_len) per row, which is what kills hot multi-chunk
    docs. As a column it is built once per row and each slice is O(seq_len).
    The chunks leave through ``posexplode_outer`` and a null filter on the
    index: a plain ``posexplode`` lets InferFiltersFromGenerate plus
    pushdown copy the whole chunk ``transform`` into a filter below the
    generator, which evaluates it once more per row: superlinear in doc
    length. A null doc emits no chunk on either form.
    """
    if stride is None:
        stride = seq_len
    if not 0 < stride <= seq_len:
        raise ValueError("stride must be in (0, seq_len]")
    if stride == seq_len:
        padded_df = df.withColumn(
            "_padded", pad_to_multiple(F.col(tokens_col), seq_len, pad_value)
        )
        n_chunks = (F.size("_padded") / seq_len).cast("int")
        starts = F.sequence(F.lit(0), n_chunks - 1)
    else:
        n = F.size(F.col(tokens_col))
        # windows = ceil((n - seq_len)/stride) + 1, floored at 1 (short and
        # empty docs still emit one padded window, matching the disjoint
        # path's one-block floor)
        n_win = F.greatest(
            F.ceil((n - seq_len) / F.lit(stride)).cast("int") + 1, F.lit(1)
        )
        target = (n_win - 1) * stride + seq_len
        padded_df = df.withColumn(
            "_padded",
            F.concat(
                F.col(tokens_col),
                F.array_repeat(F.lit(pad_value).cast("int"), target - n),
            ),
        )
        starts = F.sequence(F.lit(0), n_win - 1)
    chunks = F.transform(
        starts,
        lambda i: F.slice(F.col("_padded"), i * stride + 1, seq_len),
    )
    return (
        padded_df.withColumn("_chunks", chunks)
        .select(
            *[c for c in df.columns if c != tokens_col],
            F.posexplode_outer("_chunks").alias(idx_col, chunk_col),
        )
        .filter(F.col(idx_col).isNotNull())
    )


def reassemble_chunks(
    df: DataFrame,
    entity_cols: list[str],
    idx_col: str = "chunk_idx",
    chunk_col: str = "chunk",
    out_col: str = "tokens",
    n_col: str | None = None,
) -> DataFrame:
    """Inverse of chunk_sequences (used by the byte-equality round-trip
    test): re-concatenate chunks in index order. If ``n_col`` names a column
    carrying the original token count (the table's ``n_tok`` invariant),
    the trailing padding is sliced off to recover the exact source array."""
    joined = (
        df.groupBy(*entity_cols, *( [n_col] if n_col else [] ))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(idx_col).alias("o"), F.col(chunk_col).alias("v")))
            ).alias("_pairs")
        )
        .withColumn(out_col, F.flatten(F.transform("_pairs", lambda p: p["v"])))
        .drop("_pairs")
    )
    if n_col is not None:
        joined = joined.withColumn(
            out_col, F.slice(F.col(out_col), 1, F.col(n_col))
        )
    return joined
