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


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    n_groups: int = 32,
    pad_value: int | None = None,
    seed: str = "pack",
    with_segments: bool = False,
) -> DataFrame:
    """Corpus-level sequence packing: concatenate documents' token arrays in
    a deterministic order and cut fixed-length training sequences that CROSS
    document boundaries — the standard pretraining packer (chunk_sequences
    pads each document separately; packing wastes no tokens on padding
    except the final partial sequence per group).

    Documents are hashed (md5 of ``seed:id``) into ``n_groups`` independent
    pack groups and ordered by (hash, id) within each group, so the packing
    is a pure function of the corpus — byte-identical across runs, engines,
    and parallelism levels. PRECONDITION: ``id_col`` values must be unique
    (any real doc id); duplicate ids order arbitrarily between engines, so
    the packing of a duped corpus is valid but not reproducible. Output: (grp, chunk_id, <tokens_col>, n_real)
    where n_real < seq_len only on each group's final partial chunk; with
    ``pad_value`` set, that chunk is right-padded to seq_len.

    ``with_segments=True`` adds the DOCUMENT-BOUNDARY metadata trainers
    need for block-diagonal attention (tokens must not attend across the
    docs a packed sequence concatenates — the LLaMA-3/T5-pack
    convention): ``segs``, an int array parallel to ``tokens`` holding a
    0-based per-chunk segment id that increments at every doc boundary
    (padding positions get -1, the mask convention), and ``n_docs``, the
    number of documents contributing to the chunk. Costs nothing at
    scale: the segment id is ``doc_ordinal - min(doc_ordinal in chunk)``
    where the ordinal is a row_number over the SAME doc-level window the
    offset already uses — no extra shuffle, no extra pass.

    Scale shape: the running token offset is a window over DOC rows (one
    row per document, sum-unbounded-preceding within the group) — never
    over exploded tokens; the token explode is linear and feeds one
    groupBy((grp, chunk)) whose per-chunk state is seq_len tokens.
    ``n_groups`` is the parallelism knob: each group's offset window is a
    single sorted task, so size it to the cluster (groups = O(executors),
    not O(1)); packing quality is unaffected by the group count. At 100 TB
    this is explode + two hash shuffles — no global sort, no driver state.
    """
    from pyspark.sql import Window as W

    from geofeaturegeneration_spark.functions.text import md5_long

    dh = md5_long(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    sized = df.select(
        F.col(id_col),
        F.col(tokens_col),
        dh.alias("_dh"),
        F.pmod(dh, F.lit(n_groups)).cast("int").alias("grp"),
        F.size(F.col(tokens_col)).alias("_n"),
    )
    # explicit ROWS frame: the default RANGE frame makes rows with equal
    # (hash, id) keys frame PEERS that share one cumulative sum — duplicate
    # ids would then map their tokens to overlapping global positions
    # (n_real > seq_len chunks). With ROWS each row gets a distinct running
    # offset. id_col is still REQUIRED to be unique: tie order between
    # duplicate ids is engine/run-arbitrary, so packing with duped ids is
    # valid but not deterministic (and diverges from the SQL oracle).
    w = (
        W.partitionBy("grp")
        .orderBy("_dh", id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    if with_segments:
        # empty docs contribute no tokens and 0 to every offset, but a
        # row_number would still assign them an ordinal — making segment
        # ids jump and n_docs overcount across an empty doc. Drop them
        # BEFORE the window (offsets are unchanged; the oracle's unnest
        # never sees them either), so ordinals are consecutive over the
        # docs that actually own tokens.
        sized = sized.filter(F.col("_n") > 0)
    sized = sized.withColumn("_off", F.sum("_n").over(w) - F.col("_n"))
    if with_segments:
        sized = sized.withColumn("_ord", F.row_number().over(w))
        ex = sized.select(
            "grp", "_off", "_ord",
            F.posexplode(F.col(tokens_col)).alias("_pos", "_tid"),
        ).select(
            "grp",
            F.expr(f"(_off + _pos) div {int(seq_len)}")
            .cast("int")
            .alias("chunk_id"),
            ((F.col("_off") + F.col("_pos")) % seq_len).alias("_pic"),
            "_tid",
            "_ord",
        )
        agg = ex.groupBy("grp", "chunk_id").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_pic").alias("p"),
                        F.col("_tid").alias("v"),
                        F.col("_ord").alias("o"),
                    )
                )
            ).alias("_arr"),
            F.min("_ord").alias("_o0"),
            F.max("_ord").alias("_o1"),
            F.count(F.lit(1)).cast("int").alias("n_real"),
        )
        packed = agg.select(
            "grp",
            "chunk_id",
            F.transform(F.col("_arr"), lambda s: s["v"]).alias(tokens_col),
            F.transform(
                F.col("_arr"),
                lambda s: (s["o"] - F.col("_o0")).cast("int"),
            ).alias("segs"),
            (F.col("_o1") - F.col("_o0") + 1).cast("int").alias("n_docs"),
            "n_real",
        )
        if pad_value is not None:
            short = F.col("n_real") < seq_len
            packed = packed.withColumn(
                tokens_col,
                F.when(~short, F.col(tokens_col)).otherwise(
                    F.concat(
                        F.col(tokens_col),
                        F.array_repeat(
                            F.lit(pad_value), seq_len - F.col("n_real")
                        ),
                    )
                ),
            ).withColumn(
                "segs",
                F.when(~short, F.col("segs")).otherwise(
                    F.concat(
                        F.col("segs"),
                        F.array_repeat(
                            F.lit(-1).cast("int"),
                            seq_len - F.col("n_real"),
                        ),
                    )
                ),
            )
        return packed
    ex = sized.select(
        "grp", "_off", F.posexplode(F.col(tokens_col)).alias("_pos", "_tid")
    ).select(
        "grp",
        F.expr(f"(_off + _pos) div {int(seq_len)}").cast("int").alias("chunk_id"),
        ((F.col("_off") + F.col("_pos")) % seq_len).alias("_pic"),
        "_tid",
    )
    packed = ex.groupBy("grp", "chunk_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pic").alias("p"), F.col("_tid").alias("v")))
            ),
            lambda s: s["v"],
        ).alias(tokens_col),
        F.count(F.lit(1)).cast("int").alias("n_real"),
    )
    if pad_value is not None:
        packed = packed.withColumn(
            tokens_col,
            F.when(F.col("n_real") >= seq_len, F.col(tokens_col)).otherwise(
                F.concat(
                    F.col(tokens_col),
                    F.array_repeat(
                        F.lit(pad_value), seq_len - F.col("n_real")
                    ),
                )
            ),
        )
    return packed


def fim_transform(
    df: DataFrame,
    tokens_col: str,
    *,
    rate_ppm: int,
    prefix_tok: int,
    suffix_tok: int,
    middle_tok: int,
    id_col: str = "doc_id",
    salt: str = "fim",
    out_col: str | None = None,
) -> DataFrame:
    """Fill-in-middle transform (Bavarian et al. 2022, arXiv:2207.14255):
    rewrite a deterministic ``rate_ppm``-fraction of documents into PSM
    order — ``[PRE] prefix [SUF] suffix [MID] middle`` — so an
    autoregressive model learns infilling from what remains a left-to-right
    corpus. No analog in the reference (pandas trajectory features); this is
    the training-export sibling of ``chunk_sequences``/``pack_sequences``.

    Determinism contract (the repo-wide md5 draw, same as
    ``source_sample``): a doc is transformed iff
    ``md5(id#salt) % 1e6 < rate_ppm``, and the two cut points are
    ``md5(id#salt-a) % (n+1)`` / ``md5(id#salt-b) % (n+1)`` (lo = least,
    hi = greatest, so ``0 <= lo <= hi <= n``). Pure functions of the row id
    — reproducible across engines, re-runs, and parallelism, and the
    transformed set is MONOTONE under rate increases. Raising ``rate_ppm``
    never changes a doc already transformed at a lower rate (same property
    as source_sample's draw), so a mixing recipe can tune the FIM fraction
    without churning previously exported data.

    NULL token arrays pass through untransformed (``is_fim = 0``, cut
    points NULL, ``out_col`` NULL like the source): ``F.size(NULL)``
    would otherwise propagate NULL through the cut draws and silently
    corrupt the export column of a "selected" null doc (ADVICE.md r04
    #4; regression-pinned in test_sequence.py).

    Adds columns: ``is_fim`` (int 0/1), ``fim_lo``/``fim_hi`` (the cut
    points, computed for every non-null row so audits can replay the
    draw), and
    ``out_col`` (default ``<tokens_col>_fim``) — the PSM array for selected
    docs, the untouched source array otherwise. Tokens are only MOVED,
    never recomputed (the BASELINE per-row invariant); ``fim_restore``
    inverts the permutation exactly.

    Scale shape: zero shuffle — the whole transform is slice/concat
    expressions inside whole-stage codegen; sentinel ids are cast to the
    source element type so the output array type never widens.
    """
    from geofeaturegeneration_spark.functions.text import md5_long

    out_col = out_col or f"{tokens_col}_fim"
    elem_t = df.schema[tokens_col].dataType
    t = F.col(tokens_col)
    n = F.size(t)
    ids = F.col(id_col).cast("string")
    # null-array guard: a null tokens row is never "selected" — without
    # this, size(NULL) nulls the cut draws while the md5 draw still
    # selects the row, leaving out_col NULL instead of a pass-through
    sel = t.isNotNull() & (
        md5_long(F.concat(ids, F.lit(f"#{salt}"))) % 1_000_000
        < int(rate_ppm)
    )
    a = md5_long(F.concat(ids, F.lit(f"#{salt}-a"))) % (n + 1).cast("long")
    b = md5_long(F.concat(ids, F.lit(f"#{salt}-b"))) % (n + 1).cast("long")
    lo = F.least(a, b).cast("int")
    hi = F.greatest(a, b).cast("int")

    def _sent(tok: int):
        return F.array(F.lit(int(tok))).cast(elem_t)

    with_cuts = df.withColumn("is_fim", sel.cast("int")).withColumn(
        "fim_lo", lo
    ).withColumn("fim_hi", hi)
    fim = F.concat(
        _sent(prefix_tok),
        F.slice(t, 1, F.col("fim_lo")),
        _sent(suffix_tok),
        F.slice(t, F.col("fim_hi") + 1, n - F.col("fim_hi")),
        _sent(middle_tok),
        F.slice(t, F.col("fim_lo") + 1, F.col("fim_hi") - F.col("fim_lo")),
    )
    return with_cuts.withColumn(
        out_col, F.when(F.col("is_fim") == 1, fim).otherwise(t)
    )


def fim_restore(
    df: DataFrame,
    fim_col: str,
    *,
    lo_col: str = "fim_lo",
    hi_col: str = "fim_hi",
    is_col: str = "is_fim",
    out_col: str = "tokens_restored",
) -> DataFrame:
    """Exact inverse of ``fim_transform`` given its cut-point columns: strip
    the three sentinels and undo the PSM permutation, recovering the source
    token array byte-for-byte (pinned by the round-trip test). Untransformed
    rows pass through. Pure slice/concat — zero shuffle."""
    f = F.col(fim_col)
    lo = F.col(lo_col)
    hi = F.col(hi_col)
    n = F.size(f) - 3  # original length: PSM adds exactly three sentinels
    restored = F.concat(
        F.slice(f, 2, lo),                      # prefix sits after [PRE]
        F.slice(f, lo + 4 + (n - hi), hi - lo), # middle sits after [MID]
        F.slice(f, lo + 3, n - hi),             # suffix sits after [SUF]
    )
    return df.withColumn(
        out_col, F.when(F.col(is_col) == 1, restored).otherwise(f)
    )
