"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; sign-LSH bucketing is
the scale path (candidates only meet within a bucket). Dot products run as
``F.aggregate`` folds over ``zip_with`` products — JVM-side, sequential
left-to-right, so results are bit-identical to a left-associated explicit
sum in any IEEE engine (this is what makes the DuckDB oracle exact, no
tolerance needed).

Scale notes:
* brute force is O(n^2) rows through the join — keep for small n / golden
  checks; at 10^9 vectors use `ann_lsh_topk` (or IVF via a learned
  partitioner) so each task only scores its bucket.
* norms are precomputed once per side; the cross join carries (id, vec,
  norm) only.
* per-query top-k is a window row_number; ties break on neighbor id so
  output is deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold: ((0 + t1) + t2) + ... — left-associated IEEE sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = _to_double(F.col(vec_col))
    return df.select(F.col(id_col), v.alias("_v"), _norm(v).alias("_n"))


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self-join, excludes self).

    Null / zero-norm vectors have no cosine direction: excluded on BOTH
    sides (never a query row, never a neighbor) — the family-wide rule,
    and exactly what the blocked twin's NaN masking produces; without the
    filter the join form's division throws under ANSI mode on real
    corpora, where zero vectors (failed encodes, padding) do occur.

    Output: (id_col, nn_id, cos_sim rounded to 6, rank 1..k)."""
    base = with_norm(df, id_col, vec_col).filter(F.col("_n") > 0)
    a = base.select(
        F.col(id_col), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = base.select(
        F.col(id_col).alias("nn_id"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # rank by the ROUNDED cosine (the 6-dp value both engines must already
    # agree on for the output hash), then nn_id: raw-cosine ordering made
    # the winner at a tie depend on sub-1e-13 float association — exact
    # ties are realizable (scaled copies of one embedding direction), and
    # the GEMM twins associate differently from the fold-dot oracle
    w = W.partitionBy(id_col).orderBy(
        F.round(F.col("_cos"), 6).desc(), F.col("nn_id").asc()
    )
    return (
        a.join(b, F.col(id_col) != F.col("nn_id"))
        .withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("nn_id"),
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            F.col("rank"),
        )
    )


def _pin_cogroup_partitioning(side: DataFrame, keys: list[str]) -> DataFrame:
    """Explicit hash repartition on the cogroup keys for the GEMM tile
    stages: the tile work is Python-CPU-heavy per byte, and AQE's
    size-based coalescing — which cannot see Python cost — folds the
    exchange down to a handful of tasks whenever the map side reports few
    bytes (measured: a 1-partition 100k-vector input collapsed the whole
    64-tile cogroup to ONE task, 481 s instead of ~60 s). A user-specified
    ``repartition(n, keys)`` satisfies the cogroup's required hash
    distribution (no extra exchange in the plan) and is exempt from AQE
    coalescing — the ``repartition(n, keys)`` case of the README
    "Operational findings" explicit-partitioning rule."""
    n = int(side.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return side.repartition(n, *[F.col(c) for c in keys])


def _tile_topk_score_fn(id_col: str, k: int, q_vec: str, list_col: str | None,
                        strip: int = 512):
    """Shared Arrow tile scorer for the blocked-GEMM top-k family
    (:func:`cosine_topk_blocked`, :func:`ann_ivf_topk_blocked`): float64
    GEMM per (query, corpus) tile, self-exclusion by id equality,
    per-query local top-k ordered (cos desc, nn_id asc) via lexsort —
    matching the final window's ordering exactly. ``list_col`` (IVF)
    forwards the tile's constant inverted-list id into the output. The
    load-bearing subtleties (self-exclusion mask, lexsort tie-break,
    isfinite filter) live HERE once so the two callers cannot drift.

    The tile is evaluated in ``strip``-row query slices (the
    semantic_dedup ``_tile_drop_fn`` pattern): each slice's cosine block
    is reduced to its per-row top-k while cache-resident, so per-task
    memory is bounded by ``strip`` x |corpus block| regardless of
    ``n_blocks``. This is load-bearing, not a micro-optimization: at
    100 k vectors with the default n_blocks=8 the full 12.5k x 12.5k
    float64 tile (1.25 GB, x8 concurrent tasks, plus boolean/mask
    intermediates) thrashed the workers and the job did not finish in
    10 minutes; strip-wise it completes in seconds. Top-k per query row
    is row-independent, so slicing the query axis changes nothing in
    the output."""
    import numpy as np
    import pandas as pd

    out_cols = [id_col, "nn_id", "_cos"] + ([list_col] if list_col else [])

    def score_tile(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({c: [] for c in out_cols})
        qid = lpdf[id_col].to_numpy()
        rid = rpdf["_rid"].to_numpy()
        Q = np.stack(lpdf[q_vec].to_numpy()).astype(np.float64, copy=False)
        X = np.stack(rpdf["_rv"].to_numpy()).astype(np.float64, copy=False)
        xn = np.sqrt(np.einsum("ij,ij->i", X, X))
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        Xt = X.T
        m = len(rid)
        kk = min(k, m)
        # per-query local top-k, ties on nn_id ascending (matches the
        # window). Selection is VECTORIZED per strip — a per-row python
        # lexsort over the full corpus block measured 34 s of a 38 s
        # 12.5k-tile (the GEMM itself is ~3 s): take the kth-largest cos
        # per row (np.partition), keep the >= threshold candidates, and
        # order them with two stable argsorts (by nn_id, then by -cos —
        # exactly lexsort((rid, -cos)) on the candidate set). Rows whose
        # candidate count != kk (a tie STRADDLING the k boundary, NaN
        # from zero-norm vectors, or -inf thresholds on tiny blocks)
        # fall back to the exact per-row lexsort — rare by construction.
        rows = []
        for s in range(0, len(qid), strip):
            qs = qid[s : s + strip]
            cos = (Q[s : s + strip] @ Xt) / np.outer(qn[s : s + strip], xn)
            cos[qs[:, None] == rid[None, :]] = -np.inf  # exclude self
            # select and order on the ROUNDED cosine (see the window
            # comment at the join forms): boundary ties become exact and
            # fall through to the per-row lexsort, whose (rid, -cos)
            # order is then deterministic across engines
            cos = np.round(cos, 6)
            thresh = np.partition(cos, m - kk, axis=1)[:, m - kk]
            mask = cos >= thresh[:, None]
            counts = mask.sum(axis=1)
            easy = counts == kk
            if easy.any():
                # avoid copying the whole strip when every row is easy
                # (the common case): boolean row-indexing would duplicate
                # the 512 x m cos block per strip
                ec, em = (cos, mask) if easy.all() else (
                    cos[easy], mask[easy]
                )
                ecos = ec[em].reshape(-1, kk)
                erid = np.broadcast_to(rid, ec.shape)[em].reshape(-1, kk)
                o1 = np.argsort(erid, axis=1, kind="stable")
                c1 = np.take_along_axis(ecos, o1, axis=1)
                r1 = np.take_along_axis(erid, o1, axis=1)
                o2 = np.argsort(-c1, axis=1, kind="stable")
                c2 = np.take_along_axis(c1, o2, axis=1)
                r2 = np.take_along_axis(r1, o2, axis=1)
                fin = np.isfinite(c2)
                rows.append(
                    (np.repeat(qs[easy], fin.sum(axis=1)), r2[fin], c2[fin])
                )
            for i in np.flatnonzero(~easy):
                order = np.lexsort((rid, -cos[i]))[:kk]
                keep = order[np.isfinite(cos[i][order])]
                rows.append(
                    (np.full(len(keep), qs[i]), rid[keep], cos[i][keep])
                )
        if not rows:
            return pd.DataFrame({c: [] for c in out_cols})
        out = {
            id_col: np.concatenate([r[0] for r in rows]),
            "nn_id": np.concatenate([r[1] for r in rows]),
            "_cos": np.concatenate([r[2] for r in rows]),
        }
        if list_col:
            n_out = len(out["nn_id"])
            out[list_col] = np.full(
                n_out, int(lpdf[list_col].iloc[0]), dtype=np.int32
            )
        return pd.DataFrame(out)

    return score_tile


def cosine_topk_blocked(
    df: DataFrame, id_col: str, vec_col: str, k: int = 5, n_blocks: int = 8
) -> DataFrame:
    """Exact top-k cosine neighbors via block-partitioned matrix multiply —
    the SCALE form of :func:`cosine_topk`, same output, no join node.

    The n x n similarity matrix is tiled into ``n_blocks**2`` block pairs:
    the query side replicates each row to every corpus block and the corpus
    side to every query block (a narrow explode over a B-literal array — no
    join, no cartesian), the two sides meet in ``cogroup().applyInPandas``
    keyed on (query_block, corpus_block), and each Arrow batch scores its
    (n/B x n/B) tile with ONE float64 numpy GEMM instead of n^2/B^2 row-wise
    expression evaluations. Each tile emits its local top-k per query; a
    final window over the <= B*k survivors per query picks the global top-k.

    Scale accounting vs the join form: shuffle volume drops from O(n^2)
    rows through a BroadcastNestedLoopJoin to 2*B*n replicated vectors plus
    B*k*n candidate rows, compute runs at BLAS speed, and B is the memory
    knob — pick B so an (n/B)^2 float64 tile fits an executor (~1 GB tiles
    at n/B ~ 11k). Exact all-pairs stays O(n^2) FLOPs by definition: at
    10^9 vectors use ann_lsh_multi_topk / ann_ivf_topk; this is the exact
    path for the 10^5-10^7 range where brute force is right but the join
    plan is not.

    Determinism: ranking orders by the ROUNDED cosine (round 6 desc,
    nn_id asc) in every physical form and in the oracle — the 6-dp value
    is what the output hash already asserts equal across engines, so
    rank can never depend on which engine's float association computed
    the larger 16th decimal (exact-direction ties — scaled copies of one
    embedding — are realizable and fuzz-tested). Distinct-at-6dp cosines
    order identically in GEMM and fold arithmetic; verified value-exact
    at sf0.01 and sf0.1 and against the adversarial corpus
    (tools/fuzz_oracle.py)."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_partial = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("nn_id", id_type),
            T.StructField("_cos", T.DoubleType()),
        ]
    )
    # literal block ids are cast to LONG to match pmod(xxhash64)'s type:
    # cogroup matches groups via the shuffle hash of the RAW key columns, so
    # an int-vs-bigint key mismatch silently lands the two sides of the same
    # (qb, ob) tile in different groups (measured: whole blocks vanish).
    blocks = F.array(*[F.lit(j).cast("long") for j in range(n_blocks)])
    own = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    # null / zero-norm exclusion (family rule) BEFORE the Arrow tiles: a
    # null vector reaching np.stack crashes the scorer outright, and a
    # zero-norm row would only be dropped later by the NaN masks — filter
    # both here so every tile sees scoreable rows only
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("_v")
    )
    base = base.filter(_norm(F.col("_v")) > 0)
    q_side = (
        base
        .withColumn("_qb", own)
        .withColumn("_ob", F.explode(blocks))
    )
    # fresh names on the corpus side: cogroup's attribute dedup drops
    # right-side columns whose exprIds match the left (same-scan self-pair)
    c_side = (
        base.select(
            F.col(id_col).alias("_rid"),
            F.col("_v").alias("_rv"),
        )
        .withColumn("_ob", F.pmod(F.xxhash64(F.col("_rid")), F.lit(n_blocks)))
        .withColumn("_qb", F.explode(blocks))
    )

    partial = (
        _pin_cogroup_partitioning(q_side, ["_qb", "_ob"])
        .groupBy("_qb", "_ob")
        .cogroup(
            _pin_cogroup_partitioning(c_side, ["_qb", "_ob"]).groupBy(
                "_qb", "_ob"
            )
        )
        .applyInPandas(
            _tile_topk_score_fn(id_col, k, q_vec="_v", list_col=None),
            schema=out_partial,
        )
    )
    # rank by the ROUNDED cosine (the 6-dp value both engines must already
    # agree on for the output hash), then nn_id: raw-cosine ordering made
    # the winner at a tie depend on sub-1e-13 float association — exact
    # ties are realizable (scaled copies of one embedding direction), and
    # the GEMM twins associate differently from the fold-dot oracle
    w = W.partitionBy(id_col).orderBy(
        F.round(F.col("_cos"), 6).desc(), F.col("nn_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("nn_id"),
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            F.col("rank"),
        )
    )


def lsh_bucket(vec_col: str, n_bits: int = 8) -> Column:
    """Sign-LSH bucket id from the signs of the first n_bits dimensions:
    bit k set iff vec[k] > 0. Cheap, deterministic, engine-portable; at
    scale replace the raw dims with fixed random hyperplanes (same shape:
    sign of a dot product)."""
    bucket = F.lit(0).cast("long")
    for k in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(F.col(vec_col), k + 1) > 0, F.lit(1 << k)
        ).otherwise(F.lit(0))
    return bucket


def hyperplane_tables(
    dim: int, n_tables: int, n_bits: int, seed: str = "hp"
) -> list[list[list[float]]]:
    """Deterministic Rademacher (+1/-1) random hyperplanes, derived from md5
    in plain Python so the SAME constants are embeddable in any engine's SQL
    (the DuckDB oracle regenerates them with this function). Sign-LSH over
    random hyperplanes is the classic SimHash-for-cosine family: P[signs
    agree] = 1 - angle/pi, and OR-ing T independent tables raises recall to
    1-(1-p^b)^T. Returns [table][bit][dim] coefficients."""
    import hashlib

    def sign(t: int, b: int, i: int) -> float:
        h = hashlib.md5(f"{seed}:{t}:{b}:{i}".encode()).hexdigest()
        return 1.0 if int(h[:15], 16) % 2 == 0 else -1.0

    return [
        [[sign(t, b, i) for i in range(dim)] for b in range(n_bits)]
        for t in range(n_tables)
    ]


def _hp_exploded(
    df: DataFrame, id_col: str, vec_col: str, tables: list[list[list[float]]]
) -> DataFrame:
    """(id, _v, _n, _t, _bucket) — one row per (vector, table). The per-table
    buckets are computed in ONE projection and posexploded, so the corpus is
    scanned once regardless of n_tables.

    All T*b hyperplane dots come from a SINGLE ``transform`` over one
    literal [T*b][dim] plane matrix, each dot the same left-associated
    fold as ``_dot`` (0.0 + t1 + t2 + ...) so the DuckDB oracle reproduces
    every sign bit exactly; bucket bit b of table t reads dot t*b_bits+b
    back out of the staged dots array. The earlier form built T*b separate
    ``aggregate(zip_with(...))`` expressions, each with its own lambda set
    and 64-literal array — bit-identical values, but Catalyst paid ~0.9 s
    of analysis per call site vs ~0.08 s for the single-transform plan
    (sf0.01, measured; the contract query carries TWO call sites through
    its self-join). Planning cost is a per-QUERY constant, so at 100 TB it
    is noise — but these operators also run inside per-batch loops
    (cross-corpus screening), where 3 s/batch of pure planning is real.

    NULL embeddings are skipped (they cannot hash — same behavior as the
    single-table bucket, where every sign bit of a null vector is false
    only by accident). A non-null vector whose length differs from the
    hyperplane dim fails fast: zip_with would otherwise pad the shorter
    side with nulls and every dot (hence every bucket bit) would silently
    evaluate null/false."""
    dim = len(tables[0][0])
    n_tables, n_bits = len(tables), len(tables[0])
    df = df.filter(F.col(vec_col).isNotNull()).filter(
        F.assert_true(
            F.size(F.col(vec_col)) == dim,
            f"embedding length != hyperplane dim {dim}",
        ).isNull()
    )
    # stage the double-cast vector FIRST: the plane transform's lambda
    # captures it, and a captured EXPRESSION re-executes per element (the
    # cast would run once per plane, T*b times per row) while a captured
    # ATTRIBUTE is an O(1) read — the same CodegenFallback rule
    # dedup._shingles_expr documents
    df = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("_v"))
    v = F.col("_v")
    planes = F.array(
        *[
            F.array(*[F.lit(c) for c in tables[t][b]])
            for t in range(n_tables)
            for b in range(n_bits)
        ]
    )
    dots = F.transform(
        planes,
        lambda p: F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    # zero-norm vectors have no cosine direction (family rule): excluded
    # here so every multi-table consumer (ann_lsh_multi_topk,
    # embedding_neardup_multi_pairs) inherits the exclusion on both the
    # query and candidate sides before any cosine division
    df = df.select(
        F.col(id_col), v, _norm(v).alias("_n"), dots.alias("_dots")
    ).filter(F.col("_n") > 0)

    def bucket(t: int) -> Column:
        b = F.lit(0).cast("long")
        for bit in range(n_bits):
            b = b + F.when(
                F.element_at(F.col("_dots"), t * n_bits + bit + 1) > 0,
                F.lit(1 << bit),
            ).otherwise(F.lit(0))
        return b

    tb = F.array(
        *[
            F.struct(F.lit(t).alias("t"), bucket(t).alias("bucket"))
            for t in range(n_tables)
        ]
    )
    return df.select(
        id_col, "_v", "_n", F.explode(tb).alias("_tb")
    ).select(
        id_col, "_v", "_n",
        F.col("_tb.t").alias("_t"), F.col("_tb.bucket").alias("_bucket"),
    )


def _hp_exploded_gemm(
    df: DataFrame, id_col: str, vec_col: str, tables: list[list[list[float]]]
) -> DataFrame:
    """GEMM form of :func:`_hp_exploded` — same (id, _v, _n, _t, _bucket)
    output, computed in ``mapInPandas``: each Arrow batch runs ONE float64
    (m x dim) @ (dim x T*b) GEMM and derives every bucket bit from the sign
    matrix, replacing m*T*b interpreted fold-dot evaluations (measured:
    the fold hasher alone was 1.9 s of ann_lsh_multi's 2.8 s at sf0.1).

    Sign-bit determinism vs the DuckDB fold oracle: GEMM association
    differs from the sequential fold, but a bucket-bit flip needs a
    hyperplane dot within ~1e-13 of exactly 0 — Rademacher +/-1 planes
    over continuous embeddings never cancel to that precision (same bet as
    cosine_topk_blocked, verified value-exact at sf0.01 and sf0.1). The
    fold form stays available (``use_gemm_hasher=False``) as the
    bit-exact twin; equality is pinned by
    test_ann_lsh_multi_gemm_matches_fold_hasher.

    Null embeddings are skipped and a wrong-length vector fails fast with
    the same "hyperplane dim" message as the expression guard."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    dim = len(tables[0][0])
    n_tables, n_bits = len(tables), len(tables[0])
    # [dim][T*b] plane matrix, table-major columns (col t*n_bits+b)
    P = np.array(
        [tables[t][b] for t in range(n_tables) for b in range(n_bits)],
        dtype=np.float64,
    ).T
    bit_weights = np.array([1 << b for b in range(n_bits)], dtype=np.int64)
    ts = np.arange(n_tables, dtype=np.int32)

    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("_v", T.ArrayType(T.DoubleType())),
            T.StructField("_n", T.DoubleType()),
            T.StructField("_t", T.IntegerType()),
            T.StructField("_bucket", T.LongType()),
        ]
    )

    def hash_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lens = pdf["_v"].map(len).to_numpy()
            if (lens != dim).any():
                bad = int(lens[lens != dim][0])
                raise ValueError(
                    f"embedding length != hyperplane dim {dim} (got {bad})"
                )
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
            m = len(V)
            signs = (V @ P) > 0  # (m, T*b)
            buckets = (
                signs.reshape(m, n_tables, n_bits) @ bit_weights
            )  # (m, T)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "_v": np.repeat(pdf["_v"].to_numpy(), n_tables),
                    "_n": np.repeat(
                        np.sqrt(np.einsum("ij,ij->i", V, V)), n_tables
                    ),
                    "_t": np.tile(ts, m),
                    "_bucket": buckets.ravel(),
                }
            )

    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _to_double(F.col(vec_col)).alias("_v"))
        .mapInPandas(hash_batches, schema=schema)
        # zero-norm exclusion (family rule), mirroring _hp_exploded
        .filter(F.col("_n") > 0)
    )


def _cap_buckets(exploded: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop degenerate (table, bucket) cells with more than ``max_bucket_size``
    members before the candidate self-join. All-zero / constant embeddings
    hash to the SAME bucket in EVERY table (their hyperplane dots tie), so
    one pathological cluster makes the per-bucket self-join quadratic in all
    T tables at once — the same hazard ``minhash_lsh_pairs`` caps with
    ``max_bucket_size``, mirrored here. The cap side is a (t, bucket, count)
    aggregate joined back as an equi-join, never a row expansion; None keeps
    every bucket (exact small-scale behavior)."""
    if max_bucket_size is None:
        return exploded
    sizes = exploded.groupBy("_t", "_bucket").count()
    keep = sizes.filter(F.col("count") <= max_bucket_size).drop("count")
    return exploded.join(keep, ["_t", "_bucket"])


def ann_lsh_multi_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    n_tables: int = 3,
    n_bits: int = 8,
    seed: str = "hp",
    max_bucket_size: int | None = None,
    use_gemm_hasher: bool = True,
) -> DataFrame:
    """Approximate top-k cosine via MULTI-TABLE random-hyperplane sign-LSH:
    candidates are pairs co-bucketed in ANY of ``n_tables`` independent
    hash tables (OR-amplification), scored exactly, deduped, ranked.

    This is the recall fix for the single-table variant (``ann_lsh_topk``
    hashes the raw leading dims — on real dense/correlated embeddings one
    table's recall is poor). Plan shape is unchanged: one posexplode pass
    over the corpus (n_tables rows per vector), one (table, bucket)
    equi-join, then a per-pair max-dedupe and per-query top-k window — no
    cross join at any scale. Output: (id, nn_id, cos_sim, rank, n_hit)
    where n_hit = number of tables that co-bucketed the pair (counted over
    the tables whose bucket survived ``max_bucket_size``, see
    ``_cap_buckets``). ``use_gemm_hasher`` picks the Arrow GEMM hashing
    stage (default — see :func:`_hp_exploded_gemm`); False keeps the
    bit-exact expression-fold hasher."""
    tables = hyperplane_tables(dim, n_tables, n_bits, seed)
    hasher = _hp_exploded_gemm if use_gemm_hasher else _hp_exploded
    exploded = _cap_buckets(
        hasher(df, id_col, vec_col, tables), max_bucket_size
    )
    a = exploded.select(
        F.col(id_col), "_t", "_bucket",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = exploded.select(
        F.col(id_col).alias("nn_id"), "_t", "_bucket",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # rank by the ROUNDED cosine (the 6-dp value both engines must already
    # agree on for the output hash), then nn_id: raw-cosine ordering made
    # the winner at a tie depend on sub-1e-13 float association — exact
    # ties are realizable (scaled copies of one embedding direction), and
    # the GEMM twins associate differently from the fold-dot oracle
    w = W.partitionBy(id_col).orderBy(
        F.round(F.col("_cos"), 6).desc(), F.col("nn_id").asc()
    )
    return (
        a.join(b, ["_t", "_bucket"])
        .filter(F.col(id_col) != F.col("nn_id"))
        .withColumn("_pcos", cos)
        # a pair found by several tables is scored per hit; the per-pair
        # max (values identical) dedupes without re-joining the vectors
        .groupBy(id_col, "nn_id")
        .agg(F.max("_pcos").alias("_cos"), F.count(F.lit(1)).cast("int").alias("n_hit"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("nn_id"),
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            F.col("rank"),
            F.col("n_hit"),
        )
    )


def embedding_neardup_multi_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    n_tables: int = 3,
    n_bits: int = 8,
    seed: str = "hp",
    max_bucket_size: int | None = None,
    use_gemm_hasher: bool = True,
) -> DataFrame:
    """Multi-table variant of ``embedding_neardup_pairs``: candidate pairs
    from the OR of ``n_tables`` random-hyperplane tables, exact-cosine
    verified, deduped. Same candidate/verify split, higher recall.
    ``max_bucket_size`` drops degenerate buckets (``_cap_buckets``);
    ``use_gemm_hasher`` as in :func:`ann_lsh_multi_topk`.
    Output: (id_a, id_b, cos_sim)."""
    tables = hyperplane_tables(dim, n_tables, n_bits, seed)
    hasher = _hp_exploded_gemm if use_gemm_hasher else _hp_exploded
    exploded = _cap_buckets(
        hasher(df, id_col, vec_col, tables), max_bucket_size
    )
    a = exploded.select(
        F.col(id_col).alias("id_a"), "_t", "_bucket",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), "_t", "_bucket",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, ["_t", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.round(F.max("_cos"), 6).alias("cos_sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    Candidates come from the sign-LSH bucket equi-join (near-identical
    vectors share every leading sign, so true near-dups co-bucket; at scale
    use multiple hyperplane tables to push recall). Exact cosine is then
    verified on candidates only — the standard candidate/verify split of a
    production dedup pass. Zero-norm vectors are excluded (family rule —
    no cosine direction, and they co-bucket everywhere, making the
    self-join quadratic). Output: (id_a, id_b, cos_sim)."""
    v = _to_double(F.col(vec_col))
    normed = df.select(
        F.col(id_col),
        v.alias("_v"),
        _norm(v).alias("_n"),
        lsh_bucket(vec_col, n_bits).alias("_bucket"),
    ).filter(F.col("_n") > 0)
    a = normed.select(
        F.col(id_col).alias("id_a"), F.col("_bucket"),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = normed.select(
        F.col(id_col).alias("id_b"), F.col("_bucket"),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("_cos"), 6).alias("cos_sim")
        )
    )


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer assigns every vector
    to its nearest centroid ("inverted list"); each query scores only the
    vectors in its ``nprobe`` closest lists.

    ``centroids`` (schema ``_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE``)
    injects a pre-trained quantizer — the production shape (train once,
    search many); when omitted, a deterministic seed quantizer is trained
    eagerly from the first ``n_centroids`` vectors.

    Centroids here are the first ``n_centroids`` vectors in id order — a
    deterministic seed set (at scale: k-means centroids from a sampled
    training pass; the query plan is IDENTICAL, only the centroid table
    changes). Assignment = broadcast join against the tiny centroid table +
    per-vector argmin; search = equi-join on the list id. Two broadcast
    joins + one equi-join — never a cross join over the corpus.

    Null / zero-norm vectors have no cosine direction: they are excluded
    from the corpus, the probe set, and seed selection (in both this form
    and the blocked twin — the exclusion keeps the two forms identical on
    degenerate inputs, where NaN cosines would otherwise rank differently
    in Spark's window than in the numpy tiles).

    Output: (id_col, nn_id, cos_sim, rank, list_id)."""
    v = _to_double(F.col(vec_col))
    normed = df.select(F.col(id_col), v.alias("_v"), _norm(v).alias("_n")).filter(
        F.col("_n") > 0
    )
    # the coarse quantizer is TRAINED eagerly (one tiny TakeOrdered job) and
    # becomes a literal broadcast table — exactly how a real IVF ships its
    # k-means centroids; keeping it lazy would replicate a global-window
    # subtree into every branch of the search plan.
    if centroids is not None:
        cents = centroids
    else:
        seed_rows = (
            normed.orderBy(id_col).limit(n_centroids).select("_v", "_n").collect()
        )
        cents = df.sparkSession.createDataFrame(
            [(i + 1, list(r["_v"]), float(r["_n"])) for i, r in enumerate(seed_rows)],
            "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE",
        )
    ccos = _dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn"))
    w_assign = W.partitionBy(id_col).orderBy(
        F.col("_ccos").desc(), F.col("_cid").asc()
    )
    assigned = (
        normed.crossJoin(F.broadcast(cents))
        .withColumn("_ccos", ccos)
        .withColumn("_crank", F.row_number().over(w_assign))
        .filter(F.col("_crank") <= nprobe)
        .select(
            F.col(id_col), F.col("_v"), F.col("_n"),
            F.col("_cid").alias("list_id"),
            (F.col("_crank") == 1).alias("_home"),
        )
    )
    # inverted lists contain each vector once (its home list); queries probe
    # their nprobe nearest lists. With nprobe=1 the probe set IS the home
    # set, so both join sides derive from the identical subplan (filter
    # included) and the assignment exchange is computed once (ReuseExchange);
    # with nprobe>1 the probe side is the superset.
    probe = assigned.filter(F.col("_home")) if nprobe == 1 else assigned
    a = probe.select(
        F.col(id_col), F.col("list_id"),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = assigned.filter(F.col("_home")).select(
        F.col(id_col).alias("nn_id"), F.col("list_id"),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # rank by the ROUNDED cosine (the 6-dp value both engines must already
    # agree on for the output hash), then nn_id: raw-cosine ordering made
    # the winner at a tie depend on sub-1e-13 float association — exact
    # ties are realizable (scaled copies of one embedding direction), and
    # the GEMM twins associate differently from the fold-dot oracle
    w = W.partitionBy(id_col).orderBy(
        F.round(F.col("_cos"), 6).desc(), F.col("nn_id").asc()
    )
    return (
        a.join(b, "list_id")
        .filter(F.col(id_col) != F.col("nn_id"))
        .withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("nn_id"),
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            F.col("rank"),
            F.col("list_id"),
        )
    )


def ann_ivf_topk_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
    n_blocks: int = 4,
) -> DataFrame:
    """IVF top-k via GEMM tiles — the SCALE form of :func:`ann_ivf_topk`,
    same output, no join node anywhere in the plan.

    Two Arrow stages replace the join form's broadcast-crossJoin + window
    assignment and fold-dot list join:

    * **assignment** — the quantizer (k rows, collected once: the same tiny
      driver transfer the join form's seed training already makes) becomes
      a numpy literal inside a ``mapInPandas`` closure; each Arrow batch
      scores vectors x centroids with ONE float64 GEMM and emits its
      ``nprobe`` nearest list ids (ties by _cid asc via lexsort — identical
      to the join form's row_number ordering). No shuffle, no window: the
      per-id argmin that cost an n x C exchange is a per-batch argmax.
    * **search** — inverted lists meet in ``cogroup().applyInPandas`` keyed
      on (list_id, query_block, corpus_block): each (n_l/B x m_l/B) tile is
      one GEMM instead of n_l*m_l interpreted fold-dot evaluations, emits
      its local top-k, and a final window over the <= B*nprobe*k survivors
      per query picks the global top-k. Sub-blocking bounds tile memory
      even when a hot list degenerates (B is the executor-memory knob,
      exactly as in :func:`cosine_topk_blocked`).

    Scale accounting: shuffle volume is 2*B*(nprobe*n) replicated vectors
    plus B*nprobe*k*n candidate rows; compute runs at BLAS speed; the
    assignment recompute on the two cogroup sides is one GEMM pass per
    batch (cheaper than persisting n vectors). Determinism: GEMM sums
    associate differently from the sequential fold, but an assignment or
    rank flip needs two DISTINCT cosines within ~1e-13 — below any data
    resolution (same bet as cosine_topk_blocked, verified value-exact vs
    the DuckDB fold oracle at sf0.01 and sf0.1).

    Output: (id_col, nn_id, cos_sim, rank, list_id) — identical to
    :func:`ann_ivf_topk`, which survives as the exactness twin."""
    from pyspark.sql import types as T

    crows = _quantizer_rows(df, id_col, vec_col, n_centroids, centroids)
    id_type = df.schema[id_col].dataType
    if not crows:
        # empty corpus, no quantizer — same empty result the join form
        # produces (its crossJoin against zero centroid rows yields nothing)
        out_schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField("nn_id", id_type),
                T.StructField("cos_sim", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
                T.StructField("list_id", T.IntegerType()),
            ]
        )
        return df.sparkSession.createDataFrame([], out_schema)
    assigned = _gemm_assign(df, id_col, vec_col, crows, nprobe, id_type)

    blocks = F.array(*[F.lit(j).cast("long") for j in range(n_blocks)])
    q_side = (
        assigned.select(id_col, "list_id", F.col("_v").alias("_va"))
        .withColumn("_qb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
        .withColumn("_ob", F.explode(blocks))
    )
    # fresh names on the corpus side: cogroup's attribute dedup drops
    # right-side columns whose exprIds match the left (same-subplan self-pair)
    c_side = (
        assigned.filter(F.col("_home"))
        .select(
            F.col(id_col).alias("_rid"),
            F.col("list_id").alias("_rlist"),
            F.col("_v").alias("_rv"),
        )
        .withColumn("_ob", F.pmod(F.xxhash64(F.col("_rid")), F.lit(n_blocks)))
        .withColumn("_qb", F.explode(blocks))
    )

    out_partial = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("nn_id", id_type),
            T.StructField("_cos", T.DoubleType()),
            T.StructField("list_id", T.IntegerType()),
        ]
    )

    partial = (
        _pin_cogroup_partitioning(q_side, ["list_id", "_qb", "_ob"])
        .groupBy("list_id", "_qb", "_ob")
        .cogroup(
            _pin_cogroup_partitioning(
                c_side, ["_rlist", "_qb", "_ob"]
            ).groupBy("_rlist", "_qb", "_ob")
        )
        .applyInPandas(
            _tile_topk_score_fn(id_col, k, q_vec="_va", list_col="list_id"),
            schema=out_partial,
        )
    )
    # rank by the ROUNDED cosine (the 6-dp value both engines must already
    # agree on for the output hash), then nn_id: raw-cosine ordering made
    # the winner at a tie depend on sub-1e-13 float association — exact
    # ties are realizable (scaled copies of one embedding direction), and
    # the GEMM twins associate differently from the fold-dot oracle
    w = W.partitionBy(id_col).orderBy(
        F.round(F.col("_cos"), 6).desc(), F.col("nn_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("nn_id"),
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            F.col("rank"),
            F.col("list_id"),
        )
    )


def _quantizer_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    centroids: DataFrame | None,
) -> list[tuple[int, list[float], float]]:
    """Collect the tiny quantizer to driver rows (cid, vector, norm) — from
    a pre-trained ``centroids`` table, or the deterministic first-N-by-id
    seed set when none is given. O(k) rows either way."""
    if centroids is not None:
        return [
            (int(r["_cid"]), list(r["_cv"]), float(r["_cn"]))
            for r in centroids.orderBy("_cid").collect()
        ]
    base = with_norm(df, id_col, vec_col).filter(F.col("_n") > 0)
    seed_rows = (
        base.orderBy(id_col).limit(n_centroids).select("_v", "_n").collect()
    )
    return [
        (i + 1, list(r["_v"]), float(r["_n"])) for i, r in enumerate(seed_rows)
    ]


def _gemm_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    crows: list[tuple[int, list[float], float]],
    nprobe: int,
    id_type,
) -> DataFrame:
    """Quantizer assignment as one vectors x centroids GEMM per Arrow batch
    (``mapInPandas``): the quantizer becomes a numpy literal inside the
    closure, each batch emits its ``nprobe`` nearest list ids (ties by _cid
    asc via lexsort — identical to the join form's row_number ordering).
    No shuffle, no window: the per-id argmin that would cost an n x C
    exchange is a per-batch argmax. Zero-norm / null vectors are excluded
    (no cosine direction). Returns (id_col, _v, list_id, _home) with
    ``_home`` marking the single nearest list. Shared by
    :func:`ann_ivf_topk_blocked` and :func:`semantic_dedup`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cids = np.array([c[0] for c in crows], dtype=np.int32)
    C = np.stack([np.asarray(c[1], dtype=np.float64) for c in crows])
    cn = np.array([c[2] for c in crows], dtype=np.float64)
    np_probe = min(nprobe, len(cids))
    assign_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("_v", T.ArrayType(T.DoubleType())),
            T.StructField("list_id", T.IntegerType()),
            T.StructField("_home", T.BooleanType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
            vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            ok = vn > 0  # zero-norm vectors have no direction: excluded
            if not ok.all():
                pdf = pdf[ok].reset_index(drop=True)
                if pdf.empty:
                    continue
                V, vn = V[ok], vn[ok]
            sims = (V @ C.T) / np.outer(vn, cn)
            m = len(V)
            # per-row order by (cos desc, _cid asc) — lexsort's last key is
            # primary, so ties on cos break to the smaller centroid id,
            # matching the join form's row_number ordering exactly
            order = np.lexsort(
                (np.broadcast_to(cids, sims.shape), -sims), axis=1
            )[:, :np_probe]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), np_probe),
                    "_v": np.repeat(pdf["_v"].to_numpy(), np_probe),
                    "list_id": cids[order].ravel(),
                    "_home": np.tile(np.arange(np_probe) == 0, m),
                }
            )

    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _to_double(F.col(vec_col)).alias("_v"))
        .mapInPandas(assign, schema=assign_schema)
    )


def _tile_drop_fn(id_col: str, threshold: float, strip: int = 512):
    """Arrow tile flagger for :func:`semantic_dedup`: float64 GEMM per
    (cluster, query_block, corpus_block) tile, emitting the query ids that
    have ANY lower-id neighbor at cosine >= threshold in the tile. Output
    is ids only — a tile never materializes its pair list.

    The GEMM runs in ``strip``-row query slices, each reduced to hit
    flags while the slice's cosine block is still cache-resident: the
    full q x o tile (312 MB float64 at the default 6250-row blocks) never
    exists, so per-task memory is bounded by ``strip`` x |corpus block|
    (~25 MB) INDEPENDENT of ``n_blocks`` — unlike raising ``n_blocks``,
    which bounds tile memory only by replicating corpus rows B-fold
    through the cogroup shuffle. Measured ~1.2x faster on the kernel too
    (DRAM write+readback of the full tile eliminated; probe variant in
    tools/host_probes.py). Per-element float math is unchanged (same
    (q.x)/(|q||x|) expression per pair); BLAS may re-block the smaller
    GEMM, which is inside the documented ~1e-13 association bet."""
    import numpy as np
    import pandas as pd

    def flag_tile(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({id_col: []})
        qid = lpdf[id_col].to_numpy()
        rid = rpdf["_rid"].to_numpy()
        Q = np.stack(lpdf["_va"].to_numpy()).astype(np.float64, copy=False)
        X = np.stack(rpdf["_rv"].to_numpy()).astype(np.float64, copy=False)
        xn = np.sqrt(np.einsum("ij,ij->i", X, X))
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        Xt = X.T
        hit = np.empty(len(qid), dtype=bool)
        for i in range(0, len(qid), strip):
            cos = (Q[i : i + strip] @ Xt) / np.outer(qn[i : i + strip], xn)
            hit[i : i + strip] = (
                (cos >= threshold) & (rid[None, :] < qid[i : i + strip, None])
            ).any(axis=1)
        return pd.DataFrame({id_col: qid[hit]})

    return flag_tile


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_clusters: int = 8,
    centroids: DataFrame | None = None,
    n_blocks: int = 4,
    max_cluster_size: int | None = None,
    salt: str = "ivfseed",
) -> DataFrame:
    """Semantic (embedding-space) dedup — the SemDeDup recipe (Abbas et al.
    2023, arXiv:2303.09540) Spark-first: cluster embeddings with a coarse
    quantizer, then prune near-duplicates WITHIN each cluster only, so the
    pair stage is bounded by cluster sizes instead of n^2.

    Keep rule (deterministic, parallelism-invariant): a row is DROPPED iff
    some SAME-CLUSTER row with a smaller id has cosine >= ``threshold`` to
    it — each duplicate neighborhood keeps its smallest-id exemplar. (The
    paper keeps a per-group exemplar chosen arbitrarily; min-id is the
    engine-reproducible choice, mirroring exact_dedup/line_dedup.) The rule
    needs only an EXISTS per row, so tiles emit flagged ids, never pairs.

    Stages, all scale-shaped:
    * quantizer: caller-provided ``centroids`` (production: k-means on a
      sample via ``train_ivf_centroids``) or the deterministic
      SQL-replayable :func:`farthest_point_centroids` — O(k) driver rows;
    * assignment: one GEMM per Arrow batch (:func:`_gemm_assign`), no
      shuffle, no window;
    * within-cluster screen: cogrouped GEMM tiles keyed on (cluster,
      query_block, corpus_block) — the :func:`cosine_topk_blocked` block
      scheme, so ``n_blocks`` bounds tile memory even when one cluster is
      hot; ``max_cluster_size`` additionally EXEMPTS clusters above the cap
      from pruning entirely (their rows keep=true — the honest bound when
      a degenerate quantizer piles the corpus into one list);
    * null / zero-norm vectors have no cosine direction: kept
      unconditionally with cluster_id NULL.

    Determinism: GEMM sums associate differently from the sequential fold;
    a keep flip needs two cosines straddling ``threshold`` within ~1e-13 —
    the same documented bet as the blocked top-k family, verified
    value-exact against the fold-dot DuckDB oracle at sf0.01 and sf0.1.

    Output: (id_col, cluster_id INT nullable, keep BOOLEAN) — one row per
    input row.
    """
    from pyspark.sql import types as T

    crows = _quantizer_rows(
        df, id_col, vec_col, n_clusters, centroids
    ) if centroids is not None else [
        (int(r["_cid"]), list(r["_cv"]), float(r["_cn"]))
        for r in farthest_point_centroids(
            df, id_col, vec_col, k=n_clusters, salt=salt
        ).collect()
    ]
    id_type = df.schema[id_col].dataType

    normed = with_norm(df, id_col, vec_col)
    degenerate = normed.filter(
        F.col("_n").isNull() | (F.col("_n") <= 0)
    ).select(
        F.col(id_col),
        F.lit(None).cast("int").alias("cluster_id"),
        F.lit(True).alias("keep"),
    )
    if not crows:
        # empty quantizer table: nothing can cluster, so nothing dedups —
        # every row is kept unclustered (mirrors the blocked-IVF empty guard)
        return df.select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(True).alias("keep"),
        )

    asg = _gemm_assign(df, id_col, vec_col, crows, nprobe=1, id_type=id_type)

    if max_cluster_size is not None:
        sizes = asg.groupBy("list_id").agg(F.count(F.lit(1)).alias("_csz"))
        asg_sz = asg.join(F.broadcast(sizes), "list_id")
        exempt = asg_sz.filter(F.col("_csz") > max_cluster_size).select(
            F.col(id_col),
            F.col("list_id").alias("cluster_id"),
            F.lit(True).alias("keep"),
        )
        screened = asg_sz.filter(F.col("_csz") <= max_cluster_size).drop("_csz")
    else:
        exempt = None
        screened = asg

    blocks = F.array(*[F.lit(j).cast("long") for j in range(n_blocks)])
    q_side = (
        screened.select(id_col, "list_id", F.col("_v").alias("_va"))
        .withColumn("_qb", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)))
        .withColumn("_ob", F.explode(blocks))
    )
    # fresh names on the corpus side: cogroup's attribute dedup drops
    # right-side columns whose exprIds match the left (same-subplan self-pair)
    c_side = (
        screened.select(
            F.col(id_col).alias("_rid"),
            F.col("list_id").alias("_rlist"),
            F.col("_v").alias("_rv"),
        )
        .withColumn("_ob", F.pmod(F.xxhash64(F.col("_rid")), F.lit(n_blocks)))
        .withColumn("_qb", F.explode(blocks))
    )
    drop_schema = T.StructType([T.StructField(id_col, id_type)])
    drops = (
        _pin_cogroup_partitioning(q_side, ["list_id", "_qb", "_ob"])
        .groupBy("list_id", "_qb", "_ob")
        .cogroup(
            _pin_cogroup_partitioning(
                c_side, ["_rlist", "_qb", "_ob"]
            ).groupBy("_rlist", "_qb", "_ob")
        )
        .applyInPandas(_tile_drop_fn(id_col, threshold), schema=drop_schema)
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    verdicts = (
        screened.select(id_col, F.col("list_id").alias("cluster_id"))
        .join(drops, id_col, "left")
        .select(
            F.col(id_col),
            "cluster_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )
    out = verdicts.unionByName(degenerate)
    if exempt is not None:
        out = out.unionByName(exempt)
    return out


def farthest_point_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int, salt: str = "ivfseed"
) -> DataFrame:
    """Deterministic, engine-reproducible IVF quantizer: k-center
    (farthest-point / Gonzalez) seeding under cosine distance.

    seed 1 = the vector with the smallest md5(id#salt) (a pseudo-random but
    deterministic draw — unlike first-N-by-id it is independent of how ids
    were assigned); seed j = the vector minimizing max cosine to the seeds
    chosen so far (i.e. the farthest remaining point), ties by id. Every
    comparison is over per-row left-associated dot products, so a SQL engine
    replays the selection EXACTLY — no cross-row float aggregation (a
    k-means mean would be summation-order-dependent across engines).

    When k exceeds the number of distinct vector directions the argmin
    re-selects the smallest-id farthest point, so the returned table can
    contain repeated vectors — harmless for search (assignment ties break
    by _cid) and kept deliberately: the selection rule must stay replayable
    in SQL, and an early-exit would desynchronize the two engines.

    k-1 TakeOrdered passes over the corpus; each seed becomes a literal in
    the next pass's expression. Returns the ``centroids`` table that
    ``ann_ivf_topk`` accepts (``_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE``).
    Spread-out seeds give far better inverted-list balance than first-N
    (see test_ivf_quantizer_balance). For production-size corpora train on
    a sample via ``train_ivf_centroids`` instead (one pass, driver k-means).

    Zero-norm vectors are excluded from selection (family rule: no cosine
    direction — as a seed every later max-cos term would divide by zero,
    and under ANSI mode the first pass throws outright); the DuckDB
    replay (_fps_cent_ctes) carries the identical exclusion."""
    from geofeaturegeneration_spark.functions.text import md5_long

    normed = with_norm(df, id_col, vec_col).filter(F.col("_n") > 0)
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    first_rows = (
        normed.withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(1)
        .select("_v", "_n")
        .collect()
    )
    if not first_rows:
        raise ValueError("farthest_point_centroids: empty corpus")
    first = first_rows[0]
    seeds: list[tuple[int, list[float], float]] = [
        (1, [float(x) for x in first["_v"]], float(first["_n"]))
    ]
    for j in range(2, k + 1):
        cos_to = [
            _dot(F.col("_v"), F.array(*[F.lit(x) for x in sv]))
            / (F.col("_n") * F.lit(sn))
            for _, sv, sn in seeds
        ]
        maxcos = cos_to[0] if len(cos_to) == 1 else F.greatest(*cos_to)
        row = (
            normed.withColumn("_mc", maxcos)
            .orderBy(F.col("_mc").asc(), F.col(id_col).asc())
            .limit(1)
            .select("_v", "_n")
            .collect()[0]
        )
        seeds.append((j, [float(x) for x in row["_v"]], float(row["_n"])))
    return df.sparkSession.createDataFrame(
        seeds, "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE"
    )


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    sample_n: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    salt: str = "ivfsample",
) -> DataFrame:
    """Production IVF quantizer trainer: hash-deterministic sample (the
    ``sample_n`` smallest md5(id#salt) — stable under re-runs and cluster
    size, unlike TABLESAMPLE) -> driver-side spherical k-means (kmeans++
    init + Lloyd) on the sample -> broadcast-ready centroid table.

    The sample collect is the only driver transfer (sample_n x dim doubles;
    10k x 64 ~ 5 MB). Centroids are unit-normalized, so ``_cn`` is 1.0 and
    ``ann_ivf_topk``'s cosine assignment works unchanged. The reference's
    spiritual analog is the PoI join's build-once-reuse-everywhere side
    (AttachFeature.py:497-501) — train once, search many. Zero-norm
    vectors are excluded from the sample (family rule: they have no
    direction on the unit sphere and would seed a degenerate center)."""
    import numpy as np

    from geofeaturegeneration_spark.functions.text import md5_long

    normed = with_norm(df, id_col, vec_col).filter(F.col("_n") > 0)
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    rows = (
        normed.withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(sample_n)
        .select("_v", "_n")
        .collect()
    )
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    norms = np.array([r["_n"] for r in rows], dtype=np.float64)
    X = X / np.maximum(norms, 1e-300)[:, None]
    n = len(X)
    if n == 0:
        raise ValueError(
            "train_ivf_centroids: the sample is empty (no rows with a "
            "non-degenerate embedding) — nothing to train on. Callers "
            "composing pipelines should skip quantizer training when the "
            "surviving corpus is empty."
        )
    k_eff = min(k, n)
    rng = np.random.default_rng(seed)

    # kmeans++ on the unit sphere (distance = 1 - cos)
    centers = np.empty((k_eff, X.shape[1]))
    centers[0] = X[rng.integers(n)]
    d2 = 1.0 - X @ centers[0]
    for j in range(1, k_eff):
        p = np.maximum(d2, 0)
        p = p / p.sum() if p.sum() > 0 else np.full(n, 1.0 / n)
        centers[j] = X[rng.choice(n, p=p)]
        d2 = np.minimum(d2, 1.0 - X @ centers[j])

    for _ in range(iters):
        sims = X @ centers.T
        assign = sims.argmax(axis=1)
        for j in range(k_eff):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    centers[j] = m / nm

    return df.sparkSession.createDataFrame(
        [(j + 1, [float(x) for x in centers[j]], 1.0) for j in range(k_eff)],
        "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE",
    )


def lloyd_refine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    iters: int = 1,
    scale: int = 10**9,
) -> DataFrame:
    """Distributed spherical-k-means (Lloyd) refinement of a quantizer:
    the FULL-CORPUS sibling of :func:`train_ivf_centroids`'s driver k-means
    — every iteration assigns every corpus vector and recomputes every
    centroid inside Spark, so the refinement sees all the data, not a
    sample. Upgrades any seed table (:func:`farthest_point_centroids`,
    :func:`train_ivf_centroids`, or hand-picked) in place; returns the
    same ``(_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE)`` shape that
    ``ann_ivf_topk`` / ``semantic_dedup`` accept (``_cn`` = 1.0 for
    refined centers).

    Determinism contract (why this is SQL-replayable where a naive
    ``avg()`` k-means is not): the spherical mean ``Σ x_i/|x_i|`` is a
    cross-row FLOAT sum, which Spark aggregates in shuffle order — so
    each unit coordinate is quantized to ``round(scale * x/|x|)`` and
    summed as EXACT int64 (the scaled-int rule, shared with a
    since-retired query: quantize each float before any cross-row sum,
    so the sum is exact and independent of shuffle order).
    The only floats are per-centroid finishers over the k×dim exact sums
    (left-associated sum of squares → sqrt → one division per
    coordinate), each a fixed-order expression both engines replay
    bit-for-bit. Assignment argmax is ``greatest`` over per-centroid
    structs ``(cos, -cid)`` — max is exact, ties break to the smaller
    cid, identical to the ``row_number (ORDER BY cos DESC, cid)`` form in
    the DuckDB oracle. Empty clusters and all-zero coordinate sums keep
    their previous centroid (standard Lloyd practice, and it keeps the
    engines in lock-step). Zero-norm input vectors are excluded
    (family rule: no cosine direction).

    Scale shape: per iteration the corpus is scanned ONCE; the k
    centroids ride into the executors as expression literals (the
    :func:`farthest_point_centroids` pattern), so assignment is pure
    map-side — the iteration's only shuffle is the (cid, dim) int-sum
    aggregate, which partial-agg collapses to k×dim rows per task before
    the exchange. Driver traffic is O(k·dim) per iteration (the same
    rows a broadcast would ship). Expression size grows with k·dim —
    for k beyond a few hundred use :func:`_gemm_assign`-style batching
    (``ann_ivf_topk_blocked``) for the search itself and train on a
    sample instead. No analog in the reference (its only trained
    artifact is the PoI category table, AttachFeature.py:497-501); this
    is the missing train-on-everything path the round-3 review noted
    ``train_ivf_centroids`` approximates from a sample."""
    import math

    if iters < 0:
        raise ValueError("iters must be >= 0")
    crows = _quantizer_rows(df, id_col, vec_col, 0, centroids)
    if not crows:
        raise ValueError("lloyd_refine: empty centroid table")
    spark = df.sparkSession
    normed = with_norm(df, id_col, vec_col).filter(F.col("_n") > 0)
    dim = len(crows[0][1])
    for _ in range(iters):
        structs = [
            F.struct(
                (
                    _dot(F.col("_v"), F.array(*[F.lit(x) for x in cv]))
                    / (F.col("_n") * F.lit(cn))
                ).alias("_c"),
                F.lit(-cid).alias("_nc"),
            )
            for cid, cv, cn in crows
        ]
        best = structs[0] if len(structs) == 1 else F.greatest(*structs)
        assigned = normed.select(
            (-best["_nc"]).alias("_cid"), F.col("_v"), F.col("_n")
        )
        sums = (
            assigned.select(
                "_cid", "_n", F.posexplode("_v").alias("_d0", "_x")
            )
            .select(
                "_cid",
                (F.col("_d0") + 1).alias("d"),
                F.round(F.lit(float(scale)) * F.col("_x") / F.col("_n"))
                .cast("long")
                .alias("_s"),
            )
            .groupBy("_cid", "d")
            .agg(F.sum("_s").alias("s"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in sums:
            by_cid.setdefault(int(r["_cid"]), {})[int(r["d"])] = int(r["s"])
        nxt: list[tuple[int, list[float], float]] = []
        for cid, cv, cn in crows:
            sd = by_cid.get(cid)
            if sd is None:
                nxt.append((cid, cv, cn))  # empty cluster: keep previous
                continue
            sv = [float(sd[d]) for d in range(1, dim + 1)]
            acc = 0.0
            for x in sv:  # left-associated, same fold as the oracle
                acc = acc + x * x
            nrm = math.sqrt(acc)
            if nrm == 0.0:
                nxt.append((cid, cv, cn))  # cancelled to zero: keep
                continue
            nxt.append((cid, [x / nrm for x in sv], 1.0))
        crows = nxt
    return spark.createDataFrame(
        crows, "_cid INT, _cv ARRAY<DOUBLE>, _cn DOUBLE"
    )


def ann_lsh_topk(
    df: DataFrame, id_col: str, vec_col: str, k: int = 3, n_bits: int = 8
) -> DataFrame:
    """Approximate top-k: brute-force cosine but only within each sign-LSH
    bucket. One equi-join on bucket replaces the cross join — the scale
    path. Zero-norm vectors are excluded (family rule).
    Output: (id_col, nn_id, cos_sim, rank, bucket)."""
    v = _to_double(F.col(vec_col))
    normed = df.select(
        F.col(id_col),
        v.alias("_v"),
        _norm(v).alias("_n"),
        lsh_bucket(vec_col, n_bits).alias("bucket"),
    ).filter(F.col("_n") > 0)
    a = normed.select(
        F.col(id_col), F.col("bucket"),
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    b = normed.select(
        F.col(id_col).alias("nn_id"), F.col("bucket"),
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # rank by the ROUNDED cosine (the 6-dp value both engines must already
    # agree on for the output hash), then nn_id: raw-cosine ordering made
    # the winner at a tie depend on sub-1e-13 float association — exact
    # ties are realizable (scaled copies of one embedding direction), and
    # the GEMM twins associate differently from the fold-dot oracle
    w = W.partitionBy(id_col).orderBy(
        F.round(F.col("_cos"), 6).desc(), F.col("nn_id").asc()
    )
    return (
        a.join(b, "bucket")
        .filter(F.col(id_col) != F.col("nn_id"))
        .withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("nn_id"),
            F.round(F.col("_cos"), 6).alias("cos_sim"),
            F.col("rank"),
            F.col("bucket"),
        )
    )
