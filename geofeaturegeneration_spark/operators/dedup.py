"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

No analog exists in the reference (its dedup is `drop_duplicates` on keys,
GenerateGeographicFeature.py:331); these are the document-level dedup
operators a pre-training data pipeline runs at 100 TB. All stages are pure
DataFrame ops — explode/groupBy/join — so Catalyst handles partial aggs and
AQE handles skew; there is no Python in the hot path.

Determinism contract: the only hash primitive is md5 (via
functions.text.md5_long), so any engine (DuckDB oracle, pandas test oracle)
reproduces identical signatures/buckets/pairs.

Scale notes:
* exact dedup: hash-groupBy on a 60-bit fingerprint — one shuffle of
  (fp, id), never the document bodies.
* MinHash: explode-to-shingles is the wide stage; distinct (doc, shingle)
  bounds it. Signatures = one groupBy of (doc, perm). Bucket self-join is
  quadratic per bucket — cap pathological buckets (`max_bucket_size`)
  exactly like production LSH systems drop degenerate bands.
* SimHash: one explode + two groupBys, all long arithmetic.
* n-gram Jaccard: pair candidates come from an equi-join on shingle hash —
  only docs sharing at least one shingle ever meet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geofeaturegeneration_spark.functions.text import fingerprint, md5_long, words

MERSENNE31 = 2_147_483_647  # prime modulus for minhash permutations


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Group by normalized-content fingerprint; keep the smallest id as the
    canonical copy. Returns (fp, n_copies, keep_id) — join back on fp to
    filter the corpus."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """k-word shingle hashes per doc: (id, h) with
    h = md5_long(shingle) % MERSENNE31. Docs shorter than k words produce no
    shingles (empty sequence), matching the SQL generate_series semantics.
    ``distinct=False`` skips the dedup shuffle — correct for consumers whose
    aggregate is duplicate-insensitive (min for minhash)."""
    out = (
        df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("_gfs_w"))
        .select(F.col(id_col), F.explode(_shingles_expr("_gfs_w", k)).alias("_sh"))
        .select(F.col(id_col), (md5_long(F.col("_sh")) % MERSENNE31).alias("h"))
    )
    return out.distinct() if distinct else out


def _shingles_expr(words_col: str, k: int):
    """array<string> of the k-word shingles of the PRE-SPLIT word-array
    column ``words_col`` (same CASE guard as shingle_hashes: docs shorter
    than k words yield an EMPTY array, not a descending sequence — Spark's
    ``sequence(1, 0)`` DESCENDS).

    Takes a staged words COLUMN, not the raw text: higher-order-function
    lambdas are CodegenFallback with no subexpression elimination, so a
    ``split(text)`` written inside the lambda body is re-executed for
    EVERY shingle index — O(words^2) characters per document. Splitting
    once into a real column (an O(1) attribute read inside the lambda)
    makes shingling linear; measured 9.1x on 300-word docs (see BASELINE.md
    "Shingle staging"), and the gap grows with document length — at
    pretraining-scale docs (10^3..10^4 words) the quadratic form is the
    difference between a linear scan and an unusable stage. The column must
    be referenced >1 time in the produced expression (it is: size twice +
    slice) so CollapseProject keeps the staged alias un-inlined."""
    return F.expr(
        f"CASE WHEN size({words_col}) >= {k} THEN "
        f"transform(sequence(1, size({words_col}) - {k - 1}), "
        f"i -> array_join(slice({words_col}, i, {k}), ' ')) "
        f"ELSE array() END"
    )


def with_band_sigs(
    df: DataFrame,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    out_col: str = "_bands",
) -> DataFrame:
    """Per-ROW banded minhash signatures: adds ``out_col`` =
    array<struct<band int, sig_str string>> (empty for docs with no
    shingles), computed entirely inside one row — no explode, no groupBy.

    This is the STREAM-SAFE form of ``_band_sigs``: the batch path's
    explode+groupBy(min) would be a stateful aggregation on a stream,
    while here each minhash is an ``array_min`` over the doc's own
    shingle-hash array — bitwise the same values (min over the same
    multiset under the same (2i+1)*h+i²+1 mod M permutations), pinned by
    test_streaming parity. The shingle-hash array is STAGED as a real
    column so the md5-per-shingle work runs once, not once per
    permutation (CollapseProject keeps a non-cheap alias referenced 16
    times un-inlined — same reasoning as functions/grid.with_geohash)."""
    rpb = n_hashes // bands
    hcol = f"_gfs_shh_{out_col}"
    wcol = f"_gfs_w_{out_col}"
    df = df.withColumn(wcol, F.split(F.col(text_col), " ")).withColumn(
        hcol,
        F.transform(
            _shingles_expr(wcol, k), lambda s: md5_long(s) % MERSENNE31
        ),
    )
    mh = [
        F.array_min(
            F.transform(
                F.col(hcol),
                lambda h: (F.lit(2 * i + 1) * h + F.lit(i * i + 1)) % MERSENNE31,
            )
        )
        for i in range(n_hashes)
    ]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.concat_ws(
                    "-",
                    *[mh[i].cast("string") for i in range(j * rpb, (j + 1) * rpb)],
                ).alias("sig_str"),
            )
            for j in range(bands)
        ]
    )
    return df.withColumn(
        out_col,
        F.when(F.size(F.col(hcol)) > 0, band_structs).otherwise(
            F.array().cast("array<struct<band:int,sig_str:string>>")
        ),
    ).drop(hcol, wcol)


def minhash_band_signatures_rowwise(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, sig_str) from the per-row path — identical rows to
    ``minhash_band_signatures`` (shingle-less docs absent), usable on both
    batch and streaming DataFrames.

    ``explode_outer`` + a post-explode null filter, NOT plain ``explode``:
    InferFiltersFromGenerate turns a plain explode into a
    ``size(_bands) > 0`` filter below the Generate, and predicate pushdown
    then substitutes the ENTIRE staged signature expression tree into that
    filter condition — re-splitting the text inside the shingle lambda
    (the O(words^2) form _shingles_expr stages against) and recomputing
    all 16 minhashes a second time per row. The outer explode infers no
    filter; the null filter references the GENERATED column, which can
    never be pushed below the Generate. Same rows (null ``_bs`` = the
    empty-bands docs the inferred filter would have dropped); plan pinned
    by test_plan_audit.py::test_shingle_and_ngram_split_staged_once."""
    return (
        with_band_sigs(df, text_col, k, n_hashes, bands)
        .select(F.col(id_col), F.explode_outer(F.col("_bands")).alias("_bs"))
        .filter(F.col("_bs").isNotNull())
        .select(
            F.col(id_col),
            F.col("_bs.band").alias("band"),
            F.col("_bs.sig_str").alias("sig_str"),
        )
    )


def _minhash_wide(
    df: DataFrame, id_col: str, text_col: str, k: int, n_hashes: int
) -> DataFrame:
    """(id, _mh_0 .. _mh_{n-1}) in one groupBy — the shared core of
    minhash_signatures and minhash_lsh_pairs. min is duplicate-insensitive,
    so the shingle stream is NOT deduped (one shuffle saved)."""
    sh = shingle_hashes(df, id_col, text_col, k, distinct=False)
    aggs = [
        F.min(
            (F.lit(2 * i + 1) * F.col("h") + F.lit(i * i + 1)) % MERSENNE31
        ).alias(f"_mh_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
) -> DataFrame:
    """(id, i, mh): minhash value for permutation i = min over shingles of
    ((2i+1)*h + i^2+1) mod MERSENNE31. a*h stays < 2^63 because
    a <= 2*n_hashes and h < 2^31.

    All n_hashes permutations are computed as aggregates of ONE groupBy
    (map-side partial min + final min — no row expansion, no perm-table
    join): the shingle rows are touched exactly once regardless of
    n_hashes, which is what keeps this linear at corpus scale."""
    wide = _minhash_wide(df, id_col, text_col, k, n_hashes)
    return wide.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"_mh_{i}") for i in range(n_hashes)])).alias(
            "i", "mh"
        ),
    )


def _band_sigs(
    df: DataFrame, id_col: str, text_col: str, k: int, n_hashes: int, bands: int
) -> DataFrame:
    """(id, band, sig_str): one row per (doc, band), sig_str = the band's
    minhash values joined — the LSH bucket key. Built directly from the
    wide signature row (no re-aggregation)."""
    rpb = n_hashes // bands
    wide = _minhash_wide(df, id_col, text_col, k, n_hashes)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"_mh_{i}").cast("string")
                        for i in range(j * rpb, (j + 1) * rpb)
                    ],
                ).alias("sig_str"),
            )
            for j in range(bands)
        ]
    )
    return wide.select(
        F.col(id_col), F.explode(band_structs).alias("_bs")
    ).select(
        F.col(id_col),
        F.col("_bs.band").alias("band"),
        F.col("_bs.sig_str").alias("sig_str"),
    )


def minhash_band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Public band-signature stage: ``(id, band, sig_str)``, one row per
    (document, band). Per-document and embarrassingly parallel — the
    persistable/resumable first stage of a staged dedup pipeline
    (jobs/run_dedup.py); feed the stored table to
    ``lsh_pairs_from_band_sigs``. Signatures are identical to what
    ``minhash_lsh_pairs`` computes inline, so staged and single-shot runs
    agree exactly."""
    return _band_sigs(df, id_col, text_col, k, n_hashes, bands)


def minhash_lsh_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-corpus candidate pairs (id_a from ``left``, id_b from
    ``right``) — the incremental-ingest dedup shape: screen a NEW batch
    against the accumulated corpus without re-pairing the corpus with
    itself (a self-join over corpus+batch grows quadratically with corpus
    size; this plan's join is batch-bands x corpus-bands only, and corpus
    band signatures can be precomputed/persisted between ingests).

    ``max_bucket_size`` caps the CORPUS side's bucket population (a
    degenerate corpus bucket — boilerplate shingles — would pair with
    every matching batch doc). Signatures are per-document, so they equal
    the self-join variant's for the same text."""
    la = _band_sigs(left, id_col, text_col, k, n_hashes, bands).select(
        "band", "sig_str", F.col(id_col).alias("id_a")
    )
    rb = _band_sigs(right, id_col, text_col, k, n_hashes, bands).select(
        "band", "sig_str", F.col(id_col).alias("id_b")
    )
    if max_bucket_size is not None:
        sizes = rb.groupBy("band", "sig_str").count()
        keep = sizes.filter(F.col("count") <= max_bucket_size).drop("count")
        rb = rb.join(keep, ["band", "sig_str"], "inner")
    return (
        la.join(rb, ["band", "sig_str"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from banded minhash LSH.

    rows_per_band = n_hashes // bands; two docs are candidates iff they agree
    on every minhash of at least one band. ``max_bucket_size`` drops
    degenerate buckets (scale guard; None = keep all).

    Band keys are built directly from the wide signature row (no
    re-aggregation): total plan = one shuffle for signatures + one for the
    bucket self-join."""
    band_sig = _band_sigs(df, id_col, text_col, k, n_hashes, bands)
    return lsh_pairs_from_band_sigs(band_sig, id_col, max_bucket_size)


def lsh_pairs_from_band_sigs(
    band_sig: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a ``(id, band, sig_str)`` band
    signature table — the second half of ``minhash_lsh_pairs``, split out
    so a staged pipeline can PERSIST signatures (the per-document,
    embarrassingly-parallel, resumable stage) and run the global bucket
    self-join over the stored table (jobs/run_dedup.py)."""
    if max_bucket_size is not None:
        sizes = band_sig.groupBy("band", "sig_str").count()
        keep = sizes.filter(F.col("count") <= max_bucket_size).drop("count")
        band_sig = band_sig.join(keep, ["band", "sig_str"], "inner")
    a = band_sig.select(
        F.col("band"), F.col("sig_str"), F.col(id_col).alias("id_a")
    )
    b = band_sig.select(
        F.col("band"), F.col("sig_str"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band", "sig_str"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct k-word shingle sets for every
    pair sharing >= 1 shingle; keep pairs with jaccard >= threshold.

    The shingle equi-join means cost is sum over shingles of (docs sharing
    it)^2. ``max_doc_freq`` makes that bound EXPLICIT instead of
    AQE-dependent: shingles shared by more than ``max_doc_freq`` documents
    (stopword shingles are the documented hot-key case) are dropped from
    the universe BEFORE sizes are computed, so the result is the exact
    Jaccard over the filtered shingle universe — per-shingle pair cost is
    then <= max_doc_freq^2 by construction. None keeps every shingle
    (classic exact Jaccard).

    Physical shape: doc frequency and set sizes are attached to the shingle
    rows with windows (count over shingle, then count over doc) and carried
    through the h-join as extra ints, instead of joining separate frequency
    tables onto the pair table — the pair table is the big intermediate, so
    the carried-column form removes the most expensive joins of the naive
    plan. The two join inputs are identical subplans, so the shuffle is
    computed once (exchange reuse)."""
    from pyspark.sql import Window as W

    sh = shingle_hashes(df, id_col, text_col, k)
    if max_doc_freq is not None:
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("h")))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    sh = sh.withColumn("n_sh", F.count(F.lit(1)).over(W.partitionBy(id_col)))
    a = sh.select(F.col(id_col).alias("id_a"), "h", F.col("n_sh").alias("n_a"))
    b = sh.select(F.col(id_col).alias("id_b"), "h", F.col("n_sh").alias("n_b"))
    inter = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-doc SimHash over word occurrences (weight 1 per occurrence):
    bit b of the output is 1 iff sum over words of (2*bit_b(md5(word))-1) > 0.
    Returns (id, simhash:long).

    All ``bits`` bit-sums are aggregates of ONE groupBy (no bits-table join,
    no bits-fold row expansion): each word row is read once and contributes
    to all 32 partial sums map-side."""
    wordy = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("_w")
    ).select(F.col(id_col), md5_long(F.col("_w")).alias("h"))
    aggs = [
        F.sum(F.expr(f"2*((h div {1 << b}) % 2) - 1")).alias(f"_s_{b}")
        for b in range(bits)
    ]
    wide = wordy.groupBy(id_col).agg(*aggs)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"_s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return wide.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation: split the signature into (max_hamming+1) chunks —
    any pair within distance d agrees exactly on >= 1 chunk (pigeonhole), so
    an equi-join per chunk finds all candidates without a cross join."""
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    sig = simhash(df, id_col, text_col, bits)
    # all chunk keys emitted in ONE pass (posexplode of a literal-built
    # array) — a per-chunk union would replicate the signature subplan
    chunk_exprs = []
    for c in range(n_chunks):
        lo = c * chunk_bits
        width = chunk_bits if c < n_chunks - 1 else bits - lo
        chunk_exprs.append(F.expr(f"(simhash div {1 << lo}) % {1 << width}"))
    tagged = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*chunk_exprs)).alias("chunk", "ck"),
    )
    a = tagged.select(
        F.col("chunk"), F.col("ck"),
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    b = tagged.select(
        F.col("chunk"), F.col("ck"),
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    cand = (
        a.join(b, ["chunk", "ck"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.lit(0)
    for k in range(bits):
        ham = ham + F.expr(f"((sh_a ^ sh_b) div {1 << k}) % 2")
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int = 25
) -> DataFrame:
    """Connected components over a duplicate-pair table — the step that
    turns pairwise near-dup hits (MinHash/SimHash/embedding) into dedup
    CLUSTERS so exactly one document per group survives. Returns
    ``(id, component)`` for every id appearing in ``pairs``, where
    ``component`` = the smallest id in the node's component (deterministic,
    engine-reproducible — a DuckDB recursive CTE reaches the same fixpoint).

    Algorithm: min-label propagation. Each iteration every node takes the
    minimum label among itself and its neighbors; convergence needs
    O(component diameter) rounds — near-dup clusters are shallow (a hub
    document links its variants), so a handful of rounds suffices at any
    corpus size. Each round is one equi-join + one groupBy on the node id
    (shuffle partitioning reused round to round), with a localCheckpoint
    per round to cut the growing lineage and an O(1) driver-side
    convergence count. This is the simple variant of the large-star /
    small-star map-reduce CC algorithm; swap in star operations if
    components with large diameter ever appear (they do not in dedup)."""
    # cut the upstream lineage BEFORE symmetrizing: pairs is typically the
    # expensive MinHash/SimHash candidate query, and a union of two
    # projections of the UN-checkpointed frame executes that query once per
    # branch inside the checkpoint's own materialization (measured 2x the
    # pair-build cost on a 45k-doc corpus: 22s -> 14.5s for the whole
    # cluster stage); checkpoint the one-directional edge list first, then
    # both union branches are cheap reads of the same materialized blocks.
    # Every round's join + convergence count then reuses it for free.
    fwd = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=False)
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("component", F.col("id")).localCheckpoint(eager=False)
    for _ in range(max_iter):
        nbr = edges.join(
            labels.select(F.col("id").alias("dst"), "component"), "dst"
        ).select(F.col("src").alias("id"), "component")
        new_labels = (
            labels.select("id", "component")
            .union(nbr)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        changed = (
            labels.select("id", F.col("component").alias("_old"))
            .join(new_labels, "id")
            .filter(F.col("_old") != F.col("component"))
            .count()
        )
        # superseded checkpoint blocks are reclaimed by the ContextCleaner
        # once the driver drops the reference; collect promptly so at most
        # ~2 copies of the (id, component) table are live instead of one
        # per round (worst case still bounded: D copies spilling to disk)
        del labels
        import gc

        gc.collect()
        labels = new_labels
        if changed == 0:
            break
    else:
        # partially-propagated labels are silently wrong — refuse
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter; raise it or switch to "
            "large-star/small-star)"
        )
    return labels


def dedup_clusters(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Assign every document its dedup cluster: ``cluster_id`` = smallest
    doc id of its near-dup component PRESENT IN ``docs`` (itself for
    singletons), ``is_keeper`` marks the one survivor per cluster. The
    representative is re-derived from the docs side rather than taken from
    the component label, so every cluster has exactly one keeper even when
    ``pairs`` references ids outside ``docs`` (pre-filtered corpus, pairs
    mined from a superset) — otherwise a cluster whose component-min id is
    absent would keep NOTHING and a downstream ``filter(is_keeper)`` would
    drop every copy. Compose with any pair generator:
    ``dedup_clusters(docs, "doc_id", minhash_lsh_pairs(docs, ...))``."""
    cc = connected_components(pairs, a_col, b_col)
    assigned = (
        docs.select(id_col)
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("_comp"),
        )
    )
    reps = assigned.groupBy("_comp").agg(F.min(id_col).alias("cluster_id"))
    return (
        assigned.join(reps, "_comp")
        .select(id_col, "cluster_id")
        .withColumn("is_keeper", F.col("cluster_id") == F.col(id_col))
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
) -> DataFrame:
    """Exact substring-level dedup at k-token window granularity — the
    pretraining modality minhash/simhash (near-dup DOCUMENTS) and
    line_dedup (exact LINES) both miss: long verbatim spans embedded in
    otherwise-distinct documents (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" suffix-array use case,
    approximated at window granularity so it stays one linear DataFrame
    pass instead of a corpus-wide suffix array). No reference analog (its
    dedup is ``drop_duplicates`` on keys, GenerateGeographicFeature.py:331).

    Rule: every k-token window of every document is hashed; for each hash
    the single occurrence at the smallest (doc, position) WINS and every
    other occurrence marks its k tokens as duplicated. A document's
    duplicated windows are merged into maximal spans and those token
    ranges are cut; the document is reassembled from the surviving tokens.
    A span duplicated across documents therefore survives exactly once
    (at its globally-first position — including self-repeats later in the
    same winning document), and docs shorter than k tokens are never
    touched. Membership is a pure function of the corpus (md5), so any
    engine reproduces it.

    Returns (id_col, clean, n_tokens, n_dup_tokens): the reassembled text
    (tokens joined by single spaces), the doc's token count, and how many
    tokens were cut.

    Scale shape (the reason this is NOT the naive formulation):
    * window hashes: one staged split + one posexplode — rows = tokens, no
      k-times blowup (the shingle text is built by slice inside a
      transform over the STAGED word array; see _shingles_expr on why the
      split must be staged).
    * winner per hash: ONE groupBy(h) whose partial (map-side) min-struct
      shrinks a span duplicated 10^8 times to one row per map task —
      never 10^8 rows through one reducer (same shape as
      curation.line_dedup, and deliberately not a window row_number over
      the corpus-wide hash stream).
    * losers: equi-join back on h against the UNIQUE-per-h winner table —
      linear, then every later stage is keyed by doc id: rows = duplicated
      windows only (proportional to duplicated bytes, the thing being
      removed).
    * span merge: two narrow window passes over the per-doc loser stream
      (classic gaps-and-islands), then per-doc array complement-slicing —
      no per-token explode of the duplicated ranges.
    """
    return span_reassemble(
        df, span_dup_intervals(df, id_col, text_col, k), id_col, text_col
    )


def span_dup_intervals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
) -> DataFrame:
    """Stage 1 of ``span_dedup``, exposed for composed pipelines
    (jobs/run_dedup.py --span-dedup): the merged duplicated-token spans per
    document as (id_col, ds, de) half-open token ranges [ds, de). Docs with
    no duplicated window produce no rows. Computing intervals separately
    lets a checkpointed job persist this SMALL table (rows = maximal
    duplicated spans, proportional to duplicated bytes) once globally and
    then rewrite text per corpus bucket with ``span_reassemble``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window as W

    wcol = "_gfs_sd_w"
    toks = df.select(F.col(id_col), F.col(text_col)).withColumn(
        wcol, F.split(F.col(text_col), " ")
    )
    win = (
        toks.select(
            F.col(id_col),
            F.posexplode_outer(_shingles_expr(wcol, k)).alias("_pos", "_sh"),
        )
        # explode_outer + null filter, NOT plain explode:
        # InferFiltersFromGenerate would substitute the staged split tree
        # into a pushed-down filter and evaluate it twice per row
        .filter(F.col("_sh").isNotNull())
        .select(F.col(id_col), F.col("_pos"), md5_long(F.col("_sh")).alias("_h"))
    )
    winners = (
        win.groupBy("_h")
        .agg(F.min(F.struct(F.col(id_col), F.col("_pos"))).alias("_w"))
        .select(
            F.col("_h"),
            F.col(f"_w.{id_col}").alias("_wid"),
            F.col("_w._pos").alias("_wpos"),
        )
    )
    losers = (
        win.join(winners, "_h")
        .filter(
            (F.col(id_col) != F.col("_wid")) | (F.col("_pos") != F.col("_wpos"))
        )
        .select(F.col(id_col), F.col("_pos"))
    )
    # gaps-and-islands: loser windows [p, p+k) closer than k merge into one
    # maximal duplicated span [min, max+k)
    wdoc = W.partitionBy(id_col).orderBy(F.col("_pos"))
    isl = (
        losers.withColumn("_prev", F.lag("_pos").over(wdoc))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("_pos") - F.col("_prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(wdoc.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return isl.groupBy(id_col, "_isl").agg(
        F.min("_pos").cast("int").alias("ds"),
        (F.max("_pos") + k).cast("int").alias("de"),
    ).select(id_col, "ds", "de")


def span_reassemble(
    df: DataFrame,
    intervals: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Stage 2 of ``span_dedup``: cut the (id_col, ds, de) duplicated token
    ranges out of each document and reassemble the survivors — per-doc
    array complement-slicing, no per-token explode of the cut ranges.
    ``intervals`` rows must be disjoint per doc with gaps > 0 between them
    (what ``span_dup_intervals`` produces). Embarrassingly parallel per
    document: a composed job runs it per corpus bucket against the small
    persisted interval table. Returns (id_col, clean, n_tokens,
    n_dup_tokens)."""
    per_doc = intervals.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("ds").alias("_ds"), F.col("de").alias("_de")))
        ).alias("_dups"),
        F.sum(F.col("de") - F.col("ds")).alias("_ndup"),
    )

    wcol = "_gfs_sd_w"
    base = df.select(F.col(id_col), F.col(text_col)).withColumn(
        wcol, F.split(F.col(text_col), " ")
    )
    j = base.join(per_doc, id_col, "left")
    n = F.size(F.col(wcol))
    # complement slices: kept ranges are [0,d1.start), [d1.end,d2.start),
    # ..., [dlast.end, n) — islands are disjoint with gaps > 0 between
    # them, so every slice length is >= 0
    starts = F.concat(
        F.array(F.lit(0)), F.transform(F.col("_dups"), lambda d: d["_de"])
    )
    ends = F.concat(
        F.transform(F.col("_dups"), lambda d: d["_ds"]), F.array(n)
    )
    kept = F.flatten(
        F.zip_with(starts, ends, lambda s, e: F.slice(F.col(wcol), s + 1, e - s))
    )
    clean = F.when(
        F.col("_dups").isNull(), F.array_join(F.col(wcol), " ")
    ).otherwise(F.array_join(kept, " "))
    return j.select(
        F.col(id_col),
        clean.alias("clean"),
        n.cast("int").alias("n_tokens"),
        F.coalesce(F.col("_ndup"), F.lit(0)).cast("int").alias("n_dup_tokens"),
    )


def deletion_variants(key, max_dist: int):
    """Array of every string reachable from ``key`` by deleting up to
    ``max_dist`` characters (the SymSpell / symmetric-delete neighborhood,
    including the string itself), as pure array/HOF expressions.

    Soundness of the blocking it powers: if ``ed(s, t) <= d`` then an
    optimal alignment has ``subs + dels + ins <= d``; deleting from ``s``
    the substituted+deleted chars (``<= d`` of them) and from ``t`` the
    substituted+inserted chars (``<= d``) leaves the matched chars — the
    SAME string. So two strings within distance ``d`` always share a
    member of their ``<= d``-deletion neighborhoods: joining on variants
    is a COMPLETE candidate generator (no false negatives), unlike q-gram
    prefix heuristics. Neighborhood size is C(len, <=d) — cap the key
    length upstream (``functions.text.ascii_key``).

    Per CLAUDE.md's HOF rule the per-element work here is intrinsic
    (each variant is built once, O(len) chars); nothing corpus-sized is
    captured in a lambda body."""
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    one = F.lit(1)

    def _del1(v):
        # all single-char deletions of v; ANSI guard: sequence(1, 0)
        # DESCENDS in Spark 4.x, so empty v must short-circuit to an
        # empty array (typed off v itself, not a bare literal)
        return F.when(
            F.length(v) > 0,
            F.transform(
                F.sequence(one, F.length(v)),
                lambda i: F.concat(
                    v.substr(one, i - one), v.substr(i + one, F.length(v) - i)
                ),
            ),
        ).otherwise(F.slice(F.array(v), 1, 0))

    vs = F.array(key)
    for _ in range(max_dist):
        vs = F.array_distinct(
            F.flatten(F.transform(vs, lambda v: F.concat(F.array(v), _del1(v))))
        )
    return vs


def edit_join(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    max_dist: int = 1,
    min_len: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Edit-distance similarity self-join: every pair ``(id_a < id_b)``
    whose keys are within Levenshtein distance ``max_dist``, with the exact
    distance — the character-level sibling of ``minhash_lsh_pairs`` (token
    near-dups) and ``simhash_pairs`` (bit near-dups), for near-identical
    titles / URLs / boilerplate keys where token shingles are too coarse.
    No analog in the reference (its dedup is drop_duplicates,
    GenerateGeographicFeature.py:331).

    Plan: explode each key's symmetric-delete neighborhood
    (``deletion_variants`` — provably complete blocking), hash variants to
    60-bit ints so the equi-join shuffles narrow (variant, id, key<=max_len
    chars) rows, self-join on the variant hash, dedupe candidates, then
    verify with the JVM ``levenshtein``. Hash collisions only ADD
    candidates (killed by the verify), never lose pairs, so the result is
    EXACTLY the quadratic ``levenshtein(a,b) <= d`` join — which is the
    DuckDB oracle.

    Scale: row expansion is C(len, <=max_dist) per key on the truncated
    key column only (never the documents); the join is an equi-join AQE
    can skew-split. Degenerate keys (a corpus of near-empty titles all
    collapsing to the same variants) are the LSH hot-bucket problem —
    ``max_bucket_size`` drops variant buckets above the cap exactly like
    the minhash/ngram caps (documented recall loss, off by default so the
    operator stays oracle-exact). Keys shorter than ``min_len`` (default:
    empty keys) are excluded — matching everything within distance d of
    "" is noise, not similarity."""
    vr = edit_variant_table(
        df, id_col, key_col, max_dist=max_dist, min_len=min_len
    )
    if max_bucket_size is not None:
        sizes = vr.groupBy("_vh").count()
        keep = sizes.filter(F.col("count") <= max_bucket_size).drop("count")
        vr = vr.join(keep, "_vh", "inner")
    a = vr.select("_vh", F.col("id").alias("id_a"), F.col("key").alias("key_a"))
    b = vr.select("_vh", F.col("id").alias("id_b"), F.col("key").alias("key_b"))
    cand = (
        a.join(b, "_vh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "key_a", "id_b", "key_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("key_a", "key_b").cast("int"))
        .filter(F.col("dist") <= int(max_dist))
        .select("id_a", "id_b", "dist")
    )


def edit_variant_table(
    df: DataFrame,
    id_col: str,
    key_col: str,
    *,
    max_dist: int = 1,
    min_len: int = 1,
) -> DataFrame:
    """The persistable half of ``edit_join_cross``: one ``(vh, id, key)``
    row per symmetric-delete variant of each key. Build it ONCE over the
    accumulated corpus, store it (parquet), and screen every future ingest
    batch against the stored table — the same build-once-screen-forever
    contract as the persisted minhash band table."""
    keyed = df.select(
        F.col(id_col).alias("_eid"), F.col(key_col).alias("_ekey")
    ).filter(F.length("_ekey") >= int(min_len))
    # explode_outer: the generator tree is expensive HOF work — the plain
    # explode form lets InferFiltersFromGenerate clone it into a pushed
    # filter (the pinned shingle-split trap); variants always contain the
    # key itself so no null/empty rows need filtering afterwards
    return keyed.select(
        "_eid",
        "_ekey",
        F.explode_outer(deletion_variants(F.col("_ekey"), max_dist)).alias("_v"),
    ).select(
        md5_long(F.col("_v")).alias("_vh"),
        F.col("_eid").alias("id"),
        F.col("_ekey").alias("key"),
    )


def edit_join_cross(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    key_col: str,
    *,
    max_dist: int = 1,
    min_len: int = 1,
    max_bucket_size: int | None = None,
    right_variants: DataFrame | None = None,
    exclude_same_id: bool = True,
) -> DataFrame:
    """Cross-corpus edit-distance join (id_a from ``left``, id_b from
    ``right``, exact distance <= ``max_dist``) — the incremental-ingest
    shape of ``edit_join``: screen a NEW batch of keys against the
    accumulated corpus without the corpus ever meeting itself. Complete
    for the same reason as the self-join (each side contributes its own
    <=d-deletion neighborhood), so the result is exactly the quadratic
    cross levenshtein join — UNDER the ``exclude_same_id`` default, minus
    pairs whose two ids compare equal.

    ``exclude_same_id=True`` (default) treats equal ids as "the same
    document seen twice" and drops the pair — correct when the batch is a
    re-ingest sharing the corpus id space (the screen's original use).
    When the two corpora have INDEPENDENT id spaces (batch id 7 is
    unrelated to corpus id 7), an equal-id pair is a legitimate match:
    pass ``exclude_same_id=False`` to keep it, or guarantee disjoint id
    spaces upstream. (Precondition surfaced by the round-4 advisor —
    ADVICE.md r04 #1.)

    Pass ``right_variants`` (a stored ``edit_variant_table`` output) to
    skip recomputing the corpus side — at scale the corpus neighborhood
    is built once per ingest epoch, not once per batch.
    ``max_bucket_size`` caps the CORPUS side's variant buckets (a
    degenerate corpus key — boilerplate titles — would otherwise pair
    with every batch doc sharing the variant)."""
    la = edit_variant_table(
        left, id_col, key_col, max_dist=max_dist, min_len=min_len
    ).select("_vh", F.col("id").alias("id_a"), F.col("key").alias("key_a"))
    rb = (
        right_variants
        if right_variants is not None
        else edit_variant_table(
            right, id_col, key_col, max_dist=max_dist, min_len=min_len
        )
    ).select("_vh", F.col("id").alias("id_b"), F.col("key").alias("key_b"))
    if max_bucket_size is not None:
        sizes = rb.groupBy("_vh").count()
        keep = sizes.filter(F.col("count") <= max_bucket_size).drop("count")
        rb = rb.join(keep, "_vh", "inner")
    cand = la.join(rb, "_vh")
    if exclude_same_id:
        cand = cand.filter(F.col("id_a") != F.col("id_b"))
    cand = cand.select("id_a", "key_a", "id_b", "key_b").distinct()
    return (
        cand.withColumn("dist", F.levenshtein("key_a", "key_b").cast("int"))
        .filter(F.col("dist") <= int(max_dist))
        .select("id_a", "id_b", "dist")
    )
