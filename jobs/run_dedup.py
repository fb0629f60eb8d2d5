"""spark-submit entry point for resumable corpus-scale dedup.

    spark-submit --py-files gfg_spark.zip jobs/run_dedup.py \
        --input /path/to/documents --output /path/to/deduped \
        --checkpoint /path/to/ckpt [--buckets 8] [--max-bucket-size 1000] \
        [--force]

The flagship 100 TB story — (optional) text canonicalization (the only
text-REWRITING pre-filter: unicode/whitespace normalization, then C4
per-line rules + page verdict, so every later
stage hashes the CANONICAL bytes) -> (optional) quality filter ->
MinHash LSH pairs -> connected components -> (optional) test-set
decontamination -> keeper filter (+ optional mixing recipe + PII scrub
riding the output pass) —
(+ optional exact-substring span dedup over the surviving corpus) —
composed as ONE resumable pipeline behind the checkpoint store (reference
analog: the stage-separated pipeline of AttachFeature.py:1046-1112), not
just unit operators. Three to ten stages, each recorded per partition in
the CheckpointStore so a crash resumes without recomputing finished work:

-0.3. ``clean`` (optional, per doc-id hash bucket): text canonicalization
   — unicode/whitespace normalization (curation.normalize_text, --normalize)
   and/or C4 intra-document line cleaning (curation.clean_lines, --clean).
   Normalization runs first (fix the byte form, then judge lines), the
   line rules cut rule-failing lines and DROP page-verdict failures; every
   later stage reads this rewritten table instead of the raw corpus, so
   shingles, signatures, and the output all see the canonical bytes — the
   CCNet/C4 order (rewrites run before anything hashes text).
0. ``quality`` (optional, per doc-id hash bucket): C4/Gopher keep
   verdicts (curation.quality_filter) land as an ids-only table; every
   later stage semi-joins it, so rejected docs never reach the shingle
   pass — at 100 TB the filter pays for itself in stage-1 compute.
1. ``signatures`` (per doc-id hash bucket, embarrassingly parallel): band
   signatures via ``minhash_band_signatures`` written partitioned by
   bucket. At 10^12 docs this is the stage that dominates compute (shingle
   + minhash over every byte), and the stage where resume matters — each
   bucket re-runs in minutes.
2. ``clusters`` (global, one checkpoint unit): the LSH bucket self-join
   over the PERSISTED signature table (``lsh_pairs_from_band_sigs``, with
   the degenerate-bucket cap) -> ``dedup_clusters`` (connected components,
   O(diameter) rounds) -> (doc_id, cluster_id, is_keeper). Global because
   near-dup pairs cross doc buckets by construction; the inputs are the
   tiny signature rows, never the corpus text.
2.8 ``mix_rates`` (optional, global): ``--mix-alpha`` computes the
   temperature-scaled mixing recipe (curation.temperature_rates) over the
   SURVIVING corpus — keepers minus contamination — instead of taking
   explicit ``--mix`` rates; ``--mix-tokens`` weighs it by exact int64
   token counts (the token-budget form). The persisted
   table is |sources|-sized; the output stage applies it as the same
   source_sample draw.
3. ``output`` (per doc-id hash bucket): keeper filter — each bucket of the
   corpus equi-joins its slice of the cluster table and keeps survivors.
   Text bytes are only touched here and in stage 1. ``--scrub`` folds PII
   redaction (curation.pii_clean_col) into this same pass, and ``--mix``
   folds the source_sample mixing recipe (a pure function of doc_id):
   at 100 TB both are free when they ride a stage that already rewrites
   text, and both participate in the lineage key.
4. ``span_intervals`` (optional, global): duplicated k-token spans of the
   SURVIVING corpus as a small (doc_id, ds, de) interval table
   (dedup.span_dup_intervals — winners decided post-keeper/post-mix, so a
   span is never cut everywhere because its winner was dropped upstream).
5. ``span_clean`` (per doc-id hash bucket): rewrite the final text with
   the duplicated ranges cut (dedup.span_reassemble) into
   ``span_deduped/``.
6. ``shards`` (optional, global): deterministic global shuffle + fixed-
   size shard assignment (shuffle_shards) over the surviving docs — the
   webdataset-style export order, identical at any parallelism.
   ``--epochs`` (per-source repetition ppm, curation.epoch_upsample)
   multiplies rows INTO this training export only: copies carry a
   composite ``<id>#<epoch>`` identity through the shard permutation, the
   corpus tables stay one-copy-per-doc, and the rate tag rides a
   STAGE-LOCAL lineage key (shards only), so tuning epochs re-runs nothing
   upstream.

Determinism: signatures, pairs, components, and keeper choice are all pure
functions of the corpus (md5 hashing, min-label components, min-id
keeper), so kill/resume and full re-runs are byte-identical
(tests/test_checkpoint.py::test_dedup_pipeline_kill_resume_identical).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geofeaturegeneration_spark.checkpoint import (
    CheckpointStore,
    input_fingerprint,
    run_partitioned,
)
from geofeaturegeneration_spark.operators import (
    decontaminate,
    dedup_clusters,
    lsh_pairs_from_band_sigs,
    minhash_band_signatures,
    shuffle_shards,
    span_dup_intervals,
    span_reassemble,
)
from geofeaturegeneration_spark.functions.text import n_words
from geofeaturegeneration_spark.operators.curation import (
    clean_lines,
    epoch_upsample,
    normalize_text,
    pii_clean_col,
    quality_filter,
    source_sample,
    temperature_rates,
)
from geofeaturegeneration_spark.session import get_spark


def run_dedup_pipeline(
    spark,
    docs,
    out_root: str,
    ckpt_path: str,
    buckets: int = 4,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    job_id: str = "corpus_dedup",
    lineage: str = "xform=v1",
    force: bool = False,
    bench=None,
    bench_fingerprint: str | None = None,
    decon_min_hits: int = 1,
    scrub: bool = False,
    clean: bool = False,
    clean_kwargs: dict | None = None,
    normalize: str | None = None,
    quality: bool = False,
    quality_kwargs: dict | None = None,
    mix_rates_ppm: dict[str, int] | None = None,
    mix_by: str = "source",
    mix_default_ppm: int = 0,
    mix_alpha: float | None = None,
    mix_target_frac: float = 0.5,
    mix_by_tokens: bool = False,
    epoch_rates_ppm: dict[str, int] | None = None,
    epoch_default_ppm: int = 1_000_000,
    span_k: int | None = None,
    shard_size: int | None = None,
):
    """Run the dedup stages with per-stage checkpointed resume.

    ``docs`` must carry (doc_id, text); every column of ``docs`` is
    preserved on the surviving rows plus (cluster_id). ``bench`` (optional,
    (doc_id, text)) adds a checkpointed DECONTAMINATION stage: docs sharing
    >= ``decon_min_hits`` k-shingles with the benchmark set are dropped
    from the final output alongside dedup losers (resumable unit = corpus
    bucket, same as signatures — the bench shingle set is broadcast, so
    the stage is embarrassingly parallel too).

    ``clean=True`` prepends the C4 LINE-CLEANING stage (stage -0.3, per
    corpus bucket, before everything else — the C4 order: line rules run
    before anything hashes text): ``curation.clean_lines`` rewrites each
    doc's text with the rule-failing lines cut, DROPS page-verdict
    failures, and persists the cleaned table; every later stage —
    quality, shingling, and the output — reads the CLEANED
    bytes instead of the raw corpus. The only stage that
    rewrites text besides the output pass, which is why it must come
    first: a signature computed over raw bytes would not match the text
    the job ships. ``clean_kwargs`` override the C4 rule thresholds.

    ``normalize`` ("NFC" or "NFKC") prepends unicode + whitespace
    normalization (``curation.normalize_text``) to the same rewrite
    stage, BEFORE the line rules: two scrapes of the same page that
    differ only in byte form (NFD vs NFC accents, CRLF vs LF, stray
    controls, tab runs) hash identically afterwards, so the dedup
    actually catches them. The form is part of the lineage key.

    ``quality=True`` prepends a checkpointed QUALITY stage (stage 0, per
    corpus bucket): ``curation.quality_filter`` verdicts land as a
    (doc_id)-only keep table, and every later stage sees only the kept
    docs — rejected docs never reach the shingling pass, so at 100 TB the
    filter pays for itself in stage-1 compute. ``quality_kwargs`` override
    the filter's thresholds.

    ``mix_rates_ppm`` applies the ``curation.source_sample`` mixing recipe
    inside the output stage (docs must carry ``mix_by``): the draw is a
    pure function of doc_id, so like the PII scrub it rides the pass that
    already rewrites text — no extra stage, but it IS part of the lineage
    key (changing the recipe invalidates the output stage only).

    ``mix_alpha`` computes the recipe INSIDE the job instead (mutually
    exclusive with ``mix_rates_ppm``): a checkpointed MIX_RATES stage runs
    ``curation.temperature_rates`` over the surviving corpus (keepers
    minus contamination — the same population the output stage emits),
    so the temperature recipe reflects what dedup actually kept, not the
    raw input. ``mix_by_tokens=True`` weighs the
    recipe by exact int64 word-count sums (the token-budget form mixes are
    actually specified in; one extra text-bytes pass, which is why the
    stage is checkpointed). The rate table is |sources|-sized; the output
    stage reads it back and applies the identical source_sample draw.
    alpha/target/weighting are all in the lineage key.

    ``span_k`` appends the EXACT-SUBSTRING dedup modality over the
    surviving corpus: a global checkpointed stage persists the (small)
    duplicated-span interval table (``span_dup_intervals``; winners are
    decided on the post-keeper post-mix corpus so a span is never cut
    everywhere because its winner was dropped upstream), then a per-bucket
    stage rewrites the final text (``span_reassemble``) into
    ``span_deduped/``.

    ``shard_size`` appends the shuffle_shards TRAINING export over the
    final corpus (span-cleaned when ``span_k`` is set, else the deduped
    output): every surviving doc gets its position in a deterministic
    global permutation plus a fixed-size shard id. The shard size is in
    the lineage key.

    The full curation story — filter -> dedup ->
    decontaminate -> mix -> scrub -> span-dedup — is
    therefore ONE resumable artifact; per-stage wall-clock is recorded in
    the CheckpointStore (``latest()``). Returns the per-stage
    PartitionResult lists (3 to 10 of them, in pipeline order)."""
    if buckets < 1:
        # an empty key set would prune every existing per-bucket partition
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if mix_alpha is not None and mix_rates_ppm is not None:
        raise ValueError(
            "mix_alpha (computed temperature recipe) and mix_rates_ppm "
            "(explicit rates) are mutually exclusive"
        )
    if epoch_rates_ppm is not None and shard_size is None:
        raise ValueError(
            "epoch_rates_ppm materializes repeats into the TRAINING export "
            "(shards) — pass shard_size; for keep-or-drop mixing of the "
            "corpus itself use mix_rates_ppm"
        )
    store = CheckpointStore(spark, ckpt_path)
    qua_path = os.path.join(out_root, "quality")
    spn_path = os.path.join(out_root, "span_intervals")
    fin_path = os.path.join(out_root, "span_deduped")
    sig_path = os.path.join(out_root, "signatures")
    clu_path = os.path.join(out_root, "clusters")
    con_path = os.path.join(out_root, "contaminated")
    out_path = os.path.join(out_root, "deduped")
    bucket_keys = [str(b) for b in range(buckets)]
    bucket_of = F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("string")
    # EVERY knob that changes any stage's bytes is part of the lineage key,
    # so resuming into the same checkpoint dir with a different flag value
    # invalidates the affected stages instead of serving stale results:
    # max_bucket_size changes pairs -> clusters -> keepers, and the bench
    # dataset's identity changes the contamination stage.
    lineage = (
        f"{lineage};buckets={buckets};k={k};h={n_hashes};b={bands}"
        f";mbs={max_bucket_size}"
    )
    if bench is not None:
        lineage += f";decon={decon_min_hits};bench={bench_fingerprint or 'anon'}"
    if scrub:
        # scrub changes output BYTES, so it must invalidate the output
        # stage's checkpoints when toggled — hence part of the lineage key
        lineage += ";scrub=1"
    if clean:
        # cleaning changes the BYTES every later stage hashes, so it is
        # part of every stage's lineage key — toggling it (or any rule
        # threshold) invalidates the whole chain
        lineage += f";clean={sorted((clean_kwargs or {}).items())}"
    if normalize is not None:
        # normalization rewrites the bytes every later stage hashes, same
        # lineage rule as clean (and the form matters: NFC vs NFKC)
        lineage += f";norm={normalize}"
    if quality:
        lineage += f";quality={sorted((quality_kwargs or {}).items())}"
    if mix_rates_ppm is not None:
        lineage += (
            f";mix={mix_by}:{sorted(mix_rates_ppm.items())}:{mix_default_ppm}"
        )
    if mix_alpha is not None:
        # the computed recipe depends on alpha/target/weighting (the rate
        # TABLE depends on upstream stages too, but those share this
        # lineage key already)
        lineage += (
            f";tmix={mix_by}:{mix_alpha}:{mix_target_frac}"
            f":{int(mix_by_tokens)}"
        )
    if span_k is not None:
        lineage += f";span={span_k}"
    if shard_size is not None:
        lineage += f";shards={shard_size}"

    from pyspark.sql import types as T

    # stage -0.3 (optional): text canonicalization — unicode/whitespace
    # normalization (--normalize) and/or C4 intra-document line cleaning
    # (--clean), ONE stage because both REWRITE text and must run FIRST:
    # every later stage (quality, shingles, output) must
    # hash/ship the canonical bytes, so `docs` is rebound to the persisted
    # rewritten table once the stage lands. Normalization
    # runs before the line rules (CCNet/C4 order: fix the byte form, then
    # judge lines — an NFD accent or a CRLF must not defeat a line-level
    # rule or a shingle hash). Per-bucket and embarrassingly parallel
    # (both operators are zero-shuffle projections; the only join is
    # clean_lines' bucket-local column re-attach — it drops rows, so the
    # re-attach is semantic; normalize_text is row-preserving and carries
    # the non-text columns through its Arrow batches instead).
    cln_path = os.path.join(out_root, "clean")
    r_cln = None
    if clean or normalize is not None:
        doc_cols = [f.name for f in docs.schema.fields]

        def cln_one(key: str):
            part = docs.filter(bucket_of == key)
            if normalize is not None:
                # row-preserving rewrite: non-text columns ride the Arrow
                # batches (passthrough) — no doc_id re-attach join, no
                # second scan of the bucket (clean_lines below genuinely
                # needs the join because it DROPS rows)
                part = normalize_text(
                    part,
                    "doc_id",
                    "text",
                    form=normalize,
                    passthrough=tuple(
                        c for c in doc_cols if c not in ("doc_id", "text")
                    ),
                ).select(
                    *[
                        F.col("norm").alias("text") if c == "text" else c
                        for c in doc_cols
                    ]
                )
            if not clean:
                return part
            rep = clean_lines(
                part, "doc_id", "text", **(clean_kwargs or {})
            )
            cleaned = (
                rep.filter(F.col("keep"))
                .select("doc_id", F.col("clean").alias("text"))
            )
            # re-attach the non-text columns; original column order so the
            # re-read table's schema equals the raw corpus's
            return (
                part.drop("text").join(cleaned, "doc_id").select(*doc_cols)
            )

        r_cln = run_partitioned(
            spark, store, f"{job_id}/clean", bucket_keys, cln_one,
            cln_path, "part_key", lineage, force=force,
        )
        # every later stage reads the CLEANED corpus; explicit schema —
        # a bucket whose docs all failed the page verdict writes no files
        cln_schema = T.StructType(
            list(docs.schema.fields)
            + [T.StructField("part_key", T.StringType())]
        )
        docs = (
            spark.read.schema(cln_schema).parquet(cln_path)
            .filter(F.col("part_key").cast("string").isin(bucket_keys))
            .drop("part_key")
        )

        def docs_bucket(key: str):
            # partition-pruned read of one cleaned bucket — the part_key
            # predicate hits the directory layout, so a bucket stage scans
            # 1/buckets of the cleaned corpus instead of re-hashing it all
            return (
                spark.read.schema(cln_schema).parquet(cln_path)
                .filter(F.col("part_key").cast("string") == key)
                .drop("part_key")
            )
    else:
        def docs_bucket(key: str):
            return docs.filter(bucket_of == key)

    # stage 0 (optional): quality keep-verdicts per corpus bucket — every
    # later stage semi-joins this id table, so rejected docs never reach
    # the shingle pass
    r_qua = None
    if quality:
        def qua_one(key: str):
            part = docs_bucket(key)
            rep = quality_filter(part, "doc_id", "text", **(quality_kwargs or {}))
            return rep.filter(F.col("keep")).select("doc_id")

        r_qua = run_partitioned(
            spark, store, f"{job_id}/quality", bucket_keys, qua_one,
            qua_path, "part_key", lineage, force=force,
        )

    # explicit read schemas for the id-only stage tables: buckets that kept
    # or flagged nothing write no parquet files, and schema inference over
    # a file-less directory throws — the schemas are known statically
    _id_field = docs.schema["doc_id"]
    qua_schema = T.StructType(
        [_id_field, T.StructField("part_key", T.StringType())]
    )
    con_schema = T.StructType(
        [
            _id_field,
            T.StructField("n_hits", T.IntegerType()),
            T.StructField("part_key", T.StringType()),
        ]
    )

    def kept_only(part, key: str):
        """Restrict a bucket's docs to the quality keepers (a no-op when
        the quality stage is off)."""
        if not quality:
            return part
        kept = (
            spark.read.schema(qua_schema).parquet(qua_path)
            .filter(F.col("part_key").cast("string") == key)
            .select("doc_id")
        )
        return part.join(kept, "doc_id", "left_semi")

    def restrict_global(df):
        """Semi-join a global id-carrying table down to the quality
        keepers across all of this run's buckets (a no-op when the quality
        stage is off)."""
        if not quality:
            return df
        kept = (
            spark.read.schema(qua_schema).parquet(qua_path)
            .filter(F.col("part_key").cast("string").isin(bucket_keys))
            .select("doc_id")
        )
        return df.join(kept, "doc_id", "left_semi")

    # explicit read schemas for the signature/cluster tables too: a corpus
    # fully rejected by the pre-filters (legitimate under strict rules)
    # writes no parquet files, and schema inference over a file-less
    # directory throws — the job must degrade to empty outputs instead
    sig_schema = T.StructType(
        [
            _id_field,
            T.StructField("band", T.IntegerType()),
            T.StructField("sig_str", T.StringType()),
            T.StructField("part_key", T.StringType()),
        ]
    )
    clu_schema = T.StructType(
        [
            _id_field,
            T.StructField("cluster_id", _id_field.dataType),
            T.StructField("is_keeper", T.BooleanType()),
            T.StructField("part_key", T.StringType()),
        ]
    )

    # stage 1: band signatures per corpus bucket (resumable unit = bucket)
    def sig_one(key: str):
        part = kept_only(docs_bucket(key), key)
        return minhash_band_signatures(
            part, "doc_id", "text", k=k, n_hashes=n_hashes, bands=bands
        )

    r_sig = run_partitioned(
        spark, store, f"{job_id}/signatures", bucket_keys, sig_one,
        sig_path, "part_key", lineage, force=force,
    )

    # stage 2: global pairs -> components -> keepers over stored signatures
    def clusters_one(_key: str):
        # read ONLY this run's bucket partitions: dynamic partition
        # overwrite replaces just the part_keys that re-ran, so a previous
        # larger --buckets run can leave stale out-of-range part_key
        # directories on disk — the isin prunes them at the scan
        sigs = (
            spark.read.schema(sig_schema).parquet(sig_path)
            .filter(F.col("part_key").cast("string").isin(bucket_keys))
            .drop("part_key")
        )
        pairs = lsh_pairs_from_band_sigs(
            sigs, "doc_id", max_bucket_size=max_bucket_size
        )
        ids = restrict_global(docs.select("doc_id"))
        return dedup_clusters(ids, "doc_id", pairs)

    r_clu = run_partitioned(
        spark, store, f"{job_id}/clusters", ["all"], clusters_one,
        clu_path, "part_key", lineage, force=force,
    )

    # stage 2.5 (optional): contaminated doc ids per corpus bucket —
    # broadcast bench shingle set, embarrassingly parallel like stage 1
    r_con = None
    if bench is not None:
        def con_one(key: str):
            part = kept_only(docs_bucket(key), key)
            rep = decontaminate(
                part, "doc_id", "text", bench, "doc_id", "text",
                k=k, min_hits=decon_min_hits,
            )
            return rep.filter(F.col("contaminated")).select("doc_id", "n_hits")

        r_con = run_partitioned(
            spark, store, f"{job_id}/contamination", bucket_keys, con_one,
            con_path, "part_key", lineage, force=force,
        )

    # stage 2.8 (optional): computed temperature-mix recipe — ONE global
    # checkpoint unit producing the |sources|-sized rate table from the
    # SURVIVING corpus (keepers minus contamination, the exact population
    # the output stage emits). Token weighting costs one text-bytes pass,
    # which is why the result is checkpointed.
    mixr_path = os.path.join(out_root, "mix_rates")
    if mix_alpha is not None:
        mixr_schema = T.StructType(
            [
                docs.schema[mix_by],
                T.StructField("ppm", T.IntegerType()),
                T.StructField("part_key", T.StringType()),
            ]
        )

        def mixr_one(_key: str):
            clusters = (
                spark.read.schema(clu_schema).parquet(clu_path)
                .filter(F.col("is_keeper"))
                .select("doc_id")
            )
            kept = restrict_global(docs).join(clusters, "doc_id", "left_semi")
            if bench is not None:
                bad = (
                    spark.read.schema(con_schema).parquet(con_path)
                    .filter(F.col("part_key").cast("string").isin(bucket_keys))
                    .select("doc_id")
                )
                kept = kept.join(bad, "doc_id", "left_anti")
            if mix_by_tokens:
                kept = kept.withColumn("_w", n_words(F.col("text")))
            rates = temperature_rates(
                kept, by=mix_by, alpha=mix_alpha,
                target_frac=mix_target_frac,
                weight_col="_w" if mix_by_tokens else None,
            )
            return spark.createDataFrame(
                sorted(rates.items()), T.StructType(mixr_schema.fields[:-1])
            )

        r_mixr = run_partitioned(
            spark, store, f"{job_id}/mix_rates", ["all"], mixr_one,
            mixr_path, "part_key", lineage, force=force,
        )
        mix_rates_ppm = {
            r[mix_by]: r["ppm"]
            for r in spark.read.schema(mixr_schema).parquet(mixr_path)
            .drop("part_key").collect()
        }
    else:
        r_mixr = None

    # final stage: keeper filter (minus contaminated docs) per corpus
    # bucket (only stage touching text bytes besides 1 and 2.5)
    def out_one(key: str):
        clusters = spark.read.schema(clu_schema).parquet(clu_path).drop(
            "part_key"
        )
        part = kept_only(docs_bucket(key), key)
        out = (
            part.join(clusters, "doc_id")
            .filter(F.col("is_keeper"))
            .drop("is_keeper")
        )
        if bench is not None:
            bad = (
                spark.read.schema(con_schema).parquet(con_path)
                .filter(F.col("part_key").cast("string").isin(bucket_keys))
                .select("doc_id")
            )
            out = out.join(bad, "doc_id", "left_anti")
        if mix_rates_ppm is not None:
            # mixing recipe rides the output pass: the draw is a pure
            # function of doc_id (engine/cluster-size reproducible), so no
            # extra stage or shuffle — just a broadcast rate lookup
            out = source_sample(
                out, "doc_id", mix_rates_ppm, by=mix_by,
                salt="mixrate", default_ppm=mix_default_ppm,
            )
        if scrub:
            # PII redaction rides the same pass that already touches text
            # bytes — a pure column expression, no extra stage or join
            out = out.withColumn("text", pii_clean_col(F.col("text")))
        return out

    r_out = run_partitioned(
        spark, store, f"{job_id}/output", bucket_keys, out_one,
        out_path, "part_key", lineage, force=force,
    )
    # optional exact-substring stages over the SURVIVING corpus: one global
    # interval table (small: rows = maximal duplicated spans), then a
    # per-bucket text rewrite
    r_spn = r_fin = None
    if span_k is not None:
        ded_schema = T.StructType(
            list(docs.schema.fields)
            + [
                T.StructField("cluster_id", _id_field.dataType),
                T.StructField("part_key", T.StringType()),
            ]
        )
        spn_schema = T.StructType(
            [
                _id_field,
                T.StructField("ds", T.IntegerType()),
                T.StructField("de", T.IntegerType()),
                T.StructField("part_key", T.StringType()),
            ]
        )

        def read_deduped(keys):
            return (
                spark.read.schema(ded_schema).parquet(out_path)
                .filter(F.col("part_key").cast("string").isin(keys))
                .drop("part_key")
            )

        def spn_one(_key: str):
            return span_dup_intervals(
                read_deduped(bucket_keys), "doc_id", "text", k=span_k
            )

        r_spn = run_partitioned(
            spark, store, f"{job_id}/span_intervals", ["all"], spn_one,
            spn_path, "part_key", lineage, force=force,
        )

        def fin_one(key: str):
            part = read_deduped([key])
            ivals = (
                spark.read.schema(spn_schema).parquet(spn_path)
                .drop("part_key")
            )
            clean = span_reassemble(part, ivals, "doc_id", "text").select(
                "doc_id",
                F.col("clean").alias("text"),
                F.col("n_dup_tokens").alias("span_dup_tokens"),
            )
            return part.drop("text").join(clean, "doc_id")

        r_fin = run_partitioned(
            spark, store, f"{job_id}/span_clean", bucket_keys, fin_one,
            fin_path, "part_key", lineage, force=force,
        )

    # optional EXPORT stage — the step between curation and training,
    # over the FINAL corpus (span-cleaned when the span stages ran, else
    # the deduped output).
    #
    # ``shards`` (--shard-size N, one global unit): shuffle_shards assigns
    # every surviving doc its position in a deterministic global
    # permutation plus fixed-size shard ids — webdataset-style export, no
    # global single-partition sort (distributed zipWithIndex).
    r_shd = None
    if shard_size is not None:
        if span_k is not None:
            exp_path = fin_path
            exp_schema = T.StructType(
                [f for f in docs.schema.fields if f.name != "text"]
                + [
                    T.StructField("cluster_id", _id_field.dataType),
                    T.StructField("text", T.StringType()),
                    T.StructField("span_dup_tokens", T.IntegerType()),
                    T.StructField("part_key", T.StringType()),
                ]
            )
        else:
            exp_path = out_path
            exp_schema = T.StructType(
                list(docs.schema.fields)
                + [
                    T.StructField("cluster_id", _id_field.dataType),
                    T.StructField("part_key", T.StringType()),
                ]
            )

        def read_export():
            return (
                spark.read.schema(exp_schema).parquet(exp_path)
                .filter(F.col("part_key").cast("string").isin(bucket_keys))
                .drop("part_key")
            )

        shd_path = os.path.join(out_root, "shards")

        # --epochs: multi-epoch repetition (curation.epoch_upsample)
        # materialized into the TRAINING export only — the corpus tables
        # (deduped / span_deduped) stay one-copy-per-doc; copies get a
        # composite '<id>#<epoch>' identity so the shard permutation
        # treats each repeat as its own row.
        def shd_one(_key: str):
            rows = read_export()
            if epoch_rates_ppm is None:
                return shuffle_shards(rows, "doc_id", shard_size)
            up = epoch_upsample(
                rows, "doc_id", epoch_rates_ppm, by=mix_by,
                default_ppm=epoch_default_ppm,
            ).withColumn(
                "_eid",
                F.concat_ws(
                    "#", F.col("doc_id").cast("string"), F.col("epoch")
                ),
            ).drop("epoch")
            return shuffle_shards(up, "_eid", shard_size)

        # stage-local lineage: epoch rates change only the bytes the
        # shards stage emits (every corpus stage is epoch-free), so only
        # it invalidates on a rate change
        ep_tag = (
            ""
            if epoch_rates_ppm is None
            else (
                f";ep={mix_by}:{sorted(epoch_rates_ppm.items())}"
                f":{epoch_default_ppm}"
            )
        )

        r_shd = run_partitioned(
            spark, store, f"{job_id}/shards", ["all"], shd_one,
            shd_path, "part_key", lineage + ep_tag, force=force,
        )

    stages = []
    if r_cln is not None:
        stages.append(r_cln)
    if r_qua is not None:
        stages.append(r_qua)
    stages.extend([r_sig, r_clu])
    if r_con is not None:
        stages.append(r_con)
    if r_mixr is not None:
        stages.append(r_mixr)
    stages.append(r_out)
    if r_spn is not None:
        stages.extend([r_spn, r_fin])
    if r_shd is not None:
        stages.append(r_shd)
    return tuple(stages)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet dir")
    p.add_argument("--output", required=True, help="output root dir")
    p.add_argument("--checkpoint", required=True, help="checkpoint store dir")
    p.add_argument("--buckets", type=int, default=4)
    p.add_argument("--shingle-k", type=int, default=3)
    p.add_argument("--n-hashes", type=int, default=16)
    p.add_argument("--bands", type=int, default=4)
    p.add_argument("--max-bucket-size", type=int, default=1000)
    p.add_argument("--force", action="store_true")
    p.add_argument("--job-id", default="corpus_dedup")
    p.add_argument("--bench", default=None,
                   help="optional eval-set parquet (doc_id, text); adds the "
                        "decontamination stage")
    p.add_argument("--decon-min-hits", type=int, default=1)
    p.add_argument("--scrub", action="store_true",
                   help="redact PII (curation.pii_clean_col) in the output "
                        "stage — same pass that already writes text bytes")
    p.add_argument("--clean", action="store_true",
                   help="prepend the C4 line-cleaning stage "
                        "(curation.clean_lines): rule-failing lines are "
                        "cut and page-verdict failures dropped BEFORE "
                        "anything hashes text; all later stages read the "
                        "cleaned bytes")
    p.add_argument("--clean-args", default=None,
                   help="JSON kwargs for curation.clean_lines, e.g. "
                        "'{\"terminal_chars\": \"\", \"min_kept_lines\": 1}'")
    p.add_argument("--normalize", nargs="?", const="NFC", default=None,
                   choices=["NFC", "NFKC"],
                   help="prepend unicode + whitespace normalization "
                        "(curation.normalize_text) to the rewrite stage, "
                        "BEFORE the line rules and anything that hashes "
                        "bytes — different scrapers emit the same visible "
                        "text in different byte forms, and un-normalized "
                        "corpora silently under-dedup (optional form "
                        "argument, default NFC)")
    p.add_argument("--quality", action="store_true",
                   help="prepend the checkpointed quality_filter stage; "
                        "rejected docs never reach the shingle pass")
    p.add_argument("--quality-args", default=None,
                   help="JSON kwargs for curation.quality_filter, e.g. "
                        "'{\"max_dup_word_fraction\": 0.9}' — thresholds "
                        "are corpus-dependent (part of the stage lineage, "
                        "so changing them re-runs the affected stages)")
    p.add_argument("--span-dedup", type=int, default=None, metavar="K",
                   help="append exact-substring dedup at K-token window "
                        "granularity over the surviving corpus (global "
                        "interval stage + per-bucket rewrite into "
                        "span_deduped/)")
    p.add_argument("--shard-size", type=int, default=None,
                   help="append the shuffle_shards export stage: "
                        "deterministic global permutation + fixed-size "
                        "shard ids over the surviving docs")
    p.add_argument("--mix", default=None,
                   help="JSON object of per-source keep rates in ppm, e.g. "
                        "'{\"web\": 800000, \"books\": 1000000}' — applied "
                        "as source_sample inside the output stage")
    p.add_argument("--mix-alpha", type=float, default=None,
                   help="compute the mixing recipe INSIDE the job: "
                        "temperature-scaled rates (n^alpha) over the "
                        "surviving corpus (mutually exclusive with --mix)")
    p.add_argument("--mix-target", type=float, default=0.5,
                   help="target kept fraction for --mix-alpha")
    p.add_argument("--mix-tokens", action="store_true",
                   help="weigh the --mix-alpha recipe by token counts "
                        "(the token-budget form) instead of doc counts")
    p.add_argument("--epochs", default=None,
                   help="JSON object of per-source repetition rates in ppm "
                        "(2300000 = 2.3 epochs) — curation.epoch_upsample "
                        "materialized into the TRAINING export (shards); "
                        "requires --shard-size; corpus tables stay "
                        "one-copy-per-doc")
    p.add_argument("--epochs-default", type=int, default=1_000_000,
                   help="repetition ppm for sources absent from --epochs "
                        "(default 1000000 = exactly one copy)")
    args = p.parse_args(argv)
    if args.buckets < 1:
        # an empty key set would prune every existing per-bucket partition
        p.error("--buckets must be >= 1")

    spark = get_spark("run_dedup")
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench) if args.bench else None
    # the input's (and bench's) path and a digest of its data files: a run
    # over other data into the same checkpoint re-runs every stage
    lineage = (
        f"xform=v1;input={args.input}"
        f";files={input_fingerprint(spark, args.input)}"
    )
    bench_fingerprint = (
        f"{args.bench}:{input_fingerprint(spark, args.bench)}"
        if args.bench else None
    )
    t0 = time.perf_counter()
    results = run_dedup_pipeline(
        spark, docs, args.output, args.checkpoint,
        buckets=args.buckets, k=args.shingle_k, n_hashes=args.n_hashes,
        bands=args.bands, max_bucket_size=args.max_bucket_size,
        job_id=args.job_id, lineage=lineage, force=args.force,
        bench=bench, bench_fingerprint=bench_fingerprint,
        decon_min_hits=args.decon_min_hits, scrub=args.scrub,
        clean=args.clean,
        clean_kwargs=(
            json.loads(args.clean_args) if args.clean_args else None
        ),
        normalize=args.normalize,
        quality=args.quality,
        quality_kwargs=(
            json.loads(args.quality_args) if args.quality_args else None
        ),
        mix_rates_ppm=json.loads(args.mix) if args.mix else None,
        mix_alpha=args.mix_alpha, mix_target_frac=args.mix_target,
        mix_by_tokens=args.mix_tokens,
        epoch_rates_ppm=json.loads(args.epochs) if args.epochs else None,
        epoch_default_ppm=args.epochs_default,
        span_k=args.span_dedup,
        shard_size=args.shard_size,
    )
    names = []
    if args.clean or args.normalize:
        names.append("clean")
    if args.quality:
        names.append("quality")
    names.extend(["signatures", "clusters"])
    if bench is not None:
        names.append("contamination")
    if args.mix_alpha is not None:
        names.append("mix_rates")
    names.append("output")
    if args.span_dedup is not None:
        names.extend(["span_intervals", "span_clean"])
    if args.shard_size is not None:
        names.append("shards")
    summary = {
        "job_id": args.job_id,
        "stages": {
            n: {
                "partitions": len(r),
                "skipped": sum(x.skipped for x in r),
                "rows": sum(x.rows for x in r),
                "wall_ms": sum(x.wall_ms for x in r),
            }
            for n, r in zip(names, results)
        },
        "wall_s": round(time.perf_counter() - t0, 2),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
