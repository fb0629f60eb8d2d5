"""Corpus-curation operators for training-data pipelines: test-set
decontamination, per-source mixing quotas, corpus-frequency quality
signals, PII scrubbing, and corpus-level line dedup.

These close the gap between per-document quality scoring
(functions/text.py) and cross-document dedup (operators/dedup.py): a real
pretraining pipeline also has to (a) strip documents that leak evaluation
data, (b) enforce a mixing recipe (at most N docs per source/domain), and
(c) score documents against CORPUS-level statistics, not just their own
text. All three are pure DataFrame compositions — no Python rows, no
cross join, every join keyed.

Scale shapes (the reason each is written the way it is):

* decontaminate — the benchmark side is tiny (eval sets are thousands of
  docs) and is broadcast as a DISTINCT shingle-hash set; the corpus side
  is one shingle explode + one groupBy(id). The 100-TB cost is the same
  as one minhash pass.
* source_quota — rank-within-source needs a per-source sort, so the hash
  rank is windowed per source partition. Skewed sources are the hazard
  (one giant crawl dump = one giant window): ``prefilter`` bounds the
  window input by hash-thresholding each source to ~``prefilter`` times
  the quota first (a per-source count + broadcast threshold), which turns
  an O(n log n) sort of the whole source into a sort of O(quota) rows.
* rare_token_stats — the token-count table is vocabulary-sized (millions
  of rows, not corpus-sized) and is broadcast by default, so the corpus
  token stream is never shuffled on the (zipf-skewed) token key; the only
  wide shuffle is the final groupBy(id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from geofeaturegeneration_spark.functions.text import md5_long, words
from geofeaturegeneration_spark.operators.dedup import shingle_hashes
from geofeaturegeneration_spark.operators.util import ensure_min_partitions


def decontaminate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bench: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    k: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that overlap an evaluation/benchmark set on
    any k-word shingle (test-set decontamination, the n-gram-overlap rule
    used by GPT-3/C4-style pipelines).

    Returns one row per input doc: (id_col, n_hits, contaminated) where
    n_hits = number of DISTINCT doc shingles that also appear anywhere in
    the benchmark set and contaminated = n_hits >= min_hits. Docs shorter
    than k words have no shingles, hence n_hits = 0.

    Shingles hash with the same md5 % MERSENNE31 as the dedup family
    (dedup.shingle_hashes), so the overlap test is engine-reproducible.
    The benchmark shingle set is DISTINCT and broadcast — the corpus-side
    plan is one explode + one broadcast semi-join + one groupBy(id),
    linear in corpus size regardless of how many docs each hot shingle
    appears in (the join key is unique on the broadcast side)."""
    doc_sh = shingle_hashes(docs, id_col, text_col, k, distinct=True)
    bench_sh = (
        shingle_hashes(bench, bench_id_col, bench_text_col, k, distinct=False)
        .select("h")
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def source_quota(
    df: DataFrame,
    id_col: str,
    quota: int,
    by: str = "source",
    salt: str = "mix",
    prefilter: int | None = None,
) -> DataFrame:
    """Deterministic per-``by`` sampling cap — the mixing-recipe primitive
    ("at most ``quota`` documents per source/domain"). Keeps the ``quota``
    docs with the smallest md5(id#salt) within each group (a stable
    pseudo-random draw: independent of row order, reproducible across
    engines and re-runs), exposing the draw order as ``mix_rank``.

    Returns the input columns + mix_rank (1-based within group), filtered
    to mix_rank <= quota.

    ``prefilter`` (e.g. 4) bounds the rank window against skewed sources:
    each group is first cut to the hash range expected to contain
    ~``prefilter * quota`` rows (per-group counts aggregated once and
    broadcast back), so the window sorts O(prefilter*quota) rows instead
    of the whole group. The cut is on the SAME hash the rank orders by,
    and keeps strictly more than ``quota`` rows with overwhelming margin
    (binomial tail at ``prefilter``x the needed mass); if a pathological
    draw ever left a group short, the result would under-fill that group's
    quota from the same deterministic prefix — it cannot reorder or admit
    different rows. None (default) ranks the full group: exact for tests
    and small groups, and what the oracle replays."""
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    df = df.withColumn("_mix_h", h)
    if prefilter is not None:
        # hash is uniform on [0, 2^60): keep the prefix of the hash range
        # sized to ~prefilter*quota of the group's rows, never less than
        # the whole range for small groups
        counts = df.groupBy(by).agg(F.count(F.lit(1)).alias("_grp_n"))
        hi = F.lit(1 << 60)
        # clamp in the DOUBLE domain, then cast: for a group smaller than
        # ~prefilter*quota the unclamped ratio exceeds 2^63 and an ANSI-mode
        # cast-to-long would throw CAST_OVERFLOW before F.least ever ran
        cut = F.least(
            F.lit(float(1 << 60)),
            hi.cast("double") / F.col("_grp_n") * F.lit(float(prefilter * quota)),
        ).cast("long")
        df = df.join(F.broadcast(counts.withColumn("_mix_cut", cut)), by).filter(
            F.col("_mix_h") < F.col("_mix_cut")
        )
    w = W.partitionBy(by).orderBy(F.col("_mix_h").asc(), F.col(id_col).asc())
    return (
        df.withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= quota)
        .drop("_mix_h", "_grp_n", "_mix_cut")
    )


def source_sample(
    df: DataFrame,
    id_col: str,
    rates_ppm: dict[str, int],
    by: str = "source",
    salt: str = "mixrate",
    default_ppm: int = 0,
) -> DataFrame:
    """Weighted mixing sampler: keep each row with a per-``by`` probability
    given in integer parts-per-million — the ratio form of the mixing
    recipe (``source_quota`` is the cap form). A row survives iff
    md5(id#salt) % 1e6 < ppm(group); the draw is a pure function of the
    row id, so the sample is reproducible across engines, re-runs, cluster
    sizes, and is CONSISTENT under rate increases (raising a group's ppm
    only ADDS rows — the kept set at 200k ppm is a superset of the kept
    set at 100k ppm, which lets a mixing recipe be tuned without churning
    previously selected data).

    Integer ppm (not a float fraction) keeps the comparison exact in any
    engine — no float rounding at the threshold. Groups absent from
    ``rates_ppm`` get ``default_ppm`` (0 = drop). Plan: one broadcast join
    against the tiny rate table + a filter; no shuffle, no window."""
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(rates_ppm.items())],
        f"{by} STRING, _ppm INT",
    )
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    return (
        df.join(F.broadcast(rates), by, "left")
        .filter(h % 1_000_000 < F.coalesce(F.col("_ppm"), F.lit(default_ppm)))
        .drop("_ppm")
    )


# PII patterns, applied in THIS order (earlier redactions remove text later
# patterns could otherwise partially match — e.g. digits inside an email).
# Every pattern is valid and IDENTICAL in meaning under both Java regex
# (Spark) and RE2 (DuckDB oracle): no lookaround, no backreferences, ASCII
# \d / \b only.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("num", r"\b\d{13,19}\b", "<NUM>"),
]


def pii_clean_col(text: Column) -> Column:
    """The redaction expression alone (no counters): sequential
    ``regexp_replace`` over ``PII_PATTERNS`` — for embedding the scrub pass
    inline in wider jobs (e.g. the composed dedup pipeline's output stage)
    without a join back to a separate scrub table."""
    for _name, pat, tok in PII_PATTERNS:
        text = F.regexp_replace(text, pat, tok)
    return text


def pii_scrub(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Redact personally identifiable substrings before a corpus ships to
    training: emails, SSN-shaped ids, phone numbers, IPv4 addresses, and
    13-19 digit runs (card/account numbers) each collapse to a typed token
    (``<EMAIL>``, ``<SSN>``, ...). The standard pretraining scrub pass —
    the redaction TOKEN stays in the text so the LM sees the slot, not the
    value.

    Returns (id_col, clean, n_email, n_ssn, n_phone, n_ip, n_num,
    pii_total). ``clean`` applies the patterns sequentially in
    ``PII_PATTERNS`` order; the per-pattern counts are measured on the RAW
    text independently (so a 13-digit run inside an email counts under
    both — the counts are per-pattern detectors, the scrub is one pass).

    Plan: a chain of ``regexp_replace`` / ``regexp_count`` column
    expressions — narrow, zero shuffle, whole-stage codegen; scales as a
    pure map over any corpus size."""
    clean = pii_clean_col(F.col(text_col))
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("int").alias(f"n_{name}")
        for name, pat, _tok in PII_PATTERNS
    ]
    total = None
    for name, _, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return df.select(F.col(id_col), clean.alias("clean"), *counts).withColumn(
        "pii_total", total.cast("int")
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    keep_empty_docs: bool = True,
    min_len: int = 1,
    per_doc: bool = False,
) -> DataFrame:
    """Corpus-level duplicate-line removal (the C4 rule): every distinct
    line keeps exactly ONE occurrence across the whole corpus — the one in
    the smallest (doc_id, line_no) position — and every other copy is
    dropped; each document is then reassembled from its surviving lines in
    original order. Kills boilerplate (cookie banners, nav menus, license
    headers) that per-document dedup cannot see.

    ``per_doc=True`` scopes the rule WITHIN each document instead: a line
    repeated inside one doc keeps its first occurrence there, but the
    same line in two different docs survives in both — the
    repeated-navigation/chrome trim applied before corpus-level passes
    (and safe to run incrementally, since it needs no cross-doc state).
    Same output columns; the winner key gains the doc id, so both
    shuffles become doc-keyed and a full corpus-global agg is avoided.

    Returns (id_col, clean, n_lines, n_kept): the reassembled text, the
    doc's original line count, and how many lines survived. Docs whose
    every line lost join ``clean = ''`` when ``keep_empty_docs`` (the
    caller decides whether an emptied doc is dropped).

    Lines shorter than ``min_len`` characters are EXEMPT from corpus-wide
    dedup and kept unconditionally: with the default ``min_len=1`` every
    empty line survives, so blank paragraph separators are never reflowed
    (treating '' like any other line would delete every blank line in the
    corpus except the single globally-first one, silently collapsing the
    paragraph structure of nearly every multi-paragraph document —
    reference line-dedup implementations make the same exemption). Raise
    ``min_len`` to also exempt trivial short lines; ``min_len=0`` restores
    the exemption-free rule.

    Scale shape: one explode (doc -> lines), ONE groupBy on the 60-bit
    line hash whose partial (map-side) min-struct aggregation shrinks hot
    boilerplate lines before the shuffle — a line duplicated 10^8 times
    moves one row per map task, never 10^8 rows to one reducer (the window
    row_number formulation would) — then an equi-join of winners back to
    the line stream and a groupBy(doc) reassembly. Two shuffles total,
    both on uniform keys (hash, doc id)."""
    lines = df.select(
        F.col(id_col),
        # \Q...\E quotes the separator: F.split's pattern is a Java
        # regex, but the oracle's string_split (and the operator contract)
        # is LITERAL — a sep of '|' or '.' must not explode per character
        F.posexplode(
            F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"), -1)
        ).alias("_line_no", "_line"),
    )
    h = md5_long(F.col("_line"))
    keyed = lines.withColumn("_h", h)
    eligible = keyed.filter(F.length(F.col("_line")) >= min_len)
    if per_doc:
        # winner = first occurrence within THIS doc: plain min(line_no)
        # per (doc, hash) — same partial-agg map-side collapse, doc-keyed
        winners = eligible.groupBy(id_col, "_h").agg(
            F.min("_line_no").alias("_line_no")
        )
    else:
        winners = eligible.groupBy("_h").agg(
            F.min(F.struct(F.col(id_col), F.col("_line_no"))).alias("_w")
        ).select(
            F.col("_h"),
            F.col(f"_w.{id_col}").alias(id_col),
            F.col("_w._line_no").alias("_line_no"),
        )
    kept = eligible.join(winners, ["_h", id_col, "_line_no"]).unionByName(
        keyed.filter(F.length(F.col("_line")) < min_len)
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_line_no"), F.col("_line")))
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("clean"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_lines")
    )
    out = totals.join(reassembled, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean"), F.lit("")).alias("clean"),
        F.col("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )
    if not keep_empty_docs:
        out = out.filter(F.col("n_kept") > 0)
    return out


def clean_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_words: int = 5,
    terminal_chars: str = ".!?\"'",
    banned_substrings: tuple[str, ...] = ("javascript",),
    doc_banned_substrings: tuple[str, ...] = ("lorem ipsum",),
    doc_banned_chars: tuple[str, ...] = ("{",),
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style INTRA-document line cleaning (Raffel et al. 2020 §2.2) —
    the per-line transform that precedes corpus-level work: drop every
    line that (a) has fewer than ``min_words`` whitespace words, (b) does
    not end (after rtrim) in one of ``terminal_chars``, or (c) mentions a
    ``banned_substrings`` entry case-insensitively (C4's "javascript"
    rule); reassemble the survivors in order. The sibling of line_dedup
    (corpus-wide duplicate lines) and quality_filter (whole-doc verdict):
    this one edits INSIDE the document with no cross-document evidence.

    Returns (id_col, clean, n_lines, n_kept, keep) where ``keep`` is C4's
    page-level verdict: at least ``min_kept_lines`` surviving lines AND no
    ``doc_banned_substrings`` hit (case-insensitive, C4's "lorem ipsum")
    AND no ``doc_banned_chars`` hit (case-sensitive, C4's curly brace —
    code leakage) anywhere in the ORIGINAL text. Pass ``terminal_chars=''``
    to skip the punctuation rule (e.g. for verse or chat corpora).

    Scale shape: two narrow projections, zero shuffle, no explode — the
    line array stays inside one row, so a 100-TB corpus cleans at scan
    speed with no shuffle at all (contrast line_dedup, which must shuffle
    twice because its evidence is corpus-wide). The per-line rules live in
    one array ``filter`` lambda over the split — every expression inside
    references only the lambda variable, so the HOF CodegenFallback
    re-execution hazard (see functions/text._let) does not apply; the
    kept array is staged as a column alias because it feeds three outputs
    (clean, n_kept, keep) and SPARK-36718 keeps CollapseProject from
    re-inlining a non-cheap expression referenced more than once."""
    def _line_ok(l: Column) -> Column:
        # count NON-EMPTY whitespace segments: split(' ') keeps empty
        # strings for doubled/leading/trailing spaces, which would let a
        # space-padded 2-word junk line satisfy min_words
        ok = F.size(F.filter(words(l), lambda w: w != F.lit(""))) >= min_words
        if terminal_chars:
            last = F.substring(F.rtrim(l), -1, 1)
            ok = ok & last.isin(*[c for c in terminal_chars])
        low = F.lower(l)
        for b in banned_substrings:
            ok = ok & ~low.contains(F.lit(b.lower()))
        return ok

    staged = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        # literal separator (\Q...\E regex quote), same rule as line_dedup
        F.split(
            F.col(text_col), F.lit("\\Q" + sep + "\\E"), -1
        ).alias("_arr"),
    ).select(
        F.col(id_col),
        F.col("_t"),
        F.size(F.col("_arr")).cast("int").alias("n_lines"),
        F.filter(F.col("_arr"), _line_ok).alias("_kept"),
    )
    doc_ok = F.size(F.col("_kept")) >= min_kept_lines
    low_t = F.lower(F.col("_t"))
    for b in doc_banned_substrings:
        doc_ok = doc_ok & ~low_t.contains(F.lit(b.lower()))
    for c in doc_banned_chars:
        doc_ok = doc_ok & ~F.col("_t").contains(F.lit(c))
    return staged.select(
        F.col(id_col),
        F.array_join(F.col("_kept"), sep).alias("clean"),
        F.col("n_lines"),
        F.size(F.col("_kept")).cast("int").alias("n_kept"),
        doc_ok.alias("keep"),
    )


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Unicode + whitespace normalization — the fix-encoding stage a
    CCNet/C4-style pipeline runs BEFORE any hashing: different scrapers
    emit the same visible text in different byte forms (NFD vs NFC
    accents, singleton codepoints like U+212B ANGSTROM SIGN, CRLF vs LF,
    stray C0 controls, tab/space runs), and every downstream operator in
    this tree — md5 shingles, minhash/simhash, line_dedup, span_dedup,
    BPE — hashes BYTES, so an un-normalized corpus silently under-dedups.
    (No reference analog: the reference's inputs are numeric GPS rows;
    this is part of the LLM-pipeline curation family.)

    Rules, in order (each mirrored 1:1 in the DuckDB oracle):

    1. newline normalization: CRLF and lone CR -> LF;
    2. control strip: category-Cc controls except tab/LF — C0, DEL, AND
       the C1 block U+0080-U+009F (cp1252-mojibake residue in real
       scrapes) — plus the invisible non-controls safe to drop anywhere,
       ZERO WIDTH SPACE U+200B and BOM/ZWNBSP U+FEFF, removed. ZWJ/ZWNJ
       are deliberately KEPT (meaningful in Indic/Arabic scripts and
       emoji sequences);
    3. canonical unicode normalization to ``form`` (default NFC; pass
       ``NFKC`` for compatibility folding — fullwidth forms, NBSP ->
       space — at the price of losing the SQL oracle). Inside the Arrow
       batch: one vectorized ``string_is_ascii`` scan per batch (NFC is
       the identity on ASCII, i.e. the overwhelming majority of a web
       corpus after control-stripping), then CPython's C-level
       ``unicodedata.normalize`` for ONLY the non-ASCII rows — ``take``
       the flagged minority out, normalize those strings, and
       ``replace_with_mask`` them back, so Python object conversion is
       proportional to the rows needing work, never to batch size (a
       batch with one accented row out of 10 000 converts 1 string, not
       10 000 — a masked rewrite).
       pyarrow 16.1's ``utf8_normalize`` kernel is NOT usable here — its
       NFC/NFKC modes never compose (upstream bug fixed in Arrow 17;
       verified in-sandbox: 'e'+U+0301 stays decomposed) — while
       ``unicodedata`` and DuckDB's utf8proc-backed ``nfc_normalize``
       both implement UAX #15 exactly, so cross-engine parity holds;
    4. horizontal whitespace collapse: every space/tab run -> one space
       (tabs do not survive);
    5. line-edge trim: spaces adjacent to a LF removed;
    6. document-edge trim: leading/trailing LFs/spaces removed.

    Returns ``(id_col, norm, changed, *passthrough)``; NULL text stays
    NULL with ``changed = false``. ``passthrough`` columns ride the Arrow
    batches untouched — the operator is row-preserving, so a composed
    pipeline rewriting a corpus in place (jobs/run_dedup.py --normalize)
    carries its non-text columns through instead of paying a doc_id
    re-attach join plus a second scan of the same bucket.
    Scale shape: scan -> narrow JVM regex projection
    -> ZERO-SHUFFLE ``mapInArrow`` (one C-speed kernel call per batch, no
    per-row Python) -> narrow JVM regex projection; parallelism floor on
    the input because the stage is CPU-heavy over byte-small test inputs
    (the README "Operational findings" rule — a no-op at cluster scale,
    where the scan is already wide)."""
    from pyspark.sql import types as T

    reserved = {id_col, "_orig", "_pre", "_nfc", "norm", "changed"}
    bad = [c for c in passthrough if c in reserved]
    if bad:
        raise ValueError(f"passthrough columns collide with outputs: {bad}")

    pre = ensure_min_partitions(
        df.select(
            F.col(id_col),
            F.col(text_col).alias("_orig"),
            F.regexp_replace(
                F.regexp_replace(F.col(text_col), r"\r\n?", "\n"),
                "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f\u200b\ufeff]",
                "",
            ).alias("_pre"),
            *[F.col(c) for c in passthrough],
        )
    )
    mid_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("_orig", T.StringType()),
            T.StructField("_nfc", T.StringType()),
        ]
        + [df.schema[c] for c in passthrough]
    )

    def nfc_batches(batches):
        import unicodedata

        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            col = batch.column(2)
            # rows needing work = non-null AND non-ASCII; everything else
            # passes through untouched (NFC/NFKC is the identity on ASCII)
            work = pc.fill_null(pc.invert(pc.string_is_ascii(col)), False)
            if not pc.any(work).as_py():
                out = col
            else:
                sub = col.take(pc.indices_nonzero(work))
                fixed = pa.array(
                    [unicodedata.normalize(form, v) for v in sub.to_pylist()],
                    type=col.type,
                )
                out = pc.replace_with_mask(col, work, fixed)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), out]
                + [batch.column(i) for i in range(3, batch.num_columns)],
                [id_col, "_orig", "_nfc", *passthrough],
            )

    mid = pre.mapInArrow(nfc_batches, mid_schema)
    norm = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("_nfc"), r"[ \t]+", " "),
            r" *\n *",
            "\n",
        ),
        r"^[\n ]+|[\n ]+$",
        "",
    )
    # stage `norm` as a column before `changed` references it — the
    # multi-referenced-expression rule (SPARK-36718 keeps CollapseProject
    # from re-inlining it, so the regex chain runs once per row)
    staged = mid.select(
        F.col(id_col),
        F.col("_orig"),
        norm.alias("norm"),
        *[F.col(c) for c in passthrough],
    )
    return staged.select(
        F.col(id_col),
        F.col("norm"),
        F.coalesce(F.col("norm") != F.col("_orig"), F.lit(False)).alias(
            "changed"
        ),
        *[F.col(c) for c in passthrough],
    )


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 10,
    max_words: int = 100_000,
    min_avg_word_len: float = 2.0,
    max_avg_word_len: float = 12.0,
    max_punct_ratio: float = 0.3,
    max_stopword_ratio: float = 0.6,
    max_dup_word_fraction: float = 0.5,
) -> DataFrame:
    """The C4/Gopher-style KEEP decision: compose the per-document quality
    signals (functions/text.py) into named boolean rules and one ``keep``
    verdict — the document-filter stage every pretraining pipeline runs
    before dedup. Rules (a doc is kept iff NONE fires):

    * ``too_short`` / ``too_long`` — word count outside [min, max]
    * ``bad_word_len`` — mean word length outside [min, max] (Gopher's
      3..10 rule, thresholds parametric)
    * ``too_punct`` — non-alphanumeric character share above threshold
    * ``stop_stuffed`` — stopword share above threshold
    * ``repetitive`` — duplicate-word fraction above threshold (Gopher
      repetition family; see text.dup_word_fraction)

    Ratios are ROUNDED to 6 decimals before comparison so the verdict is
    engine-exact (the same rounded ratios the text_stats contract already
    hash-matches against DuckDB); thresholds land strictly on literals.
    Returns (id_col, n_words, the six rule booleans, keep). Pure column
    expressions — zero shuffle, one codegen span at any corpus size."""
    from geofeaturegeneration_spark.functions.text import (
        avg_word_len,
        dup_word_fraction,
        n_words,
        punct_ratio,
        stopword_ratio,
    )

    t = F.col(text_col)
    nw = n_words(t)
    awl = F.round(avg_word_len(t), 6)
    flags = {
        "too_short": nw < min_words,
        "too_long": nw > max_words,
        "bad_word_len": (awl < min_avg_word_len) | (awl > max_avg_word_len),
        "too_punct": F.round(punct_ratio(t), 6) > max_punct_ratio,
        "stop_stuffed": F.round(stopword_ratio(t), 6) > max_stopword_ratio,
        "repetitive": F.round(dup_word_fraction(t), 6) > max_dup_word_fraction,
    }
    keep = None
    for c in flags.values():
        keep = ~c if keep is None else keep & ~c
    return df.select(
        F.col(id_col),
        nw.cast("int").alias("n_words"),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


def rare_token_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rare_below: int = 2,
    broadcast_counts: bool = True,
) -> DataFrame:
    """Corpus-frequency quality signal: per document, the fraction of its
    (whitespace) tokens whose TOTAL corpus occurrence count is <=
    ``rare_below``. A high rare-token fraction marks gibberish, OCR noise,
    and boilerplate-free junk the per-document heuristics
    (functions/text.quality_score) cannot see, because the evidence is
    corpus-level — the CCNet/Gopher-style counterpart of an LM-perplexity
    filter, built from counts only so every value is integer-exact across
    engines (no transcendental functions; the fraction is one IEEE
    division of two bigints).

    Returns (id_col, n_tokens, n_rare, rare_frac). Docs with no tokens
    (empty text splits to one '' token — counted like any other) cannot
    occur, so no 0/0 guard is needed.

    Plan: pass 1 builds the vocabulary-sized count table (one groupBy);
    pass 2 joins it back to the token stream — BROADCAST by default so the
    zipf-skewed token key is never a shuffle key — and aggregates per doc.
    Set ``broadcast_counts=False`` when the vocabulary genuinely exceeds
    executor memory; the shuffle join then relies on AQE skew splitting
    for hot tokens."""
    tok = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("_w"))
    counts = tok.groupBy("_w").agg(F.count(F.lit(1)).alias("_cnt"))
    if broadcast_counts:
        counts = F.broadcast(counts)
    return (
        tok.join(counts, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(
                F.when(F.col("_cnt") <= rare_below, 1).otherwise(0)
            ).cast("int").alias("n_rare"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("n_rare"),
            (F.col("n_rare").cast("double") / F.col("n_tokens").cast("double")
             ).alias("rare_frac"),
        )
    )


def temperature_rates(
    df: DataFrame,
    by: str = "source",
    alpha: float = 0.5,
    target_frac: float = 0.5,
    weight_col: str | None = None,
) -> dict[str, int]:
    """Per-``by`` keep rates (integer ppm, for ``source_sample``) that
    realize TEMPERATURE-SCALED mixing: group sampling mass proportional to
    ``n_s ** alpha`` (alpha=1 keeps natural proportions, alpha=0 weights
    every group equally, alpha≈0.5 is the multilingual/Gopher-style
    upsample-the-tail setting), with an expected total of
    ``target_frac * N`` rows kept.

    ``weight_col`` switches the mixing mass from doc COUNTS to an integer
    per-doc weight — pass a token-count column to get the token-budget
    form pretraining mixes are actually specified in (Gopher/LLaMA quote
    per-source token shares, not doc shares). With weights, ``n_s`` above
    becomes ``tok_s = sum(weight)`` per group and the expected total kept
    WEIGHT is exactly ``target_frac * sum(weight)`` regardless of how doc
    lengths vary within a group: each doc is kept with its group's rate,
    so E[kept weight in s] = rate_s * tok_s and the rate formula cancels
    tok_s. Weights are summed as int64 (exact — no float accumulation
    order enters the rates).

    ``rate_s = min(1, target_frac * N * n_s**alpha / sum_t(n_t**alpha)
    / n_s)`` then ``ppm = floor(1e6 * rate)``. A head group whose rate
    clamps at 1.0 makes the realized total undershoot the target (the
    mass is NOT redistributed — one-shot rates keep the draw a pure
    per-row function, which is what makes the sample reproducible and
    monotone; iterate on target_frac if exact totals matter).

    Driver-side by design: the per-group count table is |groups|-sized
    (bounded collect, same convention as the vocab boundary counts), the
    float normalization happens ONCE here — in sorted group order, so the
    sum is reproducible — and the corpus-side filter then runs on integer
    ppm thresholds only (exact in any engine; see source_sample). The
    cross-engine bet vs a SQL replay of the rate formula is a ulp of
    sqrt/pow at a floor(1e6*rate) boundary — negligible and of the same
    class as the documented GEMM association bet."""
    import math

    mass = (
        F.count(F.lit(1))
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long"))
    )
    counts = {
        r[by]: r["n"] for r in df.groupBy(by).agg(mass.alias("n")).collect()
    }

    # alpha 0.5/1.0/0.0 route through exactly-rounded primitives (sqrt is
    # IEEE-correct in every engine; pow(x, 0.5) is NOT guaranteed to equal
    # sqrt(x)) so the common temperatures replay bit-identically in SQL
    def _pow(n: int) -> float:
        if alpha == 0.5:
            return math.sqrt(float(n))
        if alpha == 1.0:
            return float(n)
        if alpha == 0.0:
            return 1.0
        return float(n) ** alpha

    total_n = float(sum(counts.values()))
    tot = sum(_pow(n) for _, n in sorted(counts.items()))
    rates: dict[str, int] = {}
    for grp, n in sorted(counts.items()):
        rate = min(1.0, target_frac * total_n * _pow(n) / tot / n)
        rates[grp] = int(1_000_000 * rate)
    return rates


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    rates_ppm: dict[str, int],
    by: str = "source",
    salt: str = "epoch",
    default_ppm: int = 1_000_000,
) -> DataFrame:
    """Repetition-based mixing — the UPSAMPLING complement of
    :func:`source_sample`, whose keep-or-drop draw caps every group's
    realized rate at 1.0 (and makes :func:`temperature_rates` clamp hot
    recipes). Pretraining mixes routinely specify MULTI-epoch rates for
    small high-quality sources (e.g. Gopher/LLaMA-class recipes run
    books/wiki at 2-3 epochs per web epoch); this operator materializes
    them: each row is emitted ``floor(ppm / 1e6)`` times plus one more
    iff ``md5(id#salt) % 1e6 < ppm % 1e6``, with a 1-based ``epoch``
    column distinguishing the copies (feed the result to
    ``shuffle_shards`` so repeats land in different shards). ``ppm`` is
    the group's rate in integer parts-per-million (2_300_000 = 2.3
    epochs); groups absent from ``rates_ppm`` get ``default_ppm``
    (1_000_000 = exactly one copy — identity). Rates below 1e6 degrade
    to the source_sample draw (same hash, different salt default).

    Determinism and monotonicity: the copy count is a pure function of
    (id, salt, ppm) — reproducible across engines/cluster sizes — and
    NONDECREASING in ppm for every row (raising a group's rate only adds
    copies, and new copies take higher epoch numbers, so previously
    materialized data never churns — the same recipe-tuning property as
    source_sample, extended past 1.0).

    Plan: one broadcast join against the |groups|-row rate table + one
    linear ``explode(sequence(1, n))`` — no shuffle; output rows =
    sum of copy counts, which is the point. The n >= 1 filter is
    load-bearing under ANSI mode (sequence(1, 0) DESCENDS in Spark 4.1,
    CLAUDE.md rule). No reference analog (its pipeline reads every user
    file exactly once); this is standard training-mix practice."""
    for k, v in rates_ppm.items():
        if not 0 <= int(v) <= 1_000_000_000:
            raise ValueError(f"rate out of range for {k!r}: {v}")
    if not 0 <= int(default_ppm) <= 1_000_000_000:
        raise ValueError("default_ppm out of range")
    spark = df.sparkSession
    rates = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(rates_ppm.items())],
        f"{by} STRING, _ppm LONG",
    )
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    ppm = F.coalesce(F.col("_ppm"), F.lit(int(default_ppm)).cast("long"))
    n = (
        F.floor(ppm / F.lit(1_000_000)).cast("long")
        + F.when(h % 1_000_000 < ppm % 1_000_000, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("long")
    )
    cols = df.columns
    return (
        df.join(F.broadcast(rates), by, "left")
        .withColumn("_n", n)
        .filter(F.col("_n") >= 1)
        .select(
            *cols,
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("_n"))
            ).alias("_epoch"),
        )
        .select(*cols, F.col("_epoch").cast("int").alias("epoch"))
    )


def temperature_mix(
    df: DataFrame,
    id_col: str,
    by: str = "source",
    alpha: float = 0.5,
    target_frac: float = 0.5,
    salt: str = "mixrate",
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-scaled mixture sampling in one call:
    ``source_sample(df, rates=temperature_rates(df, alpha, target_frac))``.
    Two corpus passes (one tiny count agg, one broadcast-join filter);
    the draw is a pure function of (id, salt) — reproducible and monotone
    under target_frac increases exactly like source_sample. With
    ``weight_col`` the recipe is a TOKEN budget (see temperature_rates):
    expected kept tokens = target_frac * total tokens, group token shares
    tempered by alpha."""
    rates = temperature_rates(
        df, by=by, alpha=alpha, target_frac=target_frac, weight_col=weight_col
    )
    return source_sample(df, id_col, rates, by=by, salt=salt)
