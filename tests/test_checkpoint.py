"""Checkpoint store + resumable partitioned run (SURVEY.md §5 item 4:
kill-and-rerun must be idempotent; replaces the reference's file-existence
resume, DP_GenerateTrajectory.py:50-52)."""

import inspect
import json
import os
import re
import sys
from datetime import datetime

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import jobs.run_pipeline as RP
from geofeaturegeneration_spark.checkpoint import (
    CHECKPOINT_SCHEMA,
    CheckpointStore,
    run_partitioned,
)
from geofeaturegeneration_spark.datagen import (
    generate_sequences,
    read_sequences,
    write_sequences,
)
from jobs.run_pipeline import build_features


@pytest.fixture(scope="module")
def seq(spark):
    return generate_sequences(spark, n_docs=30, seed=7).persist()


def _collect_features(spark, out_path):
    df = spark.read.parquet(out_path)
    return sorted(
        (r["doc_id"], r["source"], str(r["stime"]), r["duration_s"])
        for r in df.select("doc_id", "source", "stime", "duration_s").collect()
    )


def test_mark_and_completed(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    assert store.completed("job") == set()
    store.mark("job", "a", "done", rows=10, wall_ms=5, lineage="v1")
    store.mark("job", "b", "failed", lineage="v1")
    assert store.completed("job", "v1") == {"a"}
    # lineage mismatch invalidates
    assert store.completed("job", "v2") == set()
    # last writer wins: re-mark a as failed
    store.mark("job", "a", "failed", lineage="v1")
    assert store.completed("job", "v1") == set()

    # marks are written and read back by the driver: neither starts a Spark
    # job (the same probe does see the job of a real action)
    sc = spark.sparkContext
    sc.setJobGroup("ckpt-mark", "checkpoint marks")
    try:
        store.mark("job", "c", "done", rows=1, lineage="v1")
        assert store.completed("job", "v1") == {"c"}
        assert sc.statusTracker().getJobIdsForGroup("ckpt-mark") == []
        spark.range(1).count()
        assert sc.statusTracker().getJobIdsForGroup("ckpt-mark") != []
    finally:
        sc._jsc.clearJobGroup()

    # a mark torn by a crash reads as absent, and the marks before it stand
    ck = tmp_path / "ckpt"
    before = set(os.listdir(ck))
    store.mark("job", "d", "done", rows=2, lineage="v1")
    (torn,) = [f for f in set(os.listdir(ck)) - before if f.endswith(".json")]
    text = (ck / torn).read_text()
    (ck / torn).write_text(text[: len(text) // 2])
    assert store.completed("job", "v1") == {"c"}
    (ck / f".{torn}.crc").unlink()  # no checksum to fail: a malformed line
    assert store.completed("job", "v1") == {"c"}

    # a store of the older Parquet layout reads as empty: every unit re-runs
    old = str(tmp_path / "ckpt_parquet")
    rec = [("job", "a", "done", 10, 5, "v1", "0" * 32, datetime(2024, 1, 1))]
    spark.createDataFrame(rec, CHECKPOINT_SCHEMA).write.parquet(old)
    assert CheckpointStore(spark, old).completed("job", "v1") == set()

    # the store's path is listed, not globbed: `{` and `[` in it are literal
    braces = CheckpointStore(spark, str(tmp_path / "ck{1}[a]"))
    braces.mark("job", "k0", "done", rows=1, lineage="v1")
    assert braces.completed("job", "v1") == {"k0"}


def test_resume_skips_done_and_output_identical(spark, seq, tmp_path):
    out1 = str(tmp_path / "out1")
    out2 = str(tmp_path / "out2")
    ck1 = str(tmp_path / "ck1")
    ck2 = str(tmp_path / "ck2")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())

    def run_one(key):
        return build_features(seq.filter(F.col("source") == key))

    # full run in one go
    store1 = CheckpointStore(spark, ck1)
    r1 = run_partitioned(
        spark, store1, "j", sources, run_one, out1, "part_key", "v1"
    )
    assert all(not r.skipped for r in r1)

    # interrupted run: first partition only, then "crash", then resume
    store2 = CheckpointStore(spark, ck2)
    run_partitioned(
        spark, store2, "j", sources[:1], run_one, out2, "part_key", "v1"
    )
    r2 = run_partitioned(
        spark, store2, "j", sources, run_one, out2, "part_key", "v1"
    )
    assert [r.skipped for r in r2] == [True] + [False] * (len(sources) - 1)

    assert _collect_features(spark, out1) == _collect_features(spark, out2)

    # metrics recorded for every partition
    m = store2.latest("j")
    rows = {r["partition_key"]: r for r in m.collect()}
    assert set(rows) == set(sources)
    assert all(rows[s]["status"] == "done" and rows[s]["rows"] > 0 for s in sources)


def test_escaped_partition_keys_survive_rerun(spark, seq, tmp_path):
    """Spark writes key ``web#crawl-0`` as ``part_key=web%23crawl-0``; the
    stale-partition prune must compare escaped names, or a second run with
    the same keys deletes that unit's directory while its done mark stays,
    and the unit's rows vanish."""
    out, ck = str(tmp_path / "out_esc"), str(tmp_path / "ck_esc")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())
    keys = ["web#crawl-0", "books-0"]
    src = dict(zip(keys, sources))

    def run_one(key):
        return build_features(seq.filter(F.col("source") == src[key]))

    store = CheckpointStore(spark, ck)
    r1 = run_partitioned(spark, store, "j", keys, run_one, out, "part_key", "v1")
    r2 = run_partitioned(spark, store, "j", keys, run_one, out, "part_key", "v1")
    assert all(r.skipped for r in r2)
    got = {
        r["part_key"]: r["count"]
        for r in spark.read.parquet(out).groupBy("part_key").count().collect()
    }
    assert got == {r.partition_key: r.rows for r in r1}
    assert all(n > 0 for n in got.values())


@pytest.fixture(scope="module")
def seq_dirs(spark, tmp_path_factory):
    """Two small sequence tables on disk with the same sources and
    different docs, as ``jobs/run_pipeline.py --input`` reads them."""
    root = tmp_path_factory.mktemp("seq_in")
    paths = {}
    for name, seed in (("a", 7), ("b", 8)):
        paths[name] = str(root / name)
        write_sequences(generate_sequences(spark, n_docs=30, seed=seed), paths[name])
    return paths


def _main(spark, monkeypatch, capsys, *argv):
    """Run ``jobs/run_pipeline.main`` on the test session; its summary."""
    monkeypatch.setattr(RP, "get_spark", lambda *a, **k: spark)
    capsys.readouterr()
    assert RP.main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _same_rows(spark, path_a, path_b):
    a, b = spark.read.parquet(path_a), spark.read.parquet(path_b)
    return (
        a.count() == b.count()
        and a.exceptAll(b).isEmpty()
        and b.exceptAll(a).isEmpty()
    )


def test_pipeline_kill_mid_unit_resumes_identical(
    spark, seq_dirs, tmp_path, monkeypatch, capsys
):
    """A crash inside the second unit's transform: the resumed run skips
    exactly the first unit, and its output equals an uninterrupted run's."""
    args = ["--input", seq_dirs["a"], "--buckets", "2"]
    out1, ck1 = str(tmp_path / "out1"), str(tmp_path / "ck1")
    full = _main(spark, monkeypatch, capsys, *args, "--output", out1, "--checkpoint", ck1)
    assert full["skipped"] == 0 and full["rows"] > 0

    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    run2 = [*args, "--output", out2, "--checkpoint", ck2]
    real = RP.build_features
    calls = {"n": 0, "crash_at": 2}

    def counting(df):
        calls["n"] += 1
        if calls["n"] == calls["crash_at"]:
            raise RuntimeError("simulated crash")
        return real(df)

    monkeypatch.setattr(RP, "build_features", counting)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _main(spark, monkeypatch, capsys, *run2)
    calls.update(n=0, crash_at=None)
    resumed = _main(spark, monkeypatch, capsys, *run2)
    assert resumed["partitions"] == full["partitions"]
    assert resumed["skipped"] == 1
    assert calls["n"] == full["partitions"] - 1
    assert _same_rows(spark, out1, out2)


def test_pipeline_changed_input_reruns_every_unit(
    spark, seq_dirs, tmp_path, monkeypatch, capsys
):
    """Re-pointing ``--input`` at other data with the same sources into the
    same output and store changes the lineage: every unit re-runs, and no
    row of the old input survives."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    two = ["--buckets", "2"]
    sources = {
        name: {r["source"] for r in spark.read.parquet(p).select("source").distinct().collect()}
        for name, p in seq_dirs.items()
    }
    assert sources["a"] == sources["b"]
    _main(spark, monkeypatch, capsys, *two, "--input", seq_dirs["a"], "--output", out, "--checkpoint", ck)
    # a copy held in memory: writing to ``out`` refreshes any cache of it
    first = spark.read.parquet(out)
    old = spark.createDataFrame(first.collect(), first.schema)
    assert old.count() > 0
    new = _main(spark, monkeypatch, capsys, *two, "--input", seq_dirs["b"], "--output", out, "--checkpoint", ck)
    assert new["skipped"] == 0

    fresh, ckf = str(tmp_path / "fresh"), str(tmp_path / "ckf")
    _main(spark, monkeypatch, capsys, *two, "--input", seq_dirs["b"], "--output", fresh, "--checkpoint", ckf)
    assert _same_rows(spark, out, fresh)
    assert not old.exceptAll(spark.read.parquet(fresh)).isEmpty()


def test_pipeline_rewritten_input_reruns_every_unit(
    spark, tmp_path, monkeypatch, capsys
):
    """Rewriting the same ``--input`` path with other data changes the
    lineage, which holds the input's files and not only its path: every
    unit re-runs, and the output equals ``build_features`` of the new
    input."""
    inp, out = str(tmp_path / "seq"), str(tmp_path / "out")
    args = ["--input", inp, "--buckets", "2", "--output", out,
            "--checkpoint", str(tmp_path / "ck")]
    write_sequences(generate_sequences(spark, n_docs=30, seed=1), inp)
    first = _main(spark, monkeypatch, capsys, *args)
    assert first["skipped"] == 0 and first["rows"] > 0
    write_sequences(generate_sequences(spark, n_docs=30, seed=2), inp)
    second = _main(spark, monkeypatch, capsys, *args)
    assert second["partitions"] == first["partitions"]
    assert second["skipped"] == 0

    want = build_features(read_sequences(spark, inp))
    got = spark.read.parquet(out).select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_pipeline_shrinking_buckets_prunes_stale_partitions(
    spark, seq_dirs, tmp_path, monkeypatch, capsys
):
    """``--buckets 4`` then ``--buckets 2`` into the same output: the
    directories of buckets 2 and 3 are gone, and the output equals a clean
    2-bucket run."""
    run = ["--input", seq_dirs["a"]]
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _main(spark, monkeypatch, capsys, *run, "--output", out, "--checkpoint", ck, "--buckets", "4")
    _main(spark, monkeypatch, capsys, *run, "--output", out, "--checkpoint", ck, "--buckets", "2")
    on_disk = {
        r["part_key"] for r in spark.read.parquet(out).select("part_key").distinct().collect()
    }
    sources = {r["source"] for r in spark.read.parquet(seq_dirs["a"]).select("source").distinct().collect()}
    assert on_disk == {f"{s}-{b}" for s in sources for b in range(2)}

    clean, ckc = str(tmp_path / "clean"), str(tmp_path / "ckc")
    _main(spark, monkeypatch, capsys, *run, "--output", clean, "--checkpoint", ckc, "--buckets", "2")
    assert _same_rows(spark, out, clean)


def test_pipeline_unchanged_rerun_skips_every_unit(
    spark, seq_dirs, tmp_path, monkeypatch, capsys
):
    run = ["--input", seq_dirs["a"], "--buckets", "2",
           "--output", str(tmp_path / "out"), "--checkpoint", str(tmp_path / "ck")]
    first = _main(spark, monkeypatch, capsys, *run)
    again = _main(spark, monkeypatch, capsys, *run)
    assert first["skipped"] == 0
    assert again["skipped"] == again["partitions"] == first["partitions"]
    assert again["rows"] == 0  # skipped units report no rows


def test_pipeline_rejects_nonpositive_buckets_keeping_output(
    spark, seq_dirs, tmp_path, monkeypatch, capsys
):
    """``--buckets 0`` (or below) would give an empty key set, which prunes
    every existing partition. It is an argument error raised before any
    Spark call, and the earlier run's output stays whole."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    run = ["--input", seq_dirs["a"], "--output", out, "--checkpoint", ck]
    first = _main(spark, monkeypatch, capsys, *run, "--buckets", "2")
    before = {
        r["part_key"]: r["count"]
        for r in spark.read.parquet(out).groupBy("part_key").count().collect()
    }
    assert len(before) == first["partitions"] == 6
    assert sum(before.values()) == first["rows"]

    def no_spark(*a, **k):
        raise AssertionError("Spark session requested")

    monkeypatch.setattr(RP, "get_spark", no_spark)
    for bad in ("0", "-1"):
        with pytest.raises(SystemExit):
            RP.main([*run, "--buckets", bad])
    after = {
        r["part_key"]: r["count"]
        for r in spark.read.parquet(out).groupBy("part_key").count().collect()
    }
    assert after == before


def test_pipeline_rejects_null_source(spark, tmp_path, monkeypatch):
    """A null ``source`` matches no unit's filter, and sorting it with a
    string fails after Spark starts. ``main`` names the column in a
    ``ValueError`` before any mark or output is written, whether every
    source is null or only some."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(RP, "get_spark", lambda *a, **k: spark)
    for name, sources in (("all_null", [None, None]), ("mixed", [None, "web"])):
        inp = tmp_path / name / "seq"
        inp.mkdir(parents=True)
        table = pa.table(
            {
                "doc_id": pa.array(["d0", "d1"], pa.string()),
                "tokens": pa.array([[1, 1, 2, 2], [3, 3, 4]], pa.list_(pa.int32())),
                "n_tok": pa.array([4, 3], pa.int32()),
                # typed: an all-null column would otherwise land as INT32
                "source": pa.array(sources, pa.string()),
            }
        )
        pq.write_table(table, str(inp / "part-0.parquet"))
        out, ck = tmp_path / name / "out", tmp_path / name / "ck"
        with pytest.raises(ValueError, match="source"):
            RP.main(["--input", str(inp), "--output", str(out),
                     "--checkpoint", str(ck), "--buckets", "1"])
        for d in (out, ck):
            assert not [f for _, _, fs in os.walk(d) for f in fs]


def test_pipeline_hidden_input_files_keep_lineage(
    spark, tmp_path, monkeypatch, capsys
):
    """Files under names Spark's reader skips (``_temporary/``,
    ``.staging/``) are not in the input's digest: adding them leaves every
    unit skipped. The same file copied into its ``source=<s>/`` directory
    is read, and every unit re-runs."""
    import shutil

    inp = tmp_path / "seq"
    args = ["--input", str(inp), "--buckets", "2", "--output",
            str(tmp_path / "out"), "--checkpoint", str(tmp_path / "ck")]
    write_sequences(generate_sequences(spark, n_docs=20, seed=3), str(inp))
    first = _main(spark, monkeypatch, capsys, *args)
    assert first["skipped"] == 0 and first["rows"] > 0

    data = sorted(inp.glob("source=*/part-*.parquet"))[0]
    for sub in ("_temporary/0", ".staging"):
        (inp / sub).mkdir(parents=True)
        shutil.copy(data, inp / sub / "part-99999.parquet")
    hidden = _main(spark, monkeypatch, capsys, *args)
    assert hidden["skipped"] == hidden["partitions"] == first["partitions"]

    shutil.copy(data, data.parent / "part-99999.parquet")
    read = _main(spark, monkeypatch, capsys, *args)
    assert read["partitions"] == first["partitions"]
    assert read["skipped"] == 0


def test_crash_between_pruned_mark_and_delete_keeps_data(spark, seq, tmp_path):
    """A stale key's directory is deleted only after its ``pruned`` mark is
    written. A crash at that mark leaves the directory and its ``done`` mark
    in place, so the key's rows are still served when it comes back."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())
    a, b = sources[:2]
    store = CheckpointStore(spark, ck)

    def run_one(key):
        return build_features(seq.filter(F.col("source") == key))

    def b_rows():
        return spark.read.parquet(out).filter(F.col("part_key") == b).count()

    r1 = run_partitioned(spark, store, "j", [a, b], run_one, out, "part_key", "v1")
    assert b_rows() == r1[1].rows > 0

    real_mark = store.mark

    def crash_on_pruned(job_id, key, status, **kw):
        if status == "pruned":
            raise RuntimeError("simulated crash")
        return real_mark(job_id, key, status, **kw)

    store.mark = crash_on_pruned
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_partitioned(spark, store, "j", [a], run_one, out, "part_key", "v1")
    store.mark = real_mark

    run_partitioned(spark, store, "j", [a, b], run_one, out, "part_key", "v1")
    assert b_rows() == r1[1].rows


def _read_sorted_rows(spark, path, drop=("part_key",)):
    df = spark.read.parquet(path).drop(*drop)
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


def test_dedup_pipeline_kill_resume_identical(spark, tmp_path, monkeypatch):
    """The composed corpus-dedup job (signatures -> clusters -> keeper
    filter, jobs/run_dedup.py) must survive a mid-stage-1 crash: the resumed
    run skips finished buckets and produces output identical to an
    uninterrupted run AND to the single-shot in-memory operators."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100)

    # uninterrupted run
    out1, ck1 = str(tmp_path / "out1"), str(tmp_path / "ck1")
    r_sig, r_clu, r_out = RD.run_dedup_pipeline(spark, docs, out1, ck1, **kw)
    assert all(not r.skipped for r in r_sig + r_clu + r_out)

    # interrupted run: crash while computing the SECOND signature bucket
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    real = RD.minhash_band_signatures
    calls = {"n": 0}

    def crashing(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash")
        return real(*a, **k)

    monkeypatch.setattr(RD, "minhash_band_signatures", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        RD.run_dedup_pipeline(spark, docs, out2, ck2, **kw)
    monkeypatch.setattr(RD, "minhash_band_signatures", real)

    # resume: bucket 0 of stage 1 skipped, everything else runs
    r_sig2, r_clu2, r_out2 = RD.run_dedup_pipeline(spark, docs, out2, ck2, **kw)
    assert [r.skipped for r in r_sig2] == [True, False, False]
    assert all(not r.skipped for r in r_clu2 + r_out2)

    # identical artifacts at every stage
    for sub in ("signatures", "clusters", "deduped"):
        assert _read_sorted_rows(spark, f"{out1}/{sub}") == _read_sorted_rows(
            spark, f"{out2}/{sub}"
        ), sub

    # staged pipeline == single-shot operators on the same corpus
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, n_hashes=16, bands=4, max_bucket_size=100
    )
    inline = dedup_clusters(docs, "doc_id", pairs)
    keep_inline = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in inline.filter("is_keeper").collect()
    )
    # deduped rows are (cluster_id, doc_id, text) after column sort
    keep_staged = sorted(
        (r[1], r[0]) for r in _read_sorted_rows(spark, f"{out1}/deduped")
    )
    assert keep_staged == keep_inline
    # dedup actually removed something on this corpus
    assert len(keep_staged) < docs.count()


def test_rerun_partition_is_idempotent(spark, seq, tmp_path):
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())

    def run_one(key):
        return build_features(seq.filter(F.col("source") == key))

    store = CheckpointStore(spark, ck)
    run_partitioned(spark, store, "j", sources, run_one, out, "part_key", "v1")
    before = _collect_features(spark, out)
    # force re-run everything (dynamic overwrite replaces same partitions)
    run_partitioned(
        spark, store, "j", sources, run_one, out, "part_key", "v1", force=True
    )
    assert _collect_features(spark, out) == before


def test_dedup_pipeline_with_decontamination_stage(spark, tmp_path):
    """--bench adds the checkpointed contamination stage: final output =
    dedup keepers MINUS docs overlapping the bench set, identical to the
    inline operators composed by hand, and an immediate re-run skips all
    four stages."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import (
        decontaminate,
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    # every 7th doc plays the eval set; the corpus keeps all docs (the
    # stage must flag TRAINING docs that overlap bench, not remove bench
    # rows themselves — bench membership is a separate concern)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100)

    out, ck = str(tmp_path / "out_dc"), str(tmp_path / "ck_dc")
    r_sig, r_clu, r_con, r_out = RD.run_dedup_pipeline(
        spark, docs, out, ck, bench=bench, **kw
    )
    assert all(not r.skipped for r in r_sig + r_clu + r_con + r_out)

    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/deduped").collect()
    )
    # inline composition of the same operators
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, n_hashes=16, bands=4, max_bucket_size=100
    )
    keepers = dedup_clusters(docs, "doc_id", pairs).filter("is_keeper")
    bad = decontaminate(
        docs, "doc_id", "text", bench, "doc_id", "text", k=3
    ).filter("contaminated")
    want = sorted(
        r["doc_id"]
        for r in keepers.join(bad.select("doc_id"), "doc_id", "left_anti")
        .collect()
    )
    assert got == want
    assert len(got) < keepers.count()  # the stage actually removed docs

    # re-run resumes: every stage skips
    r2 = RD.run_dedup_pipeline(spark, docs, out, ck, bench=bench, **kw)
    assert all(r.skipped for stage in r2 for r in stage)


def test_dedup_pipeline_clean_stage(spark, tmp_path):
    """--clean rewrites text BEFORE anything hashes it (the C4 order):
    rule-failing lines never reach the surviving text, page-verdict
    failures never reach the output, the result equals the hand-composed
    clean_lines -> dedup chain over the CLEANED corpus, and the flag
    participates in the lineage key (same flags resume: every stage
    skips)."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import (
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from geofeaturegeneration_spark.operators.curation import clean_lines

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    # per-doc junk line (4 words < min_words -> cut by the line rules; the
    # doc_id suffix would perturb every doc's shingles if it survived to
    # the signature stage, so equality below proves clean ran FIRST) plus
    # a page-verdict kill on every 5th doc
    docs = base.withColumn(
        "text",
        F.concat(F.col("text"), F.lit("\nclick here now "),
                 F.col("doc_id").cast("string")),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\nbuy lorem ipsum deals")),
        ).otherwise(F.col("text")),
    )
    # the synthetic corpus is unpunctuated single-line prose: drop the
    # terminal-punctuation rule and the 3-line page floor
    ckw = dict(terminal_chars="", min_kept_lines=1)
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100,
              clean=True, clean_kwargs=ckw)

    out, ck = str(tmp_path / "out_cl"), str(tmp_path / "ck_cl")
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 4  # clean, signatures, clusters, output
    assert all(not r.skipped for st in stages for r in st)

    final = spark.read.parquet(os.path.join(out, "deduped"))
    assert final.count() > 0
    # page-verdict docs never surface; junk lines are cut everywhere
    assert final.filter(F.col("doc_id") % 5 == 0).count() == 0
    assert final.filter(F.col("text").contains("click here")).count() == 0

    # equals clean_lines -> dedup hand-composed over the CLEANED text
    rep = clean_lines(docs, "doc_id", "text", **ckw)
    cleaned = docs.drop("text").join(
        rep.filter("keep").select("doc_id", F.col("clean").alias("text")),
        "doc_id",
    )
    pairs = minhash_lsh_pairs(
        cleaned, "doc_id", "text", k=3, n_hashes=16, bands=4,
        max_bucket_size=100,
    )
    keepers = cleaned.join(
        dedup_clusters(cleaned.select("doc_id"), "doc_id", pairs)
        .filter("is_keeper").select("doc_id"),
        "doc_id", "left_semi",
    )
    want = sorted((r["doc_id"], r["text"]) for r in keepers.collect())
    got = sorted(
        (r["doc_id"], r["text"])
        for r in final.select("doc_id", "text").collect()
    )
    assert got == want
    assert cleaned.count() < docs.count()  # the page verdict non-vacuous

    # same flags resume: everything skips (clean is in the lineage key)
    st2 = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for stage in st2 for r in stage)


def test_dedup_pipeline_scrub_stage(spark, tmp_path):
    """--scrub redacts PII inside the output stage: surviving text carries
    no raw emails, equals the hand-composed keeper+pii_clean_col result,
    and scrub participates in the lineage key (a re-run with the same flag
    skips every stage; the flag OFF on the same checkpoint would rerun)."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators.curation import pii_clean_col
    from pyspark.sql import functions as F

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    docs = base.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" leak to user@example.com")),
        ).otherwise(F.col("text")),
    )
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100)

    out, ck = str(tmp_path / "out_sc"), str(tmp_path / "ck_sc")
    r_sig, r_clu, r_out = RD.run_dedup_pipeline(
        spark, docs, out, ck, scrub=True, **kw
    )
    assert all(not r.skipped for r in r_sig + r_clu + r_out)
    final = spark.read.parquet(os.path.join(out, "deduped"))
    assert final.filter(F.col("text").contains("@example.com")).count() == 0
    assert final.filter(F.col("text").contains("<EMAIL>")).count() > 0

    # equals the unscrubbed pipeline with the scrub expression applied
    out2, ck2 = str(tmp_path / "out_ns"), str(tmp_path / "ck_ns")
    RD.run_dedup_pipeline(spark, docs, out2, ck2, scrub=False, **kw)
    plain = spark.read.parquet(os.path.join(out2, "deduped")).withColumn(
        "text", pii_clean_col(F.col("text"))
    )
    got = sorted((r["doc_id"], r["text"]) for r in final.collect())
    want = sorted((r["doc_id"], r["text"]) for r in plain.collect())
    assert got == want

    # same flags resume: everything skips
    r2 = RD.run_dedup_pipeline(spark, docs, out, ck, scrub=True, **kw)
    assert all(r.skipped for stage in r2 for r in stage)


def test_full_curation_pipeline_all_stages_kill_resume(
    spark, tmp_path, monkeypatch
):
    """The FULL curation story as one resumable artifact: quality filter ->
    signatures -> clusters -> decontaminate -> mix (source_sample) -> PII
    scrub. A crash mid-quality-stage resumes byte-identical to an
    uninterrupted run; the result equals the hand-composed inline
    operators; per-stage wall-clock lands in the checkpoint metrics."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import (
        decontaminate,
        dedup_clusters,
        minhash_lsh_pairs,
        quality_filter,
        source_sample,
    )
    from geofeaturegeneration_spark.operators.curation import pii_clean_col

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    qkw = dict(min_words=30, max_words=70, min_avg_word_len=3.0,
               max_avg_word_len=6.0, max_punct_ratio=0.05,
               max_stopword_ratio=0.2, max_dup_word_fraction=0.8)
    rates = {"src0": 900_000, "src1": 900_000, "src2": 900_000}
    # min_hits=20: the tiny-vocab synthetic corpus shares SOME 3-gram with
    # the bench set in every doc — a higher threshold keeps the stage
    # partial (measured: 29 of 224 kept docs at sf0.001), not all-dropping
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100,
              bench=bench, decon_min_hits=20, scrub=True, quality=True,
              quality_kwargs=qkw, mix_rates_ppm=rates, mix_default_ppm=700_000)

    # uninterrupted run
    out1, ck1 = str(tmp_path / "out_full1"), str(tmp_path / "ck_full1")
    stages = RD.run_dedup_pipeline(spark, docs, out1, ck1, **kw)
    assert len(stages) == 5  # quality, signatures, clusters, contamination, output
    assert all(not r.skipped for st in stages for r in st)

    # interrupted: crash while computing the SECOND quality bucket
    out2, ck2 = str(tmp_path / "out_full2"), str(tmp_path / "ck_full2")
    real = RD.quality_filter
    calls = {"n": 0}

    def crashing(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash")
        return real(*a, **k)

    monkeypatch.setattr(RD, "quality_filter", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        RD.run_dedup_pipeline(spark, docs, out2, ck2, **kw)
    monkeypatch.setattr(RD, "quality_filter", real)
    st2 = RD.run_dedup_pipeline(spark, docs, out2, ck2, **kw)
    assert [r.skipped for r in st2[0]] == [True, False, False]
    for sub in ("quality", "signatures", "clusters", "contaminated", "deduped"):
        assert _read_sorted_rows(spark, f"{out1}/{sub}") == _read_sorted_rows(
            spark, f"{out2}/{sub}"
        ), sub

    # equals the hand-composed inline operators
    kept_q = docs.join(
        quality_filter(docs, "doc_id", "text", **qkw)
        .filter("keep").select("doc_id"),
        "doc_id", "left_semi",
    )
    pairs = minhash_lsh_pairs(
        kept_q, "doc_id", "text", k=3, n_hashes=16, bands=4,
        max_bucket_size=100,
    )
    keepers = kept_q.join(
        dedup_clusters(kept_q.select("doc_id"), "doc_id", pairs)
        .filter("is_keeper").select("doc_id"),
        "doc_id", "left_semi",
    )
    bad = decontaminate(
        kept_q, "doc_id", "text", bench, "doc_id", "text", k=3, min_hits=20
    ).filter("contaminated").select("doc_id")
    final = source_sample(
        keepers.join(bad, "doc_id", "left_anti"), "doc_id", rates,
        default_ppm=700_000,
    ).withColumn("text", pii_clean_col(F.col("text")))
    want = sorted(
        (r["doc_id"], r["text"]) for r in final.select("doc_id", "text").collect()
    )
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{out1}/deduped")
        .select("doc_id", "text").collect()
    )
    assert got == want
    # quality + mixing each actually removed docs (non-vacuous stages)
    assert docs.count() > kept_q.count()
    assert len(got) < keepers.count()

    # per-stage wall-clock recorded in the metrics table
    store = RD.CheckpointStore(spark, ck1)
    for job in ("corpus_dedup/quality", "corpus_dedup/signatures",
                "corpus_dedup/clusters", "corpus_dedup/contamination",
                "corpus_dedup/output"):
        m = store.latest(job)
        assert m is not None
        rows = m.collect()
        assert rows and all(
            r["status"] == "done" and r["wall_ms"] > 0 for r in rows
        ), job


def test_dedup_pipeline_computed_mix_stage(spark, tmp_path):
    """mix_alpha computes the temperature recipe INSIDE the job, over the
    SURVIVING corpus: the mixed output equals source_sample(unmixed
    output, temperature_rates(unmixed output, token-weighted)); a same-
    flags resume skips every stage including the checkpointed rate table;
    lowering the target re-runs (conservative global lineage) and, because
    the draw is monotone, yields a subset of the bigger sample."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.functions.text import n_words
    from geofeaturegeneration_spark.operators.curation import (
        source_sample,
        temperature_rates,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100)

    # reference: the unmixed pipeline output IS the surviving corpus the
    # rate stage must base the recipe on
    out0, ck0 = str(tmp_path / "out_plain"), str(tmp_path / "ck_plain")
    RD.run_dedup_pipeline(spark, docs, out0, ck0, **kw)
    plain = spark.read.parquet(os.path.join(out0, "deduped")).drop("part_key")

    out1, ck1 = str(tmp_path / "out_mix"), str(tmp_path / "ck_mix")
    mkw = dict(mix_alpha=0.5, mix_target_frac=0.5, mix_by_tokens=True, **kw)
    stages = RD.run_dedup_pipeline(spark, docs, out1, ck1, **mkw)
    assert len(stages) == 4  # signatures, clusters, mix_rates, output
    mixed = spark.read.parquet(os.path.join(out1, "deduped"))

    rates = temperature_rates(
        plain.withColumn("_w", n_words(F.col("text"))),
        by="source", alpha=0.5, target_frac=0.5, weight_col="_w",
    )
    want = source_sample(plain, "doc_id", rates, by="source", salt="mixrate")
    got_ids = sorted(r["doc_id"] for r in mixed.collect())
    want_ids = sorted(r["doc_id"] for r in want.collect())
    assert got_ids == want_ids
    assert 0 < len(got_ids) < plain.count()

    # same flags resume: everything skips, including the rate stage
    r2 = RD.run_dedup_pipeline(spark, docs, out1, ck1, **mkw)
    assert all(r.skipped for stage in r2 for r in stage)

    # a different target changes the lineage key -> full re-run (the
    # conservative global-lineage contract), and the smaller sample is a
    # SUBSET of the bigger one (the draw is monotone in the rates)
    r3 = RD.run_dedup_pipeline(
        spark, docs, out1, ck1,
        mix_alpha=0.5, mix_target_frac=0.25, mix_by_tokens=True, **kw
    )
    assert all(not r.skipped for stage in r3 for r in stage)
    small_ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out1, "deduped")).collect()
    }
    assert small_ids < set(got_ids)

    # explicit rates and the computed recipe are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        RD.run_dedup_pipeline(
            spark, docs, out1, ck1,
            mix_rates_ppm={"src0": 1}, mix_alpha=0.5, **kw
        )


def test_dedup_pipeline_span_stages(spark, tmp_path):
    """--span-dedup K appends the exact-substring modality: the final
    span_deduped/ table equals span_dedup() run by hand over the deduped/
    output (winners decided on the SURVIVING corpus), keeps every input
    column, and resumes (immediate re-run skips all stages)."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import span_dedup

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    # guarantee a cross-doc verbatim span among the dedup SURVIVORS:
    # append a shared 6-word disclaimer to every 5th doc
    docs = base.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" all rights reserved by the corpus")),
        ).otherwise(F.col("text")),
    )
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100,
              span_k=5)
    out, ck = str(tmp_path / "out_sp"), str(tmp_path / "ck_sp")
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 5  # sig, clusters, output, span_intervals, span_clean
    assert all(not r.skipped for st in stages for r in st)

    deduped = spark.read.parquet(f"{out}/deduped").drop("part_key")
    want = {
        r["doc_id"]: (r["clean"], r["n_dup_tokens"])
        for r in span_dedup(deduped, "doc_id", "text", k=5).collect()
    }
    final = spark.read.parquet(f"{out}/span_deduped")
    got = {
        r["doc_id"]: (r["text"], r["span_dup_tokens"]) for r in final.collect()
    }
    assert got == want
    assert set(final.columns) == {
        "doc_id", "text", "cluster_id", "span_dup_tokens", "part_key"
    }
    # the span stage actually cut something (non-vacuous)
    assert sum(d for _, d in got.values()) > 0

    # re-run: every stage skips, output byte-identical
    st2 = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for st in st2 for r in st)


def test_dedup_pipeline_max_bucket_size_in_lineage(spark, tmp_path):
    """Resuming with a different --max-bucket-size must INVALIDATE every
    stage (the cap changes pairs -> clusters -> keepers): a resumed run may
    not serve stale cluster tables computed under the old cap. Regression
    for the round-4 advisor finding (lineage key omitted mbs)."""
    import jobs.run_dedup as RD

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    out, ck = str(tmp_path / "out_mbs"), str(tmp_path / "ck_mbs")
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4)
    RD.run_dedup_pipeline(spark, docs, out, ck, max_bucket_size=100, **kw)
    # a different cap re-runs every stage instead of skipping
    r_sig, r_clu, r_out = RD.run_dedup_pipeline(
        spark, docs, out, ck, max_bucket_size=2, **kw
    )
    assert all(not r.skipped for r in r_sig + r_clu + r_out)
    # and the result equals a fresh run at the new cap
    out2, ck2 = str(tmp_path / "out_mbs2"), str(tmp_path / "ck_mbs2")
    RD.run_dedup_pipeline(spark, docs, out2, ck2, max_bucket_size=2, **kw)
    assert _read_sorted_rows(spark, f"{out}/deduped") == _read_sorted_rows(
        spark, f"{out2}/deduped"
    )


def test_rerun_with_empty_output_clears_stale_partition(spark, seq, tmp_path):
    """Dynamic partition overwrite only replaces partitions PRESENT in the
    written data, so a lineage-invalidated re-run whose new output is zero
    rows for a key (e.g. a stricter quality filter rejecting the whole
    bucket) would silently keep — and re-count — the previous lineage's
    rows. run_partitioned now deletes the key's directory before the
    write. Regression for the round-4 self-review finding."""
    out, ck = str(tmp_path / "out_empty"), str(tmp_path / "ck_empty")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())
    store = CheckpointStore(spark, ck)

    def run_v1(key):
        return build_features(seq.filter(F.col("source") == key))

    run_partitioned(spark, store, "j", sources, run_v1, out, "part_key", "v1")

    victim = sources[0]

    def run_v2(key):
        df = build_features(seq.filter(F.col("source") == key))
        return df.filter(F.lit(key != victim))  # v2 rejects the whole bucket

    r2 = run_partitioned(spark, store, "j", sources, run_v2, out, "part_key", "v2")
    by_key = {r.partition_key: r for r in r2}
    assert by_key[victim].rows == 0 and not by_key[victim].skipped
    got = spark.read.parquet(out).filter(F.col("part_key") == victim).count()
    assert got == 0  # the v1 rows are gone, not served as v2's output


def test_expanding_key_set_reruns_pruned_partitions(spark, seq, tmp_path):
    """Shrinking the key set prunes data dirs; re-expanding it later must
    re-run the pruned keys, not resume their surviving 'done' marks against
    deleted data. run_partitioned now writes a superseding 'pruned' mark
    for every directory it deletes. Regression for the round-4 self-review
    finding (the 4->2->4 oscillation)."""
    out, ck = str(tmp_path / "out_osc"), str(tmp_path / "ck_osc")
    sources = sorted(r["source"] for r in seq.select("source").distinct().collect())
    assert len(sources) >= 2
    store = CheckpointStore(spark, ck)

    def run_one(key):
        return build_features(seq.filter(F.col("source") == key))

    run_partitioned(spark, store, "j", sources, run_one, out, "part_key", "v1")
    run_partitioned(spark, store, "j", sources[:1], run_one, out, "part_key", "v1")
    r3 = run_partitioned(spark, store, "j", sources, run_one, out, "part_key", "v1")
    by_key = {r.partition_key: r for r in r3}
    assert by_key[sources[0]].skipped  # never pruned, still resumable
    for key in sources[1:]:
        assert not by_key[key].skipped, key  # pruned keys re-ran
        assert by_key[key].rows > 0, key
    present = {
        str(r["part_key"])
        for r in spark.read.parquet(out).select("part_key").distinct().collect()
    }
    assert present == set(sources)


def test_dedup_pipeline_shrinking_buckets_prunes_stale_partitions(
    spark, tmp_path, monkeypatch
):
    """Re-running into the same --output with fewer --buckets would leave
    the old run's higher-numbered part_key directories on disk (dynamic
    partition overwrite only replaces re-run keys) and serve their stale
    signatures/rows to every reader; run_partitioned now prunes
    out-of-range partition dirs up front. Regression for the round-4
    advisor finding. Shrinking to no bucket at all (buckets < 1) would
    prune every partition, so it is rejected before any stage runs."""
    import jobs.run_dedup as RD

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    out, ck = str(tmp_path / "out_shrink"), str(tmp_path / "ck_shrink")
    kw = dict(k=3, n_hashes=16, bands=4, max_bucket_size=100)
    RD.run_dedup_pipeline(spark, docs, out, ck, buckets=4, **kw)
    RD.run_dedup_pipeline(spark, docs, out, ck, buckets=2, **kw)
    # the stale part_key=2/3 dirs are pruned from every stage directory
    for sub in ("signatures", "deduped"):
        leftover = {
            str(r["part_key"])
            for r in spark.read.parquet(f"{out}/{sub}")
            .select("part_key").distinct().collect()
        }
        assert leftover == {"0", "1"}, sub
    # and the final output equals a clean buckets=2 run
    out2, ck2 = str(tmp_path / "out_shrink2"), str(tmp_path / "ck_shrink2")
    RD.run_dedup_pipeline(spark, docs, out2, ck2, buckets=2, **kw)
    clean = _read_sorted_rows(spark, f"{out2}/deduped")
    assert _read_sorted_rows(spark, f"{out}/deduped") == clean
    # an empty key set is an error, and the finished output stays whole
    for bad in (0, -1):
        with pytest.raises(ValueError, match="buckets"):
            RD.run_dedup_pipeline(spark, docs, out, ck, buckets=bad, **kw)

    def no_spark(*a, **k):
        raise AssertionError("Spark session requested")

    monkeypatch.setattr(RD, "get_spark", no_spark)
    for bad in ("0", "-1"):
        with pytest.raises(SystemExit):
            RD.main(["--input", out, "--output", out, "--checkpoint", ck,
                     "--buckets", bad])
    assert _read_sorted_rows(spark, f"{out}/deduped") == clean


def test_dedup_pipeline_semantic_stage(spark, tmp_path, capsys):
    """The embedding (semantic) stage is retired: a run is signatures ->
    clusters -> output, its output equals the hand-composed minhash
    keepers, and every stage records the same lineage string that runs
    without embeddings always carried — so their existing checkpoints
    still resume (an immediate re-run skips every stage). The stage's
    parameters and flags are gone from the API and the CLI."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100)
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 3  # signatures, clusters, output
    assert all(not r.skipped for st in stages for r in st)

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, n_hashes=16, bands=4,
        max_bucket_size=100,
    )
    keepers = dedup_clusters(docs.select("doc_id"), "doc_id", pairs).filter(
        "is_keeper"
    )
    want = sorted(r["doc_id"] for r in keepers.collect())
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/deduped").collect()
    )
    assert got == want

    lineage = "xform=v1;buckets=3;k=3;h=16;b=4;mbs=100"
    store = CheckpointStore(spark, ck)
    buckets = {"0", "1", "2"}
    assert store.completed("corpus_dedup/signatures", lineage) == buckets
    assert store.completed("corpus_dedup/clusters", lineage) == {"all"}
    assert store.completed("corpus_dedup/output", lineage) == buckets

    st2 = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for st in st2 for r in st)

    def retired(names):
        return [n for n in names if "emb" in n or "semantic" in n]

    params = inspect.signature(RD.run_dedup_pipeline).parameters
    assert "max_bucket_size" in params and not retired(params)
    capsys.readouterr()
    with pytest.raises(SystemExit):
        RD.main(["--help"])
    flags = re.findall(r"--[\w-]+", capsys.readouterr().out)
    assert "--max-bucket-size" in flags and not retired(flags)


def test_dedup_main_rewritten_input_reruns_every_stage(
    spark, tmp_path, monkeypatch, capsys
):
    """``jobs/run_dedup.py``'s lineage holds the input's files, not only
    its path: rewriting ``--input`` in place with other docs re-runs every
    stage, and ``deduped/`` then equals a clean run over the new docs."""
    import jobs.run_dedup as RD

    monkeypatch.setattr(RD, "get_spark", lambda *a, **k: spark)
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = str(tmp_path / "docs")

    def run(out, ck):
        capsys.readouterr()
        assert RD.main(["--input", inp, "--output", out, "--checkpoint", ck,
                        "--buckets", "2"]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    src.filter(F.col("doc_id") % 2 == 0).write.parquet(inp)
    first = run(out, ck)
    assert all(st["skipped"] == 0 for st in first["stages"].values())
    src.filter(F.col("doc_id") % 2 == 1).write.mode("overwrite").parquet(inp)
    second = run(out, ck)
    assert list(second["stages"]) == ["signatures", "clusters", "output"]
    assert all(st["skipped"] == 0 for st in second["stages"].values())

    clean = str(tmp_path / "clean")
    run(clean, str(tmp_path / "ck_clean"))
    got = _read_sorted_rows(spark, f"{out}/deduped")
    assert got and got == _read_sorted_rows(spark, f"{clean}/deduped")


def test_dedup_pipeline_normalize_stage(spark, tmp_path):
    """--normalize canonicalizes byte forms BEFORE anything hashes (the
    CCNet order): a doc and its scrape twin that differ only in NFD-vs-NFC
    accents + CRLF line breaks + tab runs become byte-identical, so the
    minhash dedup actually collapses them (the un-normalized pipeline
    CANNOT — their shingle bytes differ); the surviving text is the
    canonical form, and the form participates in the lineage key (same
    flags resume: every stage skips)."""
    import unicodedata

    import jobs.run_dedup as RD

    nfc = "résumé café déjà vu naïve façade élite"
    mangled = (
        unicodedata.normalize("NFD", nfc).replace(" ", " \t") + "  \r\n"
    )
    filler = [
        (100 + i, " ".join(f"w{i}x{j}" for j in range(10)))
        for i in range(8)
    ]
    docs = spark.createDataFrame(
        [(1, nfc), (2, mangled)] + filler, "doc_id INT, text STRING"
    )
    kw = dict(buckets=2, k=3, n_hashes=16, bands=4, max_bucket_size=100,
              normalize="NFC")

    out, ck = str(tmp_path / "out_nm"), str(tmp_path / "ck_nm")
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 4  # clean(=normalize), signatures, clusters, output
    assert all(not r.skipped for st in stages for r in st)

    final = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(os.path.join(out, "deduped")).collect()}
    # the byte-form twins collapsed to the min-id keeper, text canonical
    assert 1 in final and 2 not in final
    assert final[1] == nfc
    assert len(final) == 1 + len(filler)

    # control: WITHOUT normalize the twins' shingle bytes differ — both
    # survive, proving the collapse above came from the normalize stage
    out2, ck2 = str(tmp_path / "out_nm0"), str(tmp_path / "ck_nm0")
    RD.run_dedup_pipeline(
        spark, docs, out2, ck2, buckets=2, k=3, n_hashes=16, bands=4,
        max_bucket_size=100,
    )
    raw = {r["doc_id"] for r in
           spark.read.parquet(os.path.join(out2, "deduped")).collect()}
    assert {1, 2} <= raw

    # same flags resume: everything skips (the form is in the lineage key)
    st2 = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for stage in st2 for r in stage)


def test_dedup_pipeline_normalize_then_clean(spark, tmp_path):
    """--normalize composes with --clean in ONE rewrite stage, in CCNet
    order (byte form first, THEN line rules): doc 1's junk line has only
    2 real words once the tab run collapses, so the min_words line rule
    cuts it from the NORMALIZED text; doc 2's NFD accent ("e"+U+0301) is
    composed away and its trailing CRLF trimmed before the line rules
    judge it. Same-flag resume skips everything."""
    import unicodedata

    import jobs.run_dedup as RD

    good = "one two three four five.\nsix seven eight nine ten.\na b c d e."
    other = "red green blue cyan magenta.\nups downs lefts rights middles."
    nfd = other.replace("green", "gre\u0301en")
    docs = spark.createDataFrame(
        [(1, good + "\nbuy\t\tnow."), (2, nfd + "\r\n")],
        "doc_id INT, text STRING",
    )
    kw = dict(buckets=2, k=3, n_hashes=16, bands=4, max_bucket_size=100,
              normalize="NFC", clean=True,
              clean_kwargs=dict(min_kept_lines=1))
    out, ck = str(tmp_path / "out_nc"), str(tmp_path / "ck_nc")
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 4
    final = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(os.path.join(out, "deduped")).collect()}
    assert final[1] == good                  # junk line cut post-normalize
    assert "\u0301" not in final[2]          # NFD composed away
    assert final[2] == unicodedata.normalize("NFC", other.replace("green", "gre\u0301en"))
    # same flags resume: everything skips
    st2 = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for stage in st2 for r in stage)


def test_dedup_pipeline_pack_and_shard_export(spark, tmp_path):
    """--shard-size exports the surviving docs in shuffle_shards order
    inside the same resumable artifact: the rows equal shuffle_shards over
    the deduped output, every shard except the last is exactly shard_size
    rows, and the export stage resumes (skips) with the same flags."""
    import jobs.run_dedup as RD
    from geofeaturegeneration_spark.operators import shuffle_shards

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    kw = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100,
              shard_size=16)

    out, ck = str(tmp_path / "out_px"), str(tmp_path / "ck_px")
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 4  # signatures, clusters, output, shards
    assert all(not r.skipped for st in stages for r in st)

    # shards: the surviving docs in shuffle_shards order, fixed-size
    # shards with only the last one short
    final = spark.read.parquet(f"{out}/deduped").drop("part_key")
    shards = spark.read.parquet(f"{out}/shards").drop("part_key")
    cols = [*final.columns, "pos", "shard", "shard_pos"]
    want = sorted(
        tuple(r) for r in shuffle_shards(final, "doc_id", 16)
        .select(cols).collect()
    )
    got = sorted(tuple(r) for r in shards.select(cols).collect())
    assert got == want
    assert len(got) == final.count() > 0
    sizes = {
        r["shard"]: r["n"]
        for r in shards.groupBy("shard").agg(F.count("*").alias("n"))
        .collect()
    }
    last = max(sizes)
    assert all(sizes[s] == 16 for s in sizes if s != last)
    assert 0 < sizes[last] <= 16
    assert shards.select(F.max("shard_pos")).collect()[0][0] <= 15

    # same flags resume: everything skips
    st2 = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for st in st2 for r in st)


def test_dedup_pipeline_epoch_upsampling_export(spark, tmp_path):
    """--epochs materializes per-source repetition into the shard export
    only: 2.0 epochs everywhere exactly doubles the shard rows vs the
    epoch-free run, the corpus tables stay one-copy-per-doc, resume skips
    everything, and changing the rates re-runs ONLY the shards stage
    (stage-local lineage)."""
    import jobs.run_dedup as RD

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "source")
    base = dict(buckets=3, k=3, n_hashes=16, bands=4, max_bucket_size=100,
                shard_size=16)

    out0, ck0 = str(tmp_path / "out_e0"), str(tmp_path / "ck_e0")
    RD.run_dedup_pipeline(spark, docs, out0, ck0, **base)
    final = spark.read.parquet(f"{out0}/deduped").drop("part_key")
    n_shard_rows0 = spark.read.parquet(f"{out0}/shards").count()
    assert n_shard_rows0 == final.count() > 0

    kw = dict(base, epoch_rates_ppm={"src0": 2_000_000},
              epoch_default_ppm=2_000_000)
    out, ck = str(tmp_path / "out_ep"), str(tmp_path / "ck_ep")
    stages = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert len(stages) == 4
    assert all(not r.skipped for st in stages for r in st)

    # exactly 2 copies of every surviving doc reach the training export;
    # the corpus table itself is NOT duplicated
    shd = spark.read.parquet(f"{out}/shards")
    assert shd.count() == 2 * n_shard_rows0
    # the two copies of one doc carry distinct composite identities
    assert (
        shd.groupBy("_eid").count().filter("count > 1").count() == 0
    )
    ded = spark.read.parquet(f"{out}/deduped").drop("part_key", "cluster_id")
    assert ded.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert ded.count() == final.count()

    # resume: identical flags skip every stage
    again = RD.run_dedup_pipeline(spark, docs, out, ck, **kw)
    assert all(r.skipped for st in again for r in st)

    # epoch-rate change invalidates ONLY the export stage
    kw2 = dict(kw, epoch_rates_ppm={"src0": 3_000_000})
    third = RD.run_dedup_pipeline(spark, docs, out, ck, **kw2)
    skipped = [all(r.skipped for r in st) for st in third]
    assert skipped == [True, True, True, False]

    # epochs without a training export is a configuration error
    with pytest.raises(ValueError, match="pass shard_size"):
        RD.run_dedup_pipeline(
            spark, docs, str(tmp_path / "x"), str(tmp_path / "y"),
            buckets=3, epoch_rates_ppm={"src0": 2_000_000},
        )


def test_semantic_stage_empty_corpus_graceful(spark, tmp_path):
    """A corpus that dies entirely upstream (here: every doc fails the C4
    page verdict) must flow 0 rows through every later stage — quality,
    signatures, clusters, the computed mix, output, span and shards —
    instead of crashing one of them on an empty input (as the since-retired
    semantic stage's quantizer trainer once did)."""
    import jobs.run_dedup as RD

    docs = spark.createDataFrame(
        [(i, "short line\nno punct", f"src{i % 2}") for i in range(8)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    stages = RD.run_dedup_pipeline(
        spark, docs, str(tmp_path / "o"), str(tmp_path / "c"),
        buckets=2, clean=True, quality=True, mix_alpha=0.5, span_k=8,
        shard_size=64,
    )
    # clean, quality, signatures, clusters, mix_rates, output,
    # span_intervals, span_clean, shards
    assert len(stages) == 9
    # every stage completed with zero rows (an all-empty partitioned
    # write leaves no parquet footers, so assert on the recorded stage
    # metrics rather than re-reading schema-less empty dirs)
    rows = [r.rows for st in stages for r in st if r.rows is not None]
    assert rows and all(n == 0 for n in rows)


def test_semantic_exemplar_must_survive_clean(spark, tmp_path):
    """Regression: a doc removed by the C4 page verdict must not elect
    itself the min-id cluster keeper and drop a SURVIVING near-dup — the
    survivor's content would vanish from the output entirely. The rule
    first pinned for the since-retired semantic stage holds for the
    minhash clusters: cleaning runs before any signature is taken."""
    import jobs.run_dedup as RD

    good = "".join(
        " ".join(f"w{8 * i + j}" for j in range(8)) + ".\n" for i in range(12)
    )
    rows = [
        (1, good + "lorem ipsum dolor sit amet."),  # fails the page verdict
        (2, good),                                  # survives
        (3, "also very short"),                     # fails
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    def deduped(name, **kw):
        out = tmp_path / f"o_{name}"
        RD.run_dedup_pipeline(
            spark, docs, str(out), str(tmp_path / f"c_{name}"), buckets=2,
            **kw,
        )
        return sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(out / "deduped")).collect()
        )

    # without cleaning, doc 1 is doc 2's near-dup and keeps the cluster
    assert deduped("raw") == [1, 3]
    assert deduped("clean", clean=True) == [2]
