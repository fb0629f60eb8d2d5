"""Streaming sessionization: file-source micro-batch -> memory sink, checked
against the batch operator on the same data (lambda-architecture parity)."""

import os
import sys
import uuid
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geofeaturegeneration_spark.operators import sessionize_gap
from geofeaturegeneration_spark.streaming import (
    stream_gap_sessions,
    stream_running_features,
)

SCHEMA = "uid STRING, ts TIMESTAMP, v DOUBLE"


@pytest.fixture()
def event_rows():
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for uid in ("a", "b"):
        # session 1: 3 events 1 min apart; 2h gap; session 2: 2 events
        for i in range(3):
            rows.append((uid, t0 + timedelta(minutes=i), float(i)))
        for i in range(2):
            rows.append((uid, t0 + timedelta(hours=2, minutes=i), 10.0 + i))
    return rows


def _write_stream_input(spark, tmp_path, rows):
    path = str(tmp_path / "in")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    return path


def test_stream_gap_sessions_matches_batch(spark, tmp_path, event_rows):
    path = _write_stream_input(spark, tmp_path, event_rows)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    out = stream_gap_sessions(
        stream, ["uid"], "ts", gap="30 minutes", watermark="10 hours",
        agg_exprs={"sum_v": F.sum("v")},
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "streaming query did not finish"
    # append mode only emits watermark-closed sessions; with a bounded input
    # the final watermark closes everything except sessions at the max ts —
    # feed a late sentinel far in the future to flush, or simply compare the
    # sessions that did close. Here: sentinel row approach.
    got = spark.sql(f"SELECT * FROM {name}").collect()
    batch = sessionize_gap(
        spark.createDataFrame(event_rows, SCHEMA), ["uid"], "ts", gap_s=1800.0,
        agg_exprs={"sum_v": F.sum("v")},
    ).collect()
    bmap = {(r["uid"], str(r["stime"])): (r["n_events"], r["sum_v"]) for r in batch}
    for r in got:
        key = (r["uid"], str(r["stime"]))
        assert key in bmap
        assert (r["n_events"], r["sum_v"]) == bmap[key]
    # every closed streaming session matches batch; at least the first
    # session per uid must have closed (2h < 10h watermark never closes?
    # availableNow final watermark = max ts - 10h -> nothing closes).
    # So instead assert consistency (above) and completeness under a tight
    # watermark in the second query below.


def test_stream_gap_sessions_completeness_tight_watermark(spark, tmp_path, event_rows):
    # add a far-future flush row so the watermark passes all real sessions
    flush = [("zz", datetime(2024, 1, 2, 12, 0, 0), 0.0)]
    path = _write_stream_input(spark, tmp_path, event_rows + flush)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    out = stream_gap_sessions(
        stream, ["uid"], "ts", gap="30 minutes", watermark="1 minute",
        agg_exprs={"sum_v": F.sum("v")},
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "streaming query did not finish"
    got = {
        (r["uid"], str(r["stime"])): (r["n_events"], r["sum_v"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r["uid"] != "zz"
    }
    batch = {
        (r["uid"], str(r["stime"])): (r["n_events"], r["sum_v"])
        for r in sessionize_gap(
            spark.createDataFrame(event_rows, SCHEMA), ["uid"], "ts", gap_s=1800.0,
            agg_exprs={"sum_v": F.sum("v")},
        ).collect()
    }
    assert got == batch


def test_stream_running_features(spark, tmp_path, event_rows):
    path = _write_stream_input(spark, tmp_path, event_rows)
    stream = spark.readStream.schema(SCHEMA).parquet(path)
    out = stream_running_features(stream, ["uid"], "v", "ts", watermark="10 hours")
    name = f"run_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "streaming query did not finish"
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    final = {r["uid"]: r for r in rows}  # last update per uid wins in memory table? keep any
    for uid in ("a", "b"):
        r = final[uid]
        assert r["n_events"] == 5
        assert r["running_sum"] == pytest.approx(0 + 1 + 2 + 10 + 11)


def test_stream_exact_dedup_one_survivor_per_fp(spark, tmp_path):
    """Streaming dedup must agree with the batch fingerprint: one survivor
    per normalized-content group, fp values identical to batch exact_dedup
    (lambda-architecture consistency)."""
    from geofeaturegeneration_spark.operators import exact_dedup
    from geofeaturegeneration_spark.streaming import stream_exact_dedup

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "Hello   World", t0),
        (2, "hello world", t0 + timedelta(minutes=1)),   # dup of 1 (normalized)
        (3, "something else", t0 + timedelta(minutes=2)),
        (4, " HELLO WORLD ", t0 + timedelta(minutes=3)), # dup of 1
        (5, "something else", t0 + timedelta(minutes=4)),# dup of 3
        (6, "unique doc", t0 + timedelta(minutes=5)),
    ]
    schema = "doc_id BIGINT, text STRING, ts TIMESTAMP"
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    stream = spark.readStream.schema(schema).parquet(path)
    out = stream_exact_dedup(stream, "doc_id", "text", "ts", watermark="10 minutes")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180), "streaming query did not finish"
    got = spark.sql(f"SELECT * FROM {name}").collect()

    batch = exact_dedup(
        spark.createDataFrame(rows, schema), "doc_id", "text"
    ).collect()
    assert len(got) == len(batch) == 3            # 3 distinct contents
    assert {r["fp"] for r in got} == {r["fp"] for r in batch}
    # survivors carry full rows; exactly one per fingerprint
    assert len({r["fp"] for r in got}) == len(got)


def test_stream_asof_join_matches_batch(spark, tmp_path):
    """Streaming as-of must reproduce the batch answer for every probe the
    watermark has finalized: buffered until no earlier reference row can
    arrive, <= tie rule, null for probes before any reference. Sentinel
    rows far in the future push the final watermark past all real data so
    every probe flushes (via the event-time timeout path — probes arrive
    before the watermark advances)."""
    from geofeaturegeneration_spark.operators import asof_join
    from geofeaturegeneration_spark.streaming import stream_asof_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t0 + timedelta(minutes=m)

    lrows = [
        ("a", 1, ts(5)), ("a", 2, ts(10)), ("a", 3, ts(2)),   # 3: before refs
        ("b", 4, ts(7)), ("b", 5, ts(7)),                     # same-time probes
        ("zzz", 99, ts(60)),                                  # sentinel
    ]
    rrows = [
        ("a", ts(4), 1.0), ("a", ts(10), 2.0),                # tie with probe 2
        ("b", ts(6), 3.0), ("b", ts(8), 4.0),
        ("zzz", ts(60), 0.0),                                 # sentinel
    ]
    lschema = "key STRING, pid INT, pts TIMESTAMP"
    rschema = "key STRING, rts TIMESTAMP, val DOUBLE"
    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(lrows, lschema).coalesce(1).write.parquet(lpath)
    spark.createDataFrame(rrows, rschema).coalesce(1).write.parquet(rpath)

    out = stream_asof_join(
        spark.readStream.schema(lschema).parquet(lpath),
        spark.readStream.schema(rschema).parquet(rpath),
        ["key"], "pid", "pts", "rts", ["val"], watermark="1 second",
    )
    name = f"sasof_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    # awaitTermination(timeout) returns False WITHOUT stopping the query if
    # the timeout elapses — reading the memory table then races the final
    # no-data batch that flushes the timeout path (observed under load)
    assert q.awaitTermination(180), "streaming query did not finish"
    got = {r["pid"]: r["val"] for r in spark.sql(f"SELECT * FROM {name}").collect()}

    batch = asof_join(
        spark.createDataFrame([r for r in lrows if r[0] != "zzz"], lschema),
        spark.createDataFrame([r for r in rrows if r[0] != "zzz"], rschema),
        ["key"], "pts", "rts", ["val"],
    ).collect()
    want = {r["pid"]: r["val"] for r in batch}
    # every real probe finalized (watermark pushed past them by sentinels)
    got.pop(99, None)
    assert got == want
    assert want[3] is None        # probe before any reference
    assert want[2] == 2.0         # reference at exactly t IS visible
    # emitted event times round-trip
    times = {
        r["pid"]: r["pts"] for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert times[1] == ts(5)


def test_stream_asof_max_pending_guards_stalled_watermark(spark, tmp_path):
    """With a stalled watermark (here: batch 1 arrives before any watermark
    advance, the degenerate stall) pending probes accumulate per key;
    max_pending must fail the query with a clear error instead of letting
    state grow without bound."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from geofeaturegeneration_spark.streaming import stream_asof_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    lrows = [("a", i, t0 + timedelta(minutes=i)) for i in range(8)]
    rrows = [("a", t0, 1.0)]
    lschema = "key STRING, pid INT, pts TIMESTAMP"
    rschema = "key STRING, rts TIMESTAMP, val DOUBLE"
    lpath, rpath = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(lrows, lschema).coalesce(1).write.parquet(lpath)
    spark.createDataFrame(rrows, rschema).coalesce(1).write.parquet(rpath)

    out = stream_asof_join(
        spark.readStream.schema(lschema).parquet(lpath),
        spark.readStream.schema(rschema).parquet(rpath),
        ["key"], "pid", "pts", "rts", ["val"],
        watermark="1 second", max_pending=3,
    )
    name = f"sasof_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    with pytest.raises(StreamingQueryException, match="max_pending"):
        q.awaitTermination(180)


def test_stream_asof_ref_ttl_evicts_quiescent_keys(spark, tmp_path):
    """A key that holds ONLY reference history (no pending probes) must be
    evicted once its newest reference row falls ref_ttl_ms behind the
    watermark — otherwise total state grows with the stream's lifetime
    distinct-key cardinality. Observable via the state-store row count of
    the final micro-batch: the quiescent key 'a' is gone, only the
    still-in-window sentinel key remains."""
    from geofeaturegeneration_spark.streaming import stream_asof_join

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    far = t0 + timedelta(hours=5)
    lrows = [("zzz", 99, far)]                       # sentinel probe
    rrows = [("a", t0, 1.0), ("a", t0 + timedelta(minutes=1), 2.0),
             ("zzz", far, 0.0)]                      # 'a' = ref-only key
    lschema = "key STRING, pid INT, pts TIMESTAMP"
    rschema = "key STRING, rts TIMESTAMP, val DOUBLE"

    def run(ttl):
        lpath = str(tmp_path / f"l_{ttl}")
        rpath = str(tmp_path / f"r_{ttl}")
        spark.createDataFrame(lrows, lschema).coalesce(1).write.parquet(lpath)
        spark.createDataFrame(rrows, rschema).coalesce(1).write.parquet(rpath)
        out = stream_asof_join(
            spark.readStream.schema(lschema).parquet(lpath),
            spark.readStream.schema(rschema).parquet(rpath),
            ["key"], "pid", "pts", "rts", ["val"],
            watermark="1 second", ref_ttl_ms=ttl,
        )
        name = f"sasof_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(180), "streaming query did not finish"
        return q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]

    # TTL 1 min: 'a' refs are hours behind the final watermark -> evicted;
    # only the sentinel key (pending probe at the watermark) remains
    assert run(60_000) == 1
    # no TTL: 'a' is retained forever alongside the sentinel
    assert run(None) == 2


def test_rowwise_band_sigs_match_batch(spark):
    """The stream-safe per-row banding (array_min minhashes) must produce
    the IDENTICAL (id, band, sig_str) rows as the batch explode+groupBy
    path — the guarantee that lets a persisted corpus band table serve
    both legs of a lambda architecture."""
    from geofeaturegeneration_spark.operators import (
        minhash_band_signatures,
        minhash_band_signatures_rowwise,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different content about spark engines"),
            (4, "a b"),  # shorter than shingle k -> no rows on either path
        ],
        "doc_id INT, text STRING",
    )
    batch = sorted(
        tuple(r)
        for r in minhash_band_signatures(docs, "doc_id", "text").collect()
    )
    roww = sorted(
        tuple(r)
        for r in minhash_band_signatures_rowwise(docs, "doc_id", "text").collect()
    )
    assert batch == roww
    assert not any(t[0] == 4 for t in roww)

