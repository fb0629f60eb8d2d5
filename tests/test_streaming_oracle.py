"""The stateful streaming as-of join replayed against the DuckDB oracle:
finalized probes over the sf events table must equal DuckDB's ASOF LEFT
JOIN (``asof_salted``'s oracle) exactly, so the stream's emitted set is
checked against the cross-engine-exact batch answer, not merely the batch
operator's output.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "events.parquet")),
    reason="sf testdata not present",
)


def _run_stream(out, name_prefix: str):
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300), "streaming query did not finish"
    return out.sparkSession.sql(f"SELECT * FROM {name}")


def test_stream_asof_join_matches_duckdb_oracle(spark, tmp_path):
    """The stateful streaming as-of join over the sf events table == the
    DuckDB ASOF LEFT JOIN oracle that carries the batch asof_* contract
    queries: every finalized probe row (watermark pushed past all real
    data by far-future sentinel rows on both streams) must carry exactly
    the oracle's click_value, including NULL for probes before any
    reference."""
    from datetime import timedelta

    from geofeaturegeneration_spark.streaming import stream_asof_join

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    far = ev.agg(F.max("ts")).collect()[0][0] + timedelta(days=10)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    ).unionByName(
        spark.createDataFrame(
            [(-1, -1, far)], "user_id BIGINT, event_id BIGINT, ts TIMESTAMP"
        )
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    ).unionByName(
        spark.createDataFrame(
            [(-1, far, 0.0)],
            "user_id BIGINT, click_ts TIMESTAMP, click_value DOUBLE",
        )
    )
    lpath, rpath = str(tmp_path / "asof_l"), str(tmp_path / "asof_r")
    left.write.parquet(lpath)
    right.write.parquet(rpath)
    out = stream_asof_join(
        spark.readStream.schema(left.schema).parquet(lpath),
        spark.readStream.schema(right.schema).parquet(rpath),
        ["user_id"], "event_id", "ts", "click_ts", ["click_value"],
        watermark="1 second",
    )
    sink = _run_stream(out, "asof_oracle")
    got = {
        r["event_id"]: (r["user_id"], r["ts"], r["click_value"])
        for r in sink.collect()
        if r["event_id"] != -1
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(SF_DIR, 'events.parquet')}'"
    )
    want = {
        eid: (uid, ts, cv)
        for eid, uid, ts, _val, cv in con.execute(
            E.oracle_sql()["asof_salted"]
        ).fetchall()
    }
    assert got == want
    # both branches exercised: backfilled probes AND pre-reference nulls
    vals = [v[2] for v in want.values()]
    assert any(v is None for v in vals) and any(v is not None for v in vals)
