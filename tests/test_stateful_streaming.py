"""Stateful streaming sessionization == batch sessionization.

The stream is the sf0.001 events table split into 5 time-ordered files fed
one per micro-batch, so per-user state genuinely carries across batches."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rsmetacheck_spark.queries import q05_sessionize
from rsmetacheck_spark.streaming.stateful import _update, sessionize_stateful

SF_DIR = "/root/testdata/sf0.001"


def test_stateful_matches_batch(spark, tmp_path):
    batch = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    src = str(tmp_path / "ordered")
    # 5 contiguous time slices -> 5 files; rows within and across batches
    # arrive in event-time order per user
    (
        batch.withColumn(
            "slice",
            F.ntile(5).over(__import__("pyspark").sql.Window.orderBy("ts", "event_id")),
        )
        .repartitionByRange(5, "slice")
        .sortWithinPartitions("ts", "event_id")
        .drop("slice")
        .write.mode("overwrite").parquet(src)
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts", "event_id")
    )
    q = (
        sessionize_stateful(stream)
        .writeStream.outputMode("update")
        .format("memory").queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # last emission per user = final running totals
    got = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }  # memory sink in update mode appends; later rows overwrite via dict
    # rebuild keeping the LAST row per user (emission order == batch order)
    rows = spark.sql("SELECT * FROM sess_out").collect()
    got = {}
    for r in rows:
        prev = got.get(r.user_id, (0, 0))
        if r.n_events >= prev[1]:
            got[r.user_id] = (r.n_sessions, r.n_events)

    want = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q05_sessionize(spark, SF_DIR).collect()
    }
    assert got == want and len(want) >= 10


class _StubState:
    """The slice of GroupState that `_update` touches."""

    def __init__(self):
        self.exists, self.get = False, None

    def update(self, value):
        self.exists, self.get = True, value


def _run_update(ts):
    events = pd.DataFrame({
        "user_id": [7] * len(ts),
        "ts": pd.to_datetime([pd.Timestamp(t) for t in ts]),
        "event_id": range(len(ts)),
    })
    state = _StubState()
    (out,) = _update((7,), iter([events]), state)
    return out.iloc[0]["n_sessions"], out.iloc[0]["n_events"], state.get


def test_update_truncates_seconds_like_batch(spark, tmp_path):
    """Pre-epoch fractional seconds truncate toward zero, as Spark's
    unix_timestamp does: 23:29:59.5 -> -1800 and 00:00:00 -> 0 are 1800 s
    apart (one session). Flooring would make it -1801, a gap of 1801 s."""
    ts = ["1969-12-31 23:29:59.5", "1970-01-01 00:00:00"]
    n_sessions, n_events, state = _run_update(ts)
    assert (n_sessions, n_events) == (1, 2)
    assert state[0] == 0
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, 7, pd.Timestamp(t).to_pydatetime()) for i, t in enumerate(ts)],
        "event_id long, user_id long, ts timestamp",
    ).write.parquet(os.path.join(sf, "events.parquet"))
    (row,) = q05_sessionize(spark, sf).collect()
    assert (row.n_sessions, row.n_events) == (n_sessions, n_events)


def test_update_rejects_null_timestamp():
    with pytest.raises(ValueError, match="user 7"):
        _run_update(["1970-01-01 00:00:00", None])
