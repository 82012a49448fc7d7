"""Watermark semantics under a controlled multi-batch replay: a row
arriving after the watermark has passed its window is dropped
deterministically (SURVEY.md §2F Q29 'late rows dropped')."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

SCHEMA = StructType(
    [StructField("ts", TimestampType()), StructField("k", StringType())]
)


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def test_late_rows_dropped_after_watermark(spark, tmp_path):
    import datetime as dt

    h0 = dt.datetime(2024, 1, 1, 0, 30, 0)
    h2 = dt.datetime(2024, 1, 1, 2, 30, 0)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # batch 0: one row in window 00:00 and one in 02:00 — pushes the
    # watermark to 02:30 - 15min = 02:15, far past window 00:00's end.
    # (Spark applies a batch's watermark starting from the NEXT batch, so
    # the late row goes in its own later file.)
    _write_batch(spark, [(h0, "a"), (h2, "b")], os.path.join(src, "b0"))
    time.sleep(1.1)  # file stream source orders batches by mtime
    # batch 1: timely row for window 02:00 (counted)
    _write_batch(spark, [(h2 + dt.timedelta(minutes=5), "ok")], os.path.join(src, "b1"))
    time.sleep(1.1)
    # batch 2: LATE row for window 00:00 — watermark is 02:15 by now,
    # window 00's end (01:00) is far behind it → dropped
    _write_batch(spark, [(h0 + dt.timedelta(minutes=5), "late")], os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
        .withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = "late_test_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name).select(
        F.col("window.start").alias("w"), "cnt"
    )
    # update mode emits one row per window per batch that changed it —
    # take the final (max) count per window
    final = {
        r.w.hour: r.cnt
        for r in result.groupBy("w").agg(F.max("cnt").alias("cnt")).collect()
    }
    assert final[0] == 1, f"late row for window 00 must be dropped: {final}"
    assert final[2] == 2, f"timely row for window 02 must be counted: {final}"


def test_transform_with_state_gated_on_protobuf(spark):
    """q140 (transformWithStateInPandas) requires google.protobuf for the
    TWS driver-worker protocol; the entry must register exactly when the
    dependency exists — never fake the capability, never crash the
    registry import."""
    from iceberg_rest_server_spark.queries import REGISTRY

    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False
    assert ("q140_stream_transform_with_state" in REGISTRY) == has_protobuf


def test_q140_processor_logic_without_tws_runtime():
    """The q140 StatefulProcessor's state transitions, unit-tested with a
    fake ValueState handle — the TWS runtime (protobuf-gated) is the ONLY
    part not exercised in this container. Replays two micro-batches per
    key and checks count/min/max fold across them plus per-key state
    isolation."""
    import pandas as pd

    from iceberg_rest_server_spark.streaming.queries import (
        LocalStateHandle as FakeHandle,
    )
    from iceberg_rest_server_spark.streaming.queries import (
        make_user_totals_processor,
    )

    proc = make_user_totals_processor()
    handle = FakeHandle()
    proc.init(handle)

    # batch 1, key (7,): three events
    out1 = list(
        proc.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [5.0, -2.0, 3.0]})]), None
        )
    )
    assert len(out1) == 1
    row = out1[0].iloc[0]
    assert (row.user_id, row.n_events, row.min_value, row.max_value) == (7, 3, -2.0, 5.0)

    # batch 2, same key: state folds across batches (and empty chunks are
    # ignored)
    out2 = list(
        proc.handleInputRows(
            (7,),
            iter([pd.DataFrame({"value": []}), pd.DataFrame({"value": [10.0]})]),
            None,
        )
    )
    row = out2[0].iloc[0]
    assert (row.n_events, row.min_value, row.max_value) == (4, -2.0, 10.0)

    # a different key gets fresh state in the real runtime (one state
    # object per key); simulate by a fresh processor+handle
    proc2 = make_user_totals_processor()
    proc2.init(FakeHandle())
    out3 = list(
        proc2.handleInputRows((8,), iter([pd.DataFrame({"value": [1.0]})]), None)
    )
    row = out3[0].iloc[0]
    assert (row.user_id, row.n_events, row.min_value, row.max_value) == (8, 1, 1.0, 1.0)
    proc.close()
    proc2.close()


def test_q162_outer_join_flushes_every_click(spark, sf_dir):
    """The left-outer stream-stream join must emit EVERY click exactly
    once — including the final-window clicks that only flush because the
    sentinel advances the watermark (without it the last click is
    provably withheld: the watermark stalls at max-click-ts - delay).
    Sentinel rows (negative ids) must never leak into the result."""
    from iceberg_rest_server_spark.queries import REGISTRY
    from iceberg_rest_server_spark.streaming.queries import _outer_join_stream_dir
    from iceberg_rest_server_spark.tables import load_events

    d = _outer_join_stream_dir(spark, sf_dir)
    assert os.path.exists(os.path.join(d, "b_sentinel.parquet"))

    out = REGISTRY["q162_stream_stream_left_outer"].fn(spark, sf_dir).collect()
    clicks = (
        load_events(spark, os.path.join(sf_dir, "events.parquet"))
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert len(out) == clicks  # one group per click: none withheld, none dup'd
    assert all(r.click_id >= 0 for r in out)  # sentinels dropped post-sink
    assert any(r.n_views == 0 and r.first_view_ts is None for r in out)


def test_q171_full_outer_matches_batch_rederivation(spark, sf_dir):
    """ADVICE r7 #3: independent pure-pandas re-derivation of the full
    outer interval join's category counts — matched / click_only /
    view_only per user — so q171's correctness doesn't rest solely on
    the oracle hash match. Also pins the sentinel hygiene: no negative
    user ids leak, and every click and every view is accounted for
    exactly once across the categories."""
    import pandas as pd

    from iceberg_rest_server_spark.queries import REGISTRY

    out = REGISTRY["q171_stream_stream_full_outer"].fn(spark, sf_dir).toPandas()
    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    clicks = ev[ev.event_type == "click"]
    views = ev[ev.event_type == "view"]
    want: dict[tuple, int] = {}
    matched_view_idx: set = set()
    for c in clicks.itertuples():
        vs = views[
            (views.user_id == c.user_id)
            & (views.ts <= c.ts)
            & (views.ts > c.ts - pd.Timedelta(minutes=30))
        ]
        if len(vs):
            key = (c.user_id, "matched")
            want[key] = want.get(key, 0) + len(vs)
            matched_view_idx.update(vs.index)
        else:
            key = (c.user_id, "click_only")
            want[key] = want.get(key, 0) + 1
    for v in views.itertuples():
        if v.Index not in matched_view_idx:
            key = (v.user_id, "view_only")
            want[key] = want.get(key, 0) + 1
    got = {(r.user_id, r.category): r.n for r in out.itertuples()}
    assert got == want
    assert all(r.user_id >= 0 for r in out.itertuples())
    # conservation: views partition into matched-or-view_only exactly
    assert sum(n for (_, cat), n in want.items() if cat == "view_only") == len(
        views
    ) - len(matched_view_idx)


def test_q172_sliding_window_matches_batch_rederivation(spark, sf_dir):
    """ADVICE r7 #3: pure-pandas re-derivation of the 1h/15min sliding
    windows — every event must land in exactly four epoch-aligned
    windows with matching counts and (to float tolerance) value sums.
    Append-mode specific: the far-future __wm__ sentinel must have
    flushed EVERY real window (no trailing windows withheld) and its
    own windows must not appear."""
    import pandas as pd

    from iceberg_rest_server_spark.queries import REGISTRY

    out = REGISTRY["q172_stream_sliding_window"].fn(spark, sf_dir).toPandas()
    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    slide = pd.Timedelta(minutes=15)
    want_cnt: dict[tuple, int] = {}
    want_sum: dict[tuple, float] = {}
    for e in ev.itertuples():
        base = e.ts.floor("15min")
        for k in range(4):
            ws = base - k * slide
            key = (ws, e.event_type)
            want_cnt[key] = want_cnt.get(key, 0) + 1
            want_sum[key] = want_sum.get(key, 0.0) + round(e.value, 2)
    got = {(r.window_start, r.event_type): (r.cnt, r.total_value) for r in out.itertuples()}
    assert set(got) == set(want_cnt)
    for key, (cnt, total) in got.items():
        assert cnt == want_cnt[key], key
        assert abs(total - want_sum[key]) < 1e-6, key
    assert (out["window_end"] - out["window_start"] == pd.Timedelta(hours=1)).all()
    assert not (out["event_type"] == "__wm__").any()


def test_drain_leaves_no_memory_sink_view(spark, tmp_path):
    """A run_to_table drain drops the `stream_result_*` memory-sink view
    it registers — the returned frame still holds the drained rows, but
    the session keeps no view (and no rows held for one) behind."""
    from iceberg_rest_server_spark.streaming.queries import run_to_table

    src = str(tmp_path / "src")
    _write_batch(spark, [(None, "a"), (None, "b"), (None, "a")], src)
    stream = spark.readStream.schema(SCHEMA).parquet(src).groupBy("k").count()
    result = run_to_table(stream, spark, "complete")
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_result_")]
    assert views == []
    assert sorted(tuple(r) for r in result.collect()) == [("a", 2), ("b", 1)]
