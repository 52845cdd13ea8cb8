"""Batch/stream parity: the streaming windowed rollup over the finite
events input must equal the batch q13 rollup (same grouping keys and
aggregates), per the Structured Streaming model."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_and_visualization_dashboard_spark import streaming
from data_pipeline_and_visualization_dashboard_spark.queries import (
    q13_windowed_counts,
)
from tests.conftest import SF_SMOKE


def _split_by_median_ts(raw, in_dir):
    """Write raw events as two time-split micro-batch files (NTZ ts
    preserved so the file matches streaming._STREAM_SCHEMA)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = raw.select(
        F.expr(
            "cast(percentile(unix_micros(cast(ts AS timestamp)), 0.5) AS long)"
        ).alias("m")
    ).first().m
    raw.filter(us <= cut).coalesce(1).write.parquet(in_dir, mode="append")
    raw.filter(us > cut).coalesce(1).write.parquet(in_dir, mode="append")


def _settle(q):
    """Process everything the running query's source holds WITHOUT
    stopping it: for the tests that land more input mid-run, where
    streaming.drain (which stops the query) would end the run."""
    q.processAllAvailable()


def _file_sink(stream_df, out_dir, ckpt):
    """Start an append-mode parquet sink on a checkpoint — the shape
    the restart pins stop and then resume on the same checkpoint."""
    return (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_stream_matches_batch(spark):
    stream_out, _ = streaming.drain_to_memory(
        streaming.windowed_event_counts(
            streaming.read_event_stream(spark, SF_SMOKE)
        ),
        "complete",
    )
    batch_out = q13_windowed_counts(spark, SF_SMOKE)
    s = {
        (r.window_start, r.event_type): (r.event_cnt, r.value_sum)
        for r in stream_out.collect()
    }
    b = {
        (r.window_start, r.event_type): (r.event_cnt, r.value_sum)
        for r in batch_out.collect()
    }
    assert s == b
    assert len(s) > 0


def test_native_session_windows_match_batch(spark, tmp_path):
    """Native streaming session windows over two time-split
    micro-batches: every emitted session must appear in the batch
    q36_session_windows result, sessions merge across the batch
    boundary, and every batch session that ends safely below the final
    watermark must have been emitted."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q36_session_windows,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "native_sess_in")
    _split_by_median_ts(raw, in_dir)

    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in streaming.drain_to_memory(
            streaming.sessionize_stream_native(
                streaming.read_event_files(spark, in_dir)
            ),
            "append",
        )[0].collect()
    }
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in q36_session_windows(spark, SF_SMOKE).collect()
    }
    assert streamed <= batch  # append mode emits only final sessions
    assert len(streamed) > 0
    max_ts = read_table(spark, SF_SMOKE, "events").agg(
        F.max("ts")
    ).first()[0]
    watermark = max_ts - dt.timedelta(minutes=10)
    must_emit = {s for s in batch if s[2] < watermark}
    assert must_emit <= streamed


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream self-join (purchase attributed to a
    prior view within 1h) over two time-split micro-batches must emit
    EXACTLY the batch join's matches: inner-join append mode emits each
    match once, and the eviction threshold (view_ts + horizon <
    watermark) only drops views whose matches were all in earlier
    batches — time-split input makes that safe, so set equality, not
    just containment."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "vp_join_in")
    _split_by_median_ts(raw, in_dir)

    streamed = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in streaming.drain_to_memory(
            streaming.view_purchase_join_stream(
                streaming.read_event_files(spark, in_dir)
            ),
            "append",
        )[0].collect()
    }
    events = read_table(spark, SF_SMOKE, "events")
    batch = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in streaming.view_purchase_join_batch(events).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_to_parquet_roundtrip(spark, tmp_path):
    """Production sink: drive stream_to_parquet to completion and
    assert the epoch-overwrite parquet equals the memory-sink result
    (exactly-once via idempotent overwrite — the final epoch's
    complete-mode output IS the answer)."""
    out_dir = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    streaming.drain(
        streaming.stream_to_parquet(spark, SF_SMOKE, out_dir, ckpt)
    )
    sunk = spark.read.parquet(out_dir)
    mem, _ = streaming.drain_to_memory(
        streaming.windowed_event_counts(
            streaming.read_event_stream(spark, SF_SMOKE)
        ),
        "complete",
    )
    s = {
        (r.window_start, r.event_type): (r.event_cnt, r.value_sum)
        for r in sunk.collect()
    }
    m = {
        (r.window_start, r.event_type): (r.event_cnt, r.value_sum)
        for r in mem.collect()
    }
    assert s == m
    assert len(s) > 0
    # the sink stamps the epoch column; one complete-mode epoch survives
    assert sunk.select("epoch").distinct().count() == 1


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Duplicated event_ids split across two micro-batches must be
    dropped by the stateful dedup (state survives batch boundaries)."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    events = read_table(spark, SF_SMOKE, "events")
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "stream_in")
    # file A: ids [0, 600); file B: ids [300, 1000) -> 300 dups
    raw.filter("event_id < 600").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    raw.filter("event_id >= 300").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    out, _ = streaming.drain_to_memory(
        streaming.dedup_event_stream(
            streaming.read_event_files(spark, in_dir)
        ),
        "append",
    )
    assert out.count() == events.count()  # every id exactly once
    assert out.select("event_id").distinct().count() == events.count()


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): sessions
    closed by the stream over two time-split micro-batches must equal
    the batch window computation minus each user's final (still-open)
    session."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "sess_in")
    _split_by_median_ts(raw, in_dir)

    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in streaming.drain_to_memory(
            streaming.sessionize_stream(
                streaming.read_event_files(spark, in_dir)
            ),
            "append",
        )[0].collect()
    }

    # batch oracle: assign sessions with the q16 window spelling, then
    # drop each user's last session (open at end-of-stream)
    events = read_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        events.withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "new_sess",
            F.when(
                (F.col("us") - F.lag("us").over(w))
                > streaming.SESSION_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("new_sess").over(run))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "is_last",
            F.col("sess_no")
            == F.max("sess_no").over(Window.partitionBy("user_id")),
        )
    )
    batch_closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.filter(~F.col("is_last")).collect()
    }
    assert streamed == batch_closed
    assert len(streamed) > 0


def test_streaming_curation_equals_batch_histogram(spark):
    """Streaming quality-gate monitor == batch verdict histogram over
    the same finite corpus (the batch/stream parity contract applied
    to the curation surface)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        quality_filter,
    )

    stream = {
        (r.verdict, r.doc_cnt)
        for r in streaming.drain_to_memory(
            streaming.curation_stats_stream(
                streaming.read_document_stream(spark, SF_SMOKE)
            ),
            "complete",
        )[0].collect()
    }
    batch = {
        (r.verdict, r.doc_cnt)
        for r in quality_filter(spark, SF_SMOKE)
        .groupBy("verdict")
        .count()
        .withColumnRenamed("count", "doc_cnt")
        .collect()
    }
    assert stream == batch and len(batch) >= 3


def test_streaming_upsert_state_matches_batch_cdc(spark, tmp_path):
    """Streaming CDC-upsert sink: after draining the event stream in
    micro-batches, the maintained latest-state parquet equals the
    batch CDC compaction (q41) over the same events."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q41_latest_event_state,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "cdc_in")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    state_dir = str(tmp_path / "state")
    streaming.drain(streaming.upsert_state_stream(
        spark, in_dir, state_dir, str(tmp_path / "ckpt")
    ))
    got = sorted(
        tuple(r) for r in spark.read.parquet(state_dir)
        .select("user_id", "last_event_id", "last_ts",
                "last_type", "last_value", "n_changes").collect()
    )
    want = sorted(
        tuple(r) for r in q41_latest_event_state(spark, SF_SMOKE)
        .select("user_id", "last_event_id", "last_ts",
                "last_type", "last_value", "n_changes").collect()
    )
    assert got == want


def test_streaming_rollup_merge_matches_batch(spark, tmp_path):
    """Streaming IVM sink: after draining the stream, the continuously
    merged daily rollup equals q53's batch merge (and hence the full
    recompute). Counts compare exactly; float sums compare to 1e-6
    (partials merge in a different order than the batch twin — the
    merge identity is exact over counts, ulp-level over doubles)."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q53_incremental_rollup,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "rollup_in")
    _split_by_median_ts(raw, in_dir)
    state = str(tmp_path / "rollup_state")
    streaming.drain(streaming.rollup_merge_stream(
        spark, in_dir, state, str(tmp_path / "rollup_ckpt")
    ))
    got = {
        (r.event_date, r.event_type): r
        for r in spark.read.parquet(state).select(
            "event_date",
            "event_type",
            "n_events",
            F.round("sv", 6).alias("sum_value"),
            F.round(F.col("sv") / F.col("n_events"), 6).alias("avg_value"),
        ).collect()
    }
    want = {
        (r.event_date, r.event_type): r
        for r in q53_incremental_rollup(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k, w in want.items():
        g = got[k]
        assert g.n_events == w.n_events, k
        assert abs(g.sum_value - w.sum_value) < 1e-6, k
        assert abs(g.avg_value - w.avg_value) < 1e-6, k


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join: the windowed per-nation counts
    from the stream must equal the batch q58 rollup row-exactly — the
    static side is stateless, so nothing is late/dropped."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q58_event_nation_counts,
    )

    cust = read_table(spark, SF_SMOKE, "customer",
                      ["c_custkey", "c_nationkey"])
    nation = read_table(spark, SF_SMOKE, "nation", ["n_nationkey", "n_name"])
    dim = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation")
    )
    out, _ = streaming.drain_to_memory(
        streaming.enriched_nation_counts_stream(
            streaming.read_event_stream(spark, SF_SMOKE), dim
        ),
        "complete",
    )
    got = sorted((r.hour, r.nation, r.n_events) for r in out.collect())
    want = sorted(
        (r.hour, r.nation, r.n_events)
        for r in q58_event_nation_counts(spark, SF_SMOKE).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_rollup_survives_restart_without_double_merge(
    spark, tmp_path
):
    """Stop/restart recovery: drain file A, STOP the query, land file
    B, restart with the SAME checkpoint — the rollup must equal the
    batch answer over A∪B. This is the critical property for a
    foreachBatch MERGE sink: if the checkpoint failed to record A's
    progress, the restart would re-merge A and double-count it."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q53_incremental_rollup,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "restart_in")
    state = str(tmp_path / "restart_state")
    ckpt = str(tmp_path / "restart_ckpt")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.rollup_merge_stream(spark, in_dir, state, ckpt))
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.rollup_merge_stream(spark, in_dir, state, ckpt))
    got = {
        (r.event_date, r.event_type): r.n_events
        for r in spark.read.parquet(state).collect()
    }
    want = {
        (r.event_date, r.event_type): r.n_events
        for r in q53_incremental_rollup(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


# (the r4-era parity-only HLL stream test was subsumed by
# test_streaming_hll_matches_batch_with_bounded_state at the end of
# this file, which asserts the same cell parity PLUS the bounded-state
# and shared-epilogue contracts the family bar requires)


def test_watermark_drops_late_rows_with_accounting(spark, tmp_path):
    """Late-data semantics made explicit AND two non-obvious engine
    facts pinned empirically (both cost a debugging session if
    assumed away):
      1. since the multi-stateful-operator work, late events filter
         against the PREVIOUS trigger's watermark — a late file
         arriving in the very batch where the watermark jumps is
         still ACCEPTED (verified here by the b2 spacer batch, whose
         absence flips the assertion);
      2. numRowsDroppedByWatermark counts STATE-INPUT rows, i.e.
         map-side PARTIALS, not raw events — two late events in the
         same (window, type) group count as ONE drop, so the planted
         late rows sit in two distinct windows.
    Micro-batch order is forced via file mtimes (the file source
    processes oldest-first)."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time

    from data_pipeline_and_visualization_dashboard_spark import streaming

    def mk(name, rows, mtime):
        stage = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(
            rows, streaming._STREAM_SCHEMA
        ).coalesce(1).write.parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dest = str(tmp_path / f"{name}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage)
        os.utime(dest, (mtime, mtime))

    def ev(i, ts):
        return (i, ts, 1, "view", 1.0, "{}")

    now = time.time()
    t = dt.datetime
    mk("a", [ev(i, t(2026, 1, 1, 10, 5)) for i in range(4)], now - 400)
    mk("b", [ev(i, t(2026, 1, 1, 12, 0)) for i in range(3)], now - 300)
    # spacer trigger: makes 11:50 the PREVIOUS watermark for file c
    mk("b2", [ev(9, t(2026, 1, 1, 12, 1))], now - 200)
    # two late rows in DISTINCT windows (9:10 and 10:10) -> 2 partials
    mk("c", [ev(0, t(2026, 1, 1, 9, 10)),
             ev(1, t(2026, 1, 1, 10, 10))], now - 100)

    out, dropped = streaming.run_windowed_with_late_metrics(
        spark, str(tmp_path), watermark="10 minutes"
    )
    assert dropped == 2, dropped
    latest = {
        r.window_start: r.event_cnt
        for r in out.groupBy("window_start", "event_type")
        .agg(F.max("event_cnt").alias("event_cnt"))
        .collect()
    }
    assert t(2026, 1, 1, 9, 0) not in latest   # late row never lands
    assert latest[t(2026, 1, 1, 10, 0)] == 4   # not 5
    assert latest[t(2026, 1, 1, 12, 0)] == 4   # b + b2


def test_streaming_bloom_bits_match_batch(spark):
    """The streaming Bloom filter's complete-mode bit set must equal
    the same plan fragment applied to a batch read (set-bit is
    idempotent — duplicate key arrivals across micro-batches cannot
    set new bits), and it must have NO false negatives: every
    purchasing user's K bit positions are all present."""
    from data_pipeline_and_visualization_dashboard_spark import streaming
    from data_pipeline_and_visualization_dashboard_spark.extras.hashing import (
        minhash_term,
    )
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        BLOOM_K,
        _spark_base,
    )

    got = sorted(
        (r.bit, r.n_inserts)
        for r in streaming.drain_to_memory(
            streaming.bloom_bit_stream(
                streaming.read_event_stream(spark, SF_SMOKE)
            ),
            "complete",
        )[0].collect()
    )
    batch = spark.read.parquet(SF_SMOKE + "/events.parquet").select(
        "user_id", "event_type"
    )
    want = sorted(
        (r.bit, r.n_inserts)
        for r in streaming.bloom_bit_stream(batch).collect()
    )
    assert got == want and len(got) > 0

    bits = {b for b, _ in got}
    base = _spark_base("CAST(user_id AS STRING)")
    pos = [
        f"CAST({minhash_term(j, base)} % {streaming.BLOOM_STREAM_M} "
        "AS INT)"
        for j in range(BLOOM_K)
    ]
    members = (
        batch.filter("event_type = 'purchase'")
        .selectExpr("user_id", *[f"{p} AS b_{j}"
                                 for j, p in enumerate(pos)])
        .collect()
    )
    assert len(members) > 0
    for r in members:
        assert all(r[f"b_{j}"] in bits for j in range(BLOOM_K))


def test_rollup_epoch_replay_is_noop(spark, tmp_path):
    """The _LAST_EPOCH fence: replaying already-merged epochs must not
    double-count. Drain the stream, then restart over the SAME input
    and state with a FRESH checkpoint — every epoch replays from 0,
    all are <= the fence, and the additive state must be unchanged."""
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "replay_in")
    state = str(tmp_path / "replay_state")
    _split_by_median_ts(raw, in_dir)
    streaming.drain(streaming.rollup_merge_stream(
        spark, in_dir, state, str(tmp_path / "ckpt1")
    ))
    before = {
        (r.event_date, r.event_type): (r.n_events, r.sv)
        for r in spark.read.parquet(state).collect()
    }
    # fresh checkpoint => the file source re-delivers everything with
    # epoch ids starting at 0 again: the worst-case replay storm
    streaming.drain(streaming.rollup_merge_stream(
        spark, in_dir, state, str(tmp_path / "ckpt2")
    ))
    after = {
        (r.event_date, r.event_type): (r.n_events, r.sv)
        for r in spark.read.parquet(state).collect()
    }
    assert after == before and len(before) > 0


def test_state_commit_swap_has_no_gap_and_recovers(spark, tmp_path):
    """_state_commit/_state_recover unit contract: the fence epoch is
    persisted with the data, and each intermediate crash point (old
    renamed aside / new renamed in / debris left) recovers to a whole
    state dir with a consistent fence."""
    import os
    import shutil

    state = str(tmp_path / "s")
    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    streaming._state_commit(df, state, 0)
    assert streaming._state_last_epoch(state) == 0
    assert spark.read.parquet(state).count() == 3
    # commit a second epoch on top (exercises the rename-aside path)
    streaming._state_commit(df.limit(2), state, 1)
    assert streaming._state_last_epoch(state) == 1
    assert spark.read.parquet(state).count() == 2

    # crash between rename-aside and rename-in: only .old exists
    os.replace(state, state + ".old")
    streaming._state_recover(state)
    assert streaming._state_last_epoch(state) == 1
    assert spark.read.parquet(state).count() == 2

    # crash after rename-in but before .old cleanup: both exist —
    # recover must keep the NEW state and drop the debris
    shutil.copytree(state, state + ".old")
    with open(os.path.join(state, streaming._EPOCH_SIDECAR), "w") as f:
        f.write("2")
    streaming._state_recover(state)
    assert not os.path.exists(state + ".old")
    assert streaming._state_last_epoch(state) == 2

def test_composed_pipeline_survives_midstream_restart(spark, tmp_path):
    """The composed deployment (HLL monitor + CDC upsert + IVM rollup
    over ONE event source, checkpoints under one root) stopped after
    the first file and restarted with the rest of the input must land
    every sink exactly on its batch twin: upsert == q41, rollup == q53,
    HLL registers == the batch sketch. This is the end-to-end streaming
    story — per-operator parity and per-operator restart are covered
    elsewhere; this drives all three through one shared lifecycle."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        hll_registers,
    )
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q41_latest_event_state,
        q53_incremental_rollup,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "composed_in")
    root = str(tmp_path / "composed")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )

    def drain_all():
        qs = streaming.composed_pipeline_start(spark, in_dir, root)
        try:
            for q in qs:
                streaming.drain(q)
        finally:
            for q in qs:
                q.stop()

    drain_all()
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    drain_all()

    got_cdc = sorted(
        tuple(r)
        for r in spark.read.parquet(root + "/cdc_state")
        .select("user_id", "last_event_id", "last_ts",
                "last_type", "last_value", "n_changes").collect()
    )
    want_cdc = sorted(
        tuple(r)
        for r in q41_latest_event_state(spark, SF_SMOKE)
        .select("user_id", "last_event_id", "last_ts",
                "last_type", "last_value", "n_changes").collect()
    )
    assert got_cdc == want_cdc and len(got_cdc) > 0

    got_roll = {
        (r.event_date, r.event_type): (r.n_events, round(r.sv, 6))
        for r in spark.read.parquet(root + "/rollup_state").collect()
    }
    want_roll = {
        (r.event_date, r.event_type): (r.n_events, round(r.sum_value, 6))
        for r in q53_incremental_rollup(spark, SF_SMOKE).collect()
    }
    assert set(got_roll) == set(want_roll) and len(got_roll) > 0
    for k, (n, s) in want_roll.items():
        assert got_roll[k][0] == n, k
        assert abs(got_roll[k][1] - s) < 1e-6, k

    got_hll = sorted(
        (r.bucket, r.max_rank)
        for r in spark.sql("SELECT * FROM composed_hll").collect()
    )
    want_hll = sorted(
        (r.bucket, r.max_rank)
        for r in hll_registers(spark, SF_SMOKE).collect()
    )
    assert got_hll == want_hll and len(got_hll) > 0

def test_streaming_scrub_matches_batch(spark):
    """Stateless map-only streaming transform: the ingest-time PII
    scrub must equal the batch scrub row-for-row — no state, no
    watermark, no reordering hazard."""
    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        scrub_pii,
    )

    got = sorted(
        tuple(r)
        for r in streaming.drain_to_memory(
            streaming.scrub_stream(
                streaming.read_document_stream(spark, SF_SMOKE)
            ),
            "append",
        )[0].collect()
    )
    want = sorted(
        tuple(r) for r in scrub_pii(spark, SF_SMOKE).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_minhash_index_equals_batch_pairs(spark, tmp_path):
    """The ingest-time MinHash index maintenance must discover EXACTLY
    the batch pipeline's near-dup pairs (same est/exact jaccard values)
    once the whole corpus has streamed through — each pair emitted by
    the epoch in which its later member arrived, never twice."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        dedup_minhash_pairs,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    # four arrival waves interleaved by doc_id so cross-wave pairs
    # exercise the delta-vs-index join in both directions
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    work = str(tmp_path / "work")
    streaming.drain(streaming.minhash_index_stream(
        spark, in_dir, work + "/index", work + "/pairs", work + "/ckpt"
    ))
    got = {
        (r.doc_id_a, r.doc_id_b, round(r.est_jaccard, 9), round(r.jaccard, 9))
        for r in spark.read.parquet(work + "/pairs").drop("epoch").collect()
    }
    want = {
        (r.doc_id_a, r.doc_id_b, round(r.est_jaccard, 9), round(r.jaccard, 9))
        for r in dedup_minhash_pairs(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_minhash_index_survives_restart(spark, tmp_path):
    """Stop the index-maintenance stream after the first waves, restart
    it over a grown input, and the union of emitted pairs must still
    equal the batch pipeline — the checkpoint resumes at the right
    epoch and the epoch-keyed overwrite layout makes any replayed
    epoch rewrite itself instead of duplicating pairs."""
    import os
    import time

    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        dedup_minhash_pairs,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        minhash_index_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    index_dir, pairs_dir = os.path.join(work, "index"), os.path.join(
        work, "pairs"
    )
    ckpt = os.path.join(work, "ckpt")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    # "crash" between waves
    streaming.drain(
        minhash_index_stream(spark, in_dir, index_dir, pairs_dir, ckpt)
    )
    time.sleep(0.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.drain(
        minhash_index_stream(spark, in_dir, index_dir, pairs_dir, ckpt)
    )
    got = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in spark.read.parquet(pairs_dir).drop("epoch").collect()
    }
    want = {
        (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))
        for r in dedup_minhash_pairs(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_quality_score_equals_batch(spark):
    """The learned quality gate on the stream must equal the batch
    scorer row-for-row — same frozen weights, same expressions, zero
    stateful machinery."""
    from data_pipeline_and_visualization_dashboard_spark.extras.text import (
        quality_score,
    )
    from tests.conftest import SF_SMOKE

    got = {
        r.doc_id: (r.token_cnt, r.score_sum, r.kept)
        for r in streaming.drain_to_memory(
            streaming.quality_score_stream(
                streaming.read_document_stream(spark, SF_SMOKE)
            ),
            "append",
        )[0].collect()
    }
    want = {
        r.doc_id: (r.token_cnt, r.score_sum, r.kept)
        for r in quality_score(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_bpe_tokenize_equals_batch(spark):
    """Streaming BPE tokenization with the offline-trained merges must
    equal the batch bpe_apply row-for-row — the artifact-deploy shape:
    train offline, apply as a stateless ingest projection."""
    from data_pipeline_and_visualization_dashboard_spark.extras.bpe import (
        _trained_merges,
        bpe_apply,
    )
    from tests.conftest import SF_SMOKE

    # train on the batch corpus, then tokenize the same corpus as a
    # stream with the trained merges
    got = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in streaming.drain_to_memory(
            streaming.tokenize_stream(
                streaming.read_document_stream(spark, SF_SMOKE),
                _trained_merges(spark, SF_SMOKE),
            ),
            "append",
        )[0].collect()
    }
    want = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_apply(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_postings_index_equals_batch(spark, tmp_path):
    """The segment-per-epoch streaming index, merged on read, must
    equal the batch text_index_postings rebuild row-for-row once the
    corpus has streamed through — df/cf add and posting lists
    interleave correctly across arrival waves."""
    from data_pipeline_and_visualization_dashboard_spark.extras.search import (
        index_postings,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    work = str(tmp_path / "work")
    streaming.drain(streaming.postings_index_stream(
        spark, in_dir, work + "/index", work + "/ckpt"
    ))
    got = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in streaming.read_postings_index(
            spark, work + "/index"
        ).collect()
    }
    want = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in index_postings(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_histogram_segments_merge_to_batch(spark, tmp_path):
    """The mergeable-sketch property, live: per-epoch histogram
    segments over a fixed bin grid, summed on read, must equal the
    one-pass batch histogram cell-for-cell — and total counts must
    conserve the corpus."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        HIST_BINS,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        hist_segments_stream, read_hist_segments,
    )
    from tests.conftest import SF_SMOKE

    ev = read_table(spark, SF_SMOKE, "events").filter(
        F.col("value").isNotNull()
    )
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    in_dir = str(tmp_path / "in")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    streaming.drain(hist_segments_stream(
        spark, in_dir, str(tmp_path / "seg"), str(tmp_path / "ckpt"),
        lo, hi,
    ))
    merged = {
        (r.event_type, r.bin): r.cnt
        for r in read_hist_segments(spark, str(tmp_path / "seg")).collect()
    }
    batch = {
        (r.event_type, r.bin): r.cnt
        for r in ev.selectExpr(
            "event_type",
            f"CAST(least(floor((value - {lo!r}) * {HIST_BINS}"
            f" / ({hi!r} - {lo!r})), {HIST_BINS - 1}) AS INT) AS bin",
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert merged == batch and len(merged) > 0
    assert sum(merged.values()) == ev.count()


def test_streaming_contamination_screen_equals_batch(spark, tmp_path):
    """Ingest-time decontamination against the static benchmark
    shingle set must flag exactly what the batch screen flags: stream
    the training docs in waves, union the epochs, compare row-for-row
    with extras.dedup.contamination on the same corpus."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        contamination, shingle_sets,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        contamination_screen_stream,
    )
    from tests.conftest import SF_SMOKE

    eval_sh = (
        shingle_sets(spark, SF_SMOKE)
        .filter(F.col("doc_id") % 10 == 9)
        .select(F.explode(F.array_distinct("shingles")).alias("s"))
        .distinct()
    )
    train = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"]).filter(
        F.col("doc_id") % 10 != 9
    )
    in_dir = str(tmp_path / "in")
    for i in range(3):
        train.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    streaming.drain(contamination_screen_stream(
        spark, in_dir, eval_sh, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ))
    got = {
        r.doc_id: (r.n_shingles, r.n_overlap, r.is_contaminated)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        r.doc_id: (r.n_shingles, r.n_overlap, r.is_contaminated)
        for r in contamination(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_postings_index_survives_restart(spark, tmp_path):
    """Stop the segment stream between arrival waves, restart over a
    grown input, and merge-on-read must still equal the batch rebuild
    — the checkpoint resumes at the right epoch and each segment is an
    epoch-keyed overwrite, so a replay rewrites itself instead of
    double-counting postings."""
    import os
    import time

    from data_pipeline_and_visualization_dashboard_spark.extras.search import (
        index_postings,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        postings_index_stream, read_postings_index,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    seg_dir, ckpt = os.path.join(work, "index"), os.path.join(work, "ckpt")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    # "crash" between waves
    streaming.drain(postings_index_stream(spark, in_dir, seg_dir, ckpt))
    time.sleep(0.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.drain(postings_index_stream(spark, in_dir, seg_dir, ckpt))
    got = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    want = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in index_postings(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_ivf_assign_survives_restart(spark, tmp_path):
    """The vector-index maintenance stream: embeddings arriving in two
    waves (with a stop/restart "crash" between them) must yield a
    merged live assignment IDENTICAL to the batch ann_disk_index
    assignment under the same frozen centroids — checkpoint resume +
    epoch-keyed segment overwrite, mirroring the minhash/postings
    restart contracts, now for the ANN side."""
    import os
    import time

    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        ann_disk_index,
        ivf_index,
    )
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        ivf_assign_stream,
        read_ivf_assign,
    )
    from tests.conftest import SF_SMOKE

    emb = read_table(
        spark, SF_SMOKE, "embeddings", ["vec_id", "embedding", "label"]
    )
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    index_dir, ckpt = os.path.join(work, "index"), os.path.join(
        work, "ckpt"
    )
    centroids = ivf_index(spark, SF_SMOKE)
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    # "crash" between waves
    streaming.drain(
        ivf_assign_stream(spark, in_dir, index_dir, ckpt, centroids)
    )
    time.sleep(0.1)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.drain(
        ivf_assign_stream(spark, in_dir, index_dir, ckpt, centroids)
    )
    got = {
        (r.c_id, r.centroid_id)
        for r in read_ivf_assign(spark, index_dir).collect()
    }
    want = {
        (r.c_id, r.centroid_id)
        for r in ann_disk_index(spark, SF_SMOKE)[0].collect()
    }
    assert got == want and len(want) > 0


def test_postings_compaction_preserves_index_and_ingest(spark, tmp_path):
    """LSM compaction: folding all-but-the-newest epoch segments into
    one base segment must leave the merge-on-read index IDENTICAL, and
    ingest must continue cleanly on top of the compacted layout — the
    full segment lifecycle (write → compact → keep ingesting) equals
    the batch build at every step."""
    import os

    from data_pipeline_and_visualization_dashboard_spark.extras.search import (
        index_postings,
    )
    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        compact_postings_segments,
        postings_index_stream,
        read_postings_index,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    seg_dir, ckpt = os.path.join(work, "index"), os.path.join(work, "ckpt")
    for wave in range(3):
        docs.filter(F.col("doc_id") % 4 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    streaming.drain(postings_index_stream(spark, in_dir, seg_dir, ckpt))
    before = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    n_epochs = len([d for d in os.listdir(seg_dir) if d.startswith("epoch=")])
    assert n_epochs >= 3
    folded = compact_postings_segments(spark, seg_dir)
    assert folded == n_epochs - 1
    assert (
        len([d for d in os.listdir(seg_dir) if d.startswith("epoch=")]) == 2
    )
    after = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    assert after == before
    # a second compaction is a no-op at the floor (base + newest)
    assert compact_postings_segments(spark, seg_dir) == 0
    # ingest continues on the compacted layout
    docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    streaming.drain(postings_index_stream(spark, in_dir, seg_dir, ckpt))
    got = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    want = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in index_postings(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_postings_compaction_recovers_interrupted_run(spark, tmp_path):
    """Crash-safety: park a segment in the aside dir and leave a
    half-written compacted output (the two interruption windows), then
    call the compactor — it must restore the aside segment, drop the
    debris, and produce the same folded index as an uninterrupted
    run."""
    import os
    import shutil

    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        compact_postings_segments,
        postings_index_stream,
        read_postings_index,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    seg_dir, ckpt = os.path.join(work, "index"), os.path.join(work, "ckpt")
    for wave in range(3):
        docs.filter(F.col("doc_id") % 3 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    streaming.drain(postings_index_stream(spark, in_dir, seg_dir, ckpt))
    before = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    # simulate a crash mid-compaction: epoch=0 parked aside, a stale
    # half-written compact_tmp on disk
    aside = seg_dir + ".aside"
    os.makedirs(aside)
    os.replace(
        os.path.join(seg_dir, "epoch=0"), os.path.join(aside, "epoch=0")
    )
    os.makedirs(seg_dir + ".compact_tmp")
    shutil.copytree(
        os.path.join(seg_dir, "epoch=1"),
        seg_dir + ".compact_tmp",
        dirs_exist_ok=True,
    )
    folded = compact_postings_segments(spark, seg_dir)
    assert folded >= 2
    assert not os.path.exists(aside)
    assert not os.path.exists(seg_dir + ".compact_tmp")
    after = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    assert after == before


def test_postings_compaction_rolls_forward_after_install(spark, tmp_path):
    """The OTHER interruption window: crash during aside cleanup AFTER
    the folded base was installed (compact_tmp gone, aside partially
    populated). Recovery must roll FORWARD — deleting the aside
    remnant — because the installed base already contains its
    postings; restoring it over the fold would double-count and
    restoring the base victim would lose the other victims' data
    (the round-4 review's confirmed data-loss repro)."""
    import os
    import shutil

    from data_pipeline_and_visualization_dashboard_spark.io import read_table
    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        compact_postings_segments,
        postings_index_stream,
        read_postings_index,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents", ["doc_id", "text"])
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    seg_dir, ckpt = os.path.join(work, "index"), os.path.join(work, "ckpt")
    for wave in range(3):
        docs.filter(F.col("doc_id") % 3 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    streaming.drain(postings_index_stream(spark, in_dir, seg_dir, ckpt))
    # keep a pre-fold copy of the base victim to stage the crash state
    stale = str(tmp_path / "stale_epoch0")
    shutil.copytree(os.path.join(seg_dir, "epoch=0"), stale)
    assert compact_postings_segments(spark, seg_dir) >= 2
    want = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    # crash state: install done (no compact_tmp), aside not yet cleaned
    aside = seg_dir + ".aside"
    os.makedirs(aside)
    shutil.copytree(stale, os.path.join(aside, "epoch=0"))
    assert compact_postings_segments(spark, seg_dir) == 0  # recover+noop
    assert not os.path.exists(aside)
    got = {
        r.term: (r.df, r.cf, r.doc_list)
        for r in read_postings_index(spark, seg_dir).collect()
    }
    assert got == want


def test_streaming_snapshot_diff_matches_batch(spark, tmp_path):
    """CDC snapshot-diff twin: seed the state with snapshot A, then
    replay snapshot B as upserts plus tombstones for A-minus-B; the
    post-seed delta ledger must equal the batch dedup_snapshot_diff
    classification of A vs B (same %10/%13/%7 snapshot convention),
    and the final state must be exactly B's content-hash table."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        dedup_snapshot_diff,
    )

    docs = (
        spark.read.parquet(SF_SMOKE + "/documents.parquet")
        .select("doc_id", "text")
        .filter("text IS NOT NULL")
    )
    prev = docs.filter("doc_id % 10 != 0")
    cur = docs.filter("doc_id % 13 != 0").selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' "
        "ELSE text END AS text",
    )
    in_dir = str(tmp_path / "cdc_in")
    work = str(tmp_path / "sd")
    sd = [work + "/state", work + "/deltas", work + "/ckpt"]
    # phase 1: snapshot A seeds the state (one epoch, all 'added')
    prev.selectExpr(
        "0L AS seq", "doc_id", "text", "'upsert' AS op"
    ).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(streaming.snapshot_diff_stream(spark, in_dir, *sd))
    seeded = streaming.read_snapshot_deltas(spark, sd[1])
    m0 = seeded.agg(F.max("epoch")).first()[0]
    assert seeded.filter(
        (F.col("epoch") <= m0) & (F.col("status") != "added")
    ).count() == 0
    # phase 2 (restart, same checkpoint): replay B in two halves,
    # tombstone A-minus-B
    cur.filter("doc_id % 2 = 0").selectExpr(
        "1L AS seq", "doc_id", "text", "'upsert' AS op"
    ).coalesce(1).write.parquet(in_dir, mode="append")
    cur.filter("doc_id % 2 = 1").selectExpr(
        "1L AS seq", "doc_id", "text", "'upsert' AS op"
    ).coalesce(1).write.parquet(in_dir, mode="append")
    prev.filter("doc_id % 13 = 0").selectExpr(
        "2L AS seq", "doc_id", "CAST(NULL AS STRING) AS text",
        "'delete' AS op",
    ).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(streaming.snapshot_diff_stream(spark, in_dir, *sd))
    ledger = streaming.read_snapshot_deltas(spark, sd[1])
    got = {
        r.status: (r.n_docs, r.n_chars)
        for r in ledger.filter(F.col("epoch") > m0)
        .groupBy("status")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .collect()
    }
    want = {
        r.status: (r.n_docs, r.n_chars)
        for r in dedup_snapshot_diff(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) == 4
    # final state == snapshot B's content-hash table
    state = sorted(
        tuple(r)
        for r in spark.read.parquet(work + "/state")
        .select("doc_id", "h", "n_chars")
        .collect()
    )
    want_state = sorted(
        tuple(r)
        for r in cur.select(
            "doc_id", F.md5("text").alias("h"),
            F.length("text").alias("n_chars"),
        ).collect()
    )
    assert state == want_state
    # idempotence: draining again with no new input changes nothing
    streaming.drain(streaming.snapshot_diff_stream(spark, in_dir, *sd))
    again = streaming.read_snapshot_deltas(spark, sd[1])
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, ledger.collect())
    )


def test_snapshot_diff_null_text_and_seq_ties(spark, tmp_path):
    """ADVICE r5: (a) NULL-text transitions must classify null-safely
    (NULL->text and text->NULL are 'changed', NULL->NULL is
    'unchanged', deleting a NULL-hash doc is 'removed' — the state
    stores h = md5(NULL) = NULL, so presence must not be inferred
    from the hash); (b) equal-seq ops on one doc break ties
    deterministically (upsert over delete, then desc content hash)."""
    import os

    in_dir = str(tmp_path / "cdc_in")
    work = str(tmp_path / "sd")
    sd = [work + "/state", work + "/deltas", work + "/ckpt"]
    b1 = spark.createDataFrame(
        [
            (0, 1, None, "upsert"),   # NULL text -> NULL hash state
            (0, 2, "aa", "upsert"),
            (0, 3, None, "upsert"),
            (0, 4, None, "upsert"),
        ],
        "seq long, doc_id long, text string, op string",
    )
    b1.coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(streaming.snapshot_diff_stream(spark, in_dir, *sd))
    b2 = spark.createDataFrame(
        [
            (1, 1, "xx", "upsert"),   # NULL -> text   => changed
            (1, 2, None, "upsert"),   # text -> NULL   => changed
            (1, 3, None, "upsert"),   # NULL -> NULL   => unchanged
            (1, 4, None, "delete"),   # NULL-hash doc  => removed
            # equal-seq ties on one doc: upsert must beat delete
            (1, 5, "zz", "upsert"),
            (1, 5, None, "delete"),
            # two equal-seq upserts: desc(md5(text)) winner ("b")
            (1, 6, "a", "upsert"),
            (1, 6, "b", "upsert"),
        ],
        "seq long, doc_id long, text string, op string",
    )
    b2.coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(streaming.snapshot_diff_stream(spark, in_dir, *sd))
    ledger = streaming.read_snapshot_deltas(spark, sd[1])
    m = {
        (r.epoch, r.status): (r.n_docs, r.n_chars)
        for r in ledger.collect()
    }
    assert m[(0, "added")] == (4, 2)  # only doc 2 has chars
    assert m[(1, "added")] == (2, 3)  # docs 5 ("zz") + 6 (len 1)
    assert m[(1, "changed")] == (2, 4)  # doc 1 cur 2 + doc 2 prev 2
    assert m[(1, "unchanged")] == (1, None)  # doc 3, NULL chars
    assert m[(1, "removed")] == (1, None)  # doc 4, NULL prev chars
    state = {
        r.doc_id: r.h
        for r in spark.read.parquet(os.path.join(work, "state"))
        .collect()
    }
    import hashlib as _hl

    assert set(state) == {1, 2, 3, 5, 6}  # doc 4 deleted
    assert state[1] == _hl.md5(b"xx").hexdigest()
    assert state[2] is None and state[3] is None
    assert state[5] == _hl.md5(b"zz").hexdigest()
    # deterministic tie winner: md5("b") > md5("a") lexicographically
    assert state[6] == _hl.md5(b"b").hexdigest()


def test_stream_stream_left_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join parity: matched rows
    behave like the inner join; an UNMATCHED view emits its NULL row
    only once the watermark proves no purchase can arrive (passes
    view_ts + horizon). Two far-future sentinel batches (one view +
    one purchase each, disjoint negative user_ids, purchase before
    view so they cannot match each other) push the final watermark
    past every real view's window AND force the extra triggers that
    flush expired state — after that, stream == batch twin exactly,
    nulls included."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "vp_ljoin_in")
    _split_by_median_ts(raw, in_dir)
    # sentinel batches: advance BOTH sides' watermarks (the query
    # watermark is the min across the two withWatermark operators)
    base = raw.select(F.max(F.col("ts").cast("timestamp")).alias("m")
                      ).first().m
    for k, off_days in enumerate((2, 4)):
        spark.createDataFrame(
            [
                (-(2 * k + 1), -(1000 + 2 * k), "view", 0.0),
                (-(2 * k + 2), -(1001 + 2 * k), "purchase", 0.0),
            ],
            "user_id long, event_id long, event_type string,"
            " value double",
        ).selectExpr(
            "event_id", "user_id", "event_type", "value",
            "CAST(NULL AS STRING) AS props",
            # purchase 1h BEFORE the view so the sentinels can't match
            f"CAST(timestamp'{base}' + (INTERVAL {off_days} DAYS)"
            " - (CASE WHEN event_type = 'purchase'"
            "    THEN INTERVAL 1 HOURS ELSE INTERVAL 0 HOURS END)"
            " AS TIMESTAMP_NTZ) AS ts",
        ).coalesce(1).write.parquet(in_dir, mode="append")
    out, _ = streaming.drain_to_memory(
        streaming.view_purchase_left_join_stream(
            streaming.read_event_files(spark, in_dir)
        ),
        "append",
    )
    streamed = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in out.collect()
        if r.user_id >= 0  # drop the sentinels' own rows
    }
    events = read_table(spark, SF_SMOKE, "events")
    batch = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in streaming.view_purchase_left_join_batch(
            events
        ).collect()
    }
    assert streamed == batch
    matched = {t for t in batch if t[2] is not None}
    unmatched = {t for t in batch if t[2] is None}
    assert len(matched) > 0 and len(unmatched) > 0
    # the matched half must be exactly the inner join's result
    inner = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in streaming.view_purchase_join_batch(events).collect()
    }
    assert matched == inner


def test_transition_stream_matches_batch(spark, tmp_path):
    """The stateful per-user transition emitter, aggregated, must
    equal the batch q89 transition matrix over the same events: the
    carried last-event state bridges the micro-batch split, and the
    per-batch (ts, event_id) sort matches the batch window's tie
    order exactly."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q89_session_transitions,
    )
    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "tr_in")
    _split_by_median_ts(raw, in_dir)
    pairs, _ = streaming.drain_to_memory(
        streaming.transition_stream(streaming.read_event_files(spark, in_dir)),
        "append",
    )
    got = {
        (r.from_type, r.to_type): r.n
        for r in pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in q89_session_transitions(spark, _SF).collect()
    }
    assert got == want and len(want) > 0


def test_last_touch_stream_matches_batch(spark, tmp_path):
    """22nd stateful family, batch ≡ stream (VERDICT r13 ask #4): the
    per-user last-touch credits, rolled up by last_touch_rollup, must
    equal the batch q98_last_touch_attribution output column-for-
    column over the same events — the carried (ts, event_id, channel)
    state bridges the micro-batch split, the per-batch (ts, event_id)
    sort matches the batch window's total tie order, and the
    credit-before-carry walk reproduces the 1-PRECEDING frame (a
    same-timestamp touch never credits itself)."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q98_last_touch_attribution,
    )
    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "lt_in")
    _split_by_median_ts(raw, in_dir)
    credits, _ = streaming.drain_to_memory(
        streaming.last_touch_stream(streaming.read_event_files(spark, in_dir)),
        "append",
    )
    got = sorted(
        map(tuple, streaming.last_touch_rollup(credits).collect())
    )
    want = sorted(
        map(tuple, q98_last_touch_attribution(spark, _SF).collect())
    )
    assert got == want and len(want) > 0


def _q99_revenue(spark, sf):
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q99_linear_attribution,
    )

    return {
        r.channel: r.attributed_revenue
        for r in q99_linear_attribution(spark, sf).collect()
    }


def _assert_linear_attr_parity(spark, got_rows, sf):
    """Shared assertion for the 23rd family: stream rollup matches
    batch q99's attributed_revenue per channel.  The one honest
    asymmetry (stream docstring): a touch channel never credited by
    any purchase appears batch-side with 0.0 revenue but produces no
    stream emission.  Credits group differently before the 4dp round
    (stream: per-purchase per-channel v·c/n; batch: per-touch suffix
    sums), so allow one rounding quantum of float spread."""
    got = {r.channel: r.attributed_revenue for r in got_rows}
    want = _q99_revenue(spark, sf)
    assert set(got) <= set(want)
    for ch, rev in want.items():
        if ch in got:
            assert abs(got[ch] - rev) <= 1.01e-4, (ch, got[ch], rev)
        else:
            assert rev == 0.0, (ch, rev)
    assert got  # non-vacuous


def test_linear_attribution_stream_matches_batch(spark, tmp_path):
    """23rd stateful family, batch ≡ stream: equal-split credits
    emitted per arriving purchase, rolled up, must match the batch
    q99 revenue column — the per-user channel HISTOGRAM state (the
    family's bounded-state insight: equal splitting needs only the
    histogram of the path, never the path) bridges the micro-batch
    split, and the per-batch (ts, event_id) sort keeps the
    strictly-preceding contract across the boundary."""
    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "la_in")
    _split_by_median_ts(raw, in_dir)
    credits, _ = streaming.drain_to_memory(
        streaming.linear_attribution_stream(
            streaming.read_event_files(spark, in_dir)
        ),
        "append",
    )
    rows = streaming.linear_attr_rollup(credits).collect()
    _assert_linear_attr_parity(spark, rows, _SF)


def test_linear_attribution_stream_survives_restart(spark, tmp_path):
    """Restart pin for the 23rd family: stop after waves 1-2, land
    wave 3, resume on the same checkpoint — the file-sink credits
    must still roll up to the batch q99 revenue column.  A lost
    histogram mis-splits every post-restart purchase (wrong
    denominators AND wrong channel weights), so recovery of the
    array-typed state columns is exactly what this pins."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t1, t2 = _split_three_waves(raw, in_dir)

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.linear_attribution_stream(ev), out_dir, ckpt
        )

    streaming.drain(start())
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    rows = streaming.linear_attr_rollup(
        spark.read.parquet(out_dir)
    ).collect()
    _assert_linear_attr_parity(spark, rows, _SF)


def test_bounded_last_touch_survives_restart(spark, tmp_path):
    """Restart pin for the 22nd family's bounded spelling: stop after
    waves 1-2, land wave 3, resume on the same checkpoint — the
    file-sink credits must roll up to exactly the batch q98 output
    (the 30-day idle horizon dominates the smoke corpus's span, so no
    eviction fires and bounded ≡ exact).  Pins that BOTH the per-user
    carry state AND the armed EventTimeTimeout recover from the state
    store: a lost carry mis-credits every user's first post-restart
    purchase to '(none)'; a state recovered without its timeout would
    fire spurious evictions on the resumed run."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q98_last_touch_attribution,
    )
    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t1, t2 = _split_three_waves(raw, in_dir)

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.last_touch_stream_bounded(ev), out_dir, ckpt
        )

    streaming.drain(start())
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    got = sorted(
        map(
            tuple,
            streaming.last_touch_rollup(
                spark.read.parquet(out_dir)
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, q98_last_touch_attribution(spark, _SF).collect())
    )
    assert got == want and len(want) > 0


def test_bounded_last_touch_evicts_idle_user(spark, tmp_path):
    """The traded semantics of the bounded spelling, demonstrated on
    BOTH sides of the horizon: user A touches ('click') then goes
    idle past LAST_TOUCH_IDLE_US while user B's events advance the
    watermark in batches where A has no data — so Spark delivers the
    timeout, A's carry is evicted, and A's eventual purchase credits
    '(none)'.  The EXACT twin on the identical input credits 'click'
    (state never evicted).  Mechanics note (transition family
    precedent): eviction needs a post-horizon batch WITHOUT the
    user's data, hence the two B-only waves before A's return.

    User C pins the review-r14 #1 fix: C touches once, then keeps
    PURCHASING within the horizon — the idle timeout must re-arm from
    the last event of ANY type (true idleness), so C's state survives
    the same post-horizon batches that evict A, and C's late purchase
    still credits 'click'.  A timer armed from the last TOUCH instead
    (the reviewed bug) would have evicted the actively-purchasing C
    at the 30-day touch-age mark and mis-credited '(none)'."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    waves = [
        # wave 1: A's and C's touches + B filler (same batch)
        [(1, t0, 100, "click", 1.0), (2, t0, 200, "view", 1.0),
         (3, t0, 300, "click", 1.0)],
        # wave 2: C purchases inside the horizon (credits 'click' and
        # — the fix — re-arms C's timeout from THIS event)
        [(4, t0 + 25 * day, 300, "purchase", 5.0)],
        # wave 3: B-only, 50 days on — watermark will pass A's horizon
        [(5, t0 + 50 * day, 200, "view", 1.0)],
        # wave 4: B-only — A absent AND watermark now past t0+30d, so
        # A's timeout fires; C's (re-armed to t0+55d) must NOT
        [(6, t0 + 52 * day, 200, "view", 1.0)],
        # wave 5: A and C return and purchase
        [(7, t0 + 55 * day, 100, "purchase", 9.0),
         (8, t0 + 54 * day, 300, "purchase", 7.0)],
    ]
    in_dir = str(tmp_path / "in")
    for wave in waves:
        spark.createDataFrame(
            wave,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        ).selectExpr(
            "event_id", "CAST(ts AS timestamp_ntz) AS ts", "user_id",
            "event_type", "value", "CAST(NULL AS string) AS props",
        ).coalesce(1).write.parquet(in_dir, mode="append")

    ev = streaming.read_event_files(spark, in_dir)
    bounded, exact = (
        sorted(
            (r.user_id, r.channel)
            for r in streaming.drain_to_memory(fold(ev), "append")[0].collect()
        )
        for fold in (
            streaming.last_touch_stream_bounded, streaming.last_touch_stream
        )
    )
    # exact twin: no eviction ever — both users keep their touch
    assert exact == [(100, "click"), (300, "click"), (300, "click")]
    # bounded: idle A evicted -> '(none)'; actively-purchasing C's
    # state survives (timeout re-armed from every event, not just
    # touches) and both its purchases credit 'click'
    assert bounded == [(100, None), (300, "click"), (300, "click")]


def test_attribution_null_type_and_late_touch(spark, tmp_path):
    """Pins the three ADVICE r14 fixes on one synthetic replay:

    1. order-aware carry (_last_touch_fold): user A's 'click' is
       followed by a LATE batch carrying an event-time-OLDER 'view' —
       the carry must stay 'click' (pre-fix, the late fold overwrote
       the newer carry) and A's purchase credits 'click'.
    2. eviction anchor never regresses: folded into the same walk —
       the late-older batch must leave (last_us, last_eid) at A's
       true latest event (asserted via the fold directly below, since
       driving a real timeout needs the multi-wave eviction fixture).
    3. NULL event_type policy: user B's NULL-typed row (value 50.0)
       must be excluded on ALL FOUR sides — batch q98 (by
       construction), batch q99 (explicit filter; pre-fix it landed
       50.0 in '(none)'), and both stream folds (pre-fix the linear
       fold tallied it as a NULL-channel touch).

    Linear attribution also demonstrates its order-insensitive
    histogram: A's late 'view' still collects an equal split, because
    equal splitting needs only touch COUNTS, not order."""
    import datetime as dt

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q98_last_touch_attribution,
        q99_linear_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    waves = [
        # wave 1: A clicks; malformed NULL-type rows for A and B;
        # B's real 'view' touch
        [(1, t0, 100, "click", 1.0),
         (2, t0 + m, 100, None, 99.0),
         (3, t0, 200, None, 50.0),
         (4, t0 + 2 * m, 200, "view", 1.0)],
        # wave 2: LATE batch — an event-time-OLDER touch for A
        [(5, t0 - 30 * m, 100, "view", 1.0)],
        # wave 3: both users purchase
        [(6, t0 + 10 * m, 100, "purchase", 8.0),
         (7, t0 + 10 * m, 200, "purchase", 4.0)],
    ]
    in_dir = str(tmp_path / "attr_in")
    batch_dir = str(tmp_path / "attr_batch")
    all_rows = [r for w in waves for r in w]
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    for wave in waves:
        spark.createDataFrame(wave, schema).selectExpr(
            "event_id", "CAST(ts AS timestamp_ntz) AS ts", "user_id",
            "event_type", "value", "CAST(NULL AS string) AS props",
        ).coalesce(1).write.parquet(in_dir, mode="append")
    spark.createDataFrame(all_rows, schema).selectExpr(
        "event_id", "CAST(ts AS timestamp_ntz) AS ts", "user_id",
        "event_type", "value", "CAST(NULL AS string) AS props",
    ).coalesce(1).write.parquet(batch_dir + "/events.parquet")

    ev = streaming.read_event_files(spark, in_dir)
    # huge watermark delay: the late wave must reach the fold
    # (this test pins FOLD semantics, not watermark dropping)
    wm = "3650 days"

    # --- last-touch: stream rollup == batch q98, and A credits click
    lt = streaming.last_touch_rollup(
        streaming.drain_to_memory(
            streaming.last_touch_stream(ev, watermark=wm), "append"
        )[0]
    ).collect()
    q98 = q98_last_touch_attribution(spark, batch_dir).collect()
    assert sorted(map(tuple, lt)) == sorted(map(tuple, q98))
    assert {(r.channel, r.attributed_revenue) for r in q98} == {
        ("click", 8.0), ("view", 4.0)
    }

    # --- linear: stream rollup == batch q99 (0-credit channels may
    # appear batch-side only — none here), NULL row in no bucket
    la = streaming.linear_attr_rollup(
        streaming.drain_to_memory(
            streaming.linear_attribution_stream(ev, watermark=wm), "append"
        )[0]
    ).collect()
    q99 = q99_linear_attribution(spark, batch_dir).collect()
    assert sorted((r.channel, r.attributed_revenue) for r in la) == sorted(
        (r.channel, r.attributed_revenue) for r in q99
    )
    assert {(r.channel, r.attributed_revenue) for r in q99} == {
        ("click", 4.0), ("view", 8.0)
    }


def test_last_touch_fold_anchor_never_regresses():
    """ADVICE r14 #2, pinned at the fold: a late batch containing only
    event-time-OLDER rows must leave (last_us, last_eid) — the idle-
    timeout anchor — at the user's true latest event, and must not
    overwrite the newer carried touch; NULL-typed rows are dropped."""
    import pandas as pd

    from data_pipeline_and_visualization_dashboard_spark.streaming import (
        _last_touch_fold,
    )

    def pdf(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows], unit="us"),
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
                "value": [r[3] for r in rows],
            }
        )

    # batch 1: click at t=100, NULL-type at t=150 (dropped)
    rows, st = _last_touch_fold(
        7, [pdf([(100, 1, "click", 1.0), (150, 2, None, 9.0)])],
        -1, -1, None, -1, -1,
    )
    assert rows == [] and st == (100, 1, "click", 100, 1)
    # batch 2: LATE older 'view' — anchor and carry both keep t=100
    rows, st = _last_touch_fold(7, [pdf([(50, 0, "view", 1.0)])], *st)
    assert rows == [] and st == (100, 1, "click", 100, 1)
    # batch 3: purchase credits the (unregressed) click carry
    rows, st = _last_touch_fold(
        7, [pdf([(200, 3, "purchase", 8.0)])], *st
    )
    assert rows == [(7, "click", 8.0)]
    assert st == (200, 3, "click", 100, 1)


def test_transition_stream_survives_restart(spark, tmp_path):
    """applyInPandasWithState recovery: stop the transition stream
    after the first batches, restart on the same checkpoint with more
    input, and the file-sink output must STILL aggregate to exactly
    the batch matrix — the per-user last-event state recovers from
    the state store (a lost state would mis-emit the first post-
    restart transition of every user; a replayed batch would double-
    count pairs). This is the first restart pin for the
    applyInPandasWithState family (the foreachBatch sinks have their
    own)."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q89_session_transitions,
    )
    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t1, t2 = (
        raw.select(
            F.expr(
                "percentile(unix_micros(cast(ts AS timestamp)),"
                " array(0.33, 0.66))"
            ).alias("c")
        ).first().c
    )
    t1, t2 = int(t1), int(t2)
    raw.filter(us <= t1).coalesce(1).write.parquet(in_dir, mode="append")
    raw.filter((us > t1) & (us <= t2)).coalesce(1).write.parquet(
        in_dir, mode="append"
    )

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(streaming.transition_stream(ev), out_dir, ckpt)

    streaming.drain(start())
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    got = {
        (r.from_type, r.to_type): r.n
        for r in spark.read.parquet(out_dir)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in q89_session_transitions(spark, _SF).collect()
    }
    assert got == want


def _split_three_waves(raw, in_dir):
    """Write raw events as three time-split micro-batch files
    (0.33/0.66 percentile cuts; NTZ ts preserved to match
    streaming._STREAM_SCHEMA) and return the (t1, t2) cut points in
    unix-micros. The restart pins land waves 1-2, stop, then land
    wave 3 before resuming on the same checkpoint."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t1, t2 = raw.select(
        F.expr(
            "percentile(unix_micros(cast(ts AS timestamp)),"
            " array(0.33, 0.66))"
        ).alias("c")
    ).first().c
    t1, t2 = int(t1), int(t2)
    raw.filter(us <= t1).coalesce(1).write.parquet(in_dir, mode="append")
    raw.filter((us > t1) & (us <= t2)).coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    return t1, t2


def test_streaming_dedup_survives_restart(spark, tmp_path):
    """dropDuplicates state recovery (streaming.py dedup_event_stream):
    duplicates of PRE-restart ids arriving AFTER the stop/restart must
    still be dropped — only the recovered state store can know those
    ids were seen. Watermark is set to ~forever so no row is late and
    no state expires: every drop in this test is a state-store hit,
    not a lateness drop. A lost state would re-emit the replayed ids
    (distinct < count below); a lost source offset would re-deliver
    whole files, which the parquet sink's transaction log would skip,
    leaving the state assertion as the live one."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # waves 1+2: ids [0, 400) then [400, 700)
    raw.filter("event_id < 400").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    raw.filter("event_id >= 400 AND event_id < 700").coalesce(1).write.parquet(
        in_dir, mode="append"
    )

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.dedup_event_stream(ev, watermark="3650 days"),
            out_dir,
            ckpt,
        )

    streaming.drain(start())
    # wave 3 (post-restart): the remaining ids PLUS re-copies of ids
    # the stream deduped BEFORE the stop
    raw.filter("event_id >= 700 OR event_id < 300").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(start())
    out = spark.read.parquet(out_dir)
    n_all = read_table(spark, SF_SMOKE, "events").count()
    assert out.count() == n_all  # every id exactly once, dupes dropped
    assert out.select("event_id").distinct().count() == n_all


def test_stateful_sessionization_survives_restart(spark, tmp_path):
    """applyInPandasWithState recovery for the session builder
    (streaming.py sessionize_stream): stop after two waves — every
    user's trailing session is OPEN in the state store — restart on
    the same checkpoint with the final wave, and closed sessions must
    still equal the batch q16-window oracle minus each user's last
    (never-closed) session. A lost state would restart every user's
    open session at the first post-restart event, splitting sessions
    at the stop boundary (wrong n_events AND wrong boundaries)."""
    from pyspark.sql import Window

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _, t2 = _split_three_waves(raw, in_dir)

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(streaming.sessionize_stream(ev), out_dir, ckpt)

    streaming.drain(start())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch oracle: q16 window spelling, minus each user's final
    # (still-open) session — same oracle as the no-restart parity test
    events = read_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        events.withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "new_sess",
            F.when(
                (F.col("us") - F.lag("us").over(w))
                > streaming.SESSION_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("new_sess").over(run))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "is_last",
            F.col("sess_no")
            == F.max("sess_no").over(Window.partitionBy("user_id")),
        )
    )
    batch_closed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.filter(~F.col("is_last")).collect()
    }
    assert streamed == batch_closed
    assert len(streamed) > 0


def test_stream_stream_join_survives_restart(spark, tmp_path):
    """Stream-stream INNER join state recovery (streaming.py
    view_purchase_join_stream): views buffered in the join state
    before the stop must still match purchases that arrive only AFTER
    the restart. A percentile cut at smoke SF straddles no matched
    pair inside the 1h horizon (measured: 0 cross-cut matches), so
    the cut is picked ADAPTIVELY from an actual batch match — the
    stop lands between that pair's view and purchase, guaranteeing a
    cross-restart match by construction (and asserted below, so the
    pin can never pass vacuously). A lost join state would drop
    exactly those matches."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, SF_SMOKE, "events")
    # the cut: a matched pair's view time (ties excluded so the
    # purchase strictly follows the cut), widest gap first so several
    # pairs usually straddle
    pick = (
        streaming.view_purchase_join_batch(events)
        .filter(F.col("purchase_ts") > F.col("view_ts"))
        .orderBy(
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).desc()
        )
        .first()
    )
    t2 = int(
        events.filter(F.col("event_id") == pick.view_id)
        .select(F.unix_micros("ts").alias("u")).first().u
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    raw.filter(us <= t2).coalesce(1).write.parquet(in_dir, mode="append")

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.view_purchase_join_stream(ev), out_dir, ckpt
        )

    streaming.drain(start())
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    streamed = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch_rows = streaming.view_purchase_join_batch(events).collect()
    batch = {(r.user_id, r.purchase_id, r.view_id) for r in batch_rows}
    assert streamed == batch
    # non-vacuous: at least one match pairs a pre-stop view with a
    # post-restart purchase — engine-side micros math so the check
    # can't drift with the driver's local timezone
    n_cross = (
        streaming.view_purchase_join_batch(events)
        .filter(
            (F.unix_micros("view_ts") <= t2)
            & (F.unix_micros("purchase_ts") > t2)
        )
        .count()
    )
    assert n_cross > 0


def test_stream_stream_left_join_survives_restart(spark, tmp_path):
    """Stream-stream LEFT OUTER join state recovery (streaming.py
    view_purchase_left_join_stream): same cross-restart matching as
    the inner pin, PLUS the outer half — views whose horizon closed
    only after the restart must emit their NULL row exactly once from
    the recovered state. Sentinel flush batches (one per side, placed
    so they cannot match each other) are landed AFTER the restart to
    push the final watermark past every real view's window."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _, t2 = _split_three_waves(raw, in_dir)

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.view_purchase_left_join_stream(ev), out_dir, ckpt
        )

    streaming.drain(start())
    # post-restart input: the final wave + the sentinel flush batches
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    base = raw.select(
        F.max(F.col("ts").cast("timestamp")).alias("m")
    ).first().m
    for k, off_days in enumerate((2, 4)):
        spark.createDataFrame(
            [
                (-(2 * k + 1), -(1000 + 2 * k), "view", 0.0),
                (-(2 * k + 2), -(1001 + 2 * k), "purchase", 0.0),
            ],
            "user_id long, event_id long, event_type string,"
            " value double",
        ).selectExpr(
            "event_id", "user_id", "event_type", "value",
            "CAST(NULL AS STRING) AS props",
            f"CAST(timestamp'{base}' + (INTERVAL {off_days} DAYS)"
            " - (CASE WHEN event_type = 'purchase'"
            "    THEN INTERVAL 1 HOURS ELSE INTERVAL 0 HOURS END)"
            " AS TIMESTAMP_NTZ) AS ts",
        ).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    streamed = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id >= 0  # drop the sentinels' own rows
    }
    events = read_table(spark, SF_SMOKE, "events")
    batch = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in streaming.view_purchase_left_join_batch(events).collect()
    }
    assert streamed == batch
    matched = {t for t in batch if t[2] is not None}
    unmatched = {t for t in batch if t[2] is None}
    assert len(matched) > 0 and len(unmatched) > 0


def test_bounded_dedup_matches_batch_and_evicts_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark twin: (a) with a watermark wider
    than the input span, the bounded dedup's finite-input output must
    equal exact distinct (parity with dedup_event_stream); (b) with a
    NARROW watermark over time-split input, the state store must hold
    far fewer ids than the corpus at end-of-stream — the eviction that
    makes the operator safe for unbounded runs, read from the query's
    own progress metrics rather than asserted by docstring."""
    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    events = read_table(spark, SF_SMOKE, "events")
    n_all = events.count()
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    # duplicate ids split across micro-batches, same redelivered rows
    raw.filter("event_id < 600").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    raw.filter("event_id >= 300").coalesce(1).write.parquet(
        in_dir, mode="append"
    )

    ev = streaming.read_event_files(spark, in_dir)

    # (a) watermark >> input span: exact-distinct parity, every id
    # still in state (nothing evictable yet)
    out, prog = streaming.drain_to_memory(
        streaming.dedup_event_stream_bounded(ev, watermark="3650 days"),
        "append",
    )
    state_wide = streaming.state_rows(prog)
    assert out.count() == n_all
    assert out.select("event_id").distinct().count() == n_all
    assert state_wide == n_all
    # (b) narrow watermark: dedup within the horizon still holds for
    # THIS input (the redelivered batch shares the original event
    # times, so dupes are either in-horizon-deduped or late-dropped),
    # and end-of-stream state is a fraction of the id domain
    out2, prog = streaming.drain_to_memory(
        streaming.dedup_event_stream_bounded(ev, watermark="10 minutes"),
        "append",
    )
    state_narrow = streaming.state_rows(prog)
    assert out2.select("event_id").distinct().count() == out2.count()
    assert state_narrow < n_all / 2


def test_timeout_sessionization_full_batch_parity_and_eviction(
    spark, tmp_path
):
    """sessionize_stream_timeout: once sentinel flush events push the
    final watermark past every real user's last_event + gap, the
    emitted sessions must equal FULL batch sessionization — each
    user's final session included, the stronger contract the timeout
    eviction buys — and the state store must be nearly empty at
    end-of-stream (only the last sentinel user's session can remain
    open), read from the query's own progress metrics."""
    from pyspark.sql import Window

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    _split_by_median_ts(raw, in_dir)
    # two sentinel flush batches (distinct negative users, 2 and 4
    # days past the real max): the +4d batch's watermark closes the
    # +2d sentinel's own session too, leaving at most one open state
    base = raw.select(
        F.max(F.col("ts").cast("timestamp")).alias("m")
    ).first().m
    for k, off_days in enumerate((2, 4)):
        spark.createDataFrame(
            [(-(k + 1), -(100 + k), "view", 0.0)],
            "user_id long, event_id long, event_type string, value double",
        ).selectExpr(
            "event_id", "user_id", "event_type", "value",
            "CAST(NULL AS STRING) AS props",
            f"CAST(timestamp'{base}' + (INTERVAL {off_days} DAYS)"
            " AS TIMESTAMP_NTZ) AS ts",
        ).coalesce(1).write.parquet(in_dir, mode="append")

    out, prog = streaming.drain_to_memory(
        streaming.sessionize_stream_timeout(
            streaming.read_event_files(spark, in_dir)
        ),
        "append",
    )
    state_rows = streaming.state_rows(prog)
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.collect()
        if r.user_id >= 0  # drop the sentinels' own sessions
    }
    # FULL batch oracle — no open-session subtraction
    events = read_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        events.withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "new_sess",
            F.when(
                (F.col("us") - F.lag("us").over(w))
                > streaming.SESSION_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("new_sess").over(run))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    batch_all = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.collect()
    }
    assert streamed == batch_all
    # eviction: every real user's state timed out and was removed;
    # only the final sentinel's open session may remain
    n_users = events.select("user_id").distinct().count()
    assert state_rows <= 1, state_rows
    assert n_users > 1  # the bound above is meaningful


def test_timeout_sessionization_survives_restart(spark, tmp_path):
    """Restart pin for the EventTimeTimeout family: stop after two
    waves (every user's open session + armed timeout live only in the
    state store), restart on the same checkpoint with the final wave
    plus the sentinel flushes — output must STILL equal full batch
    sessionization. A lost timeout would leak the final sessions; a
    lost fold state would split sessions at the stop boundary."""
    from pyspark.sql import Window

    from data_pipeline_and_visualization_dashboard_spark.io import read_table

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _, t2 = _split_three_waves(raw, in_dir)

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.sessionize_stream_timeout(ev), out_dir, ckpt
        )

    streaming.drain(start())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    base = raw.select(
        F.max(F.col("ts").cast("timestamp")).alias("m")
    ).first().m
    for k, off_days in enumerate((2, 4)):
        spark.createDataFrame(
            [(-(k + 1), -(100 + k), "view", 0.0)],
            "user_id long, event_id long, event_type string, value double",
        ).selectExpr(
            "event_id", "user_id", "event_type", "value",
            "CAST(NULL AS STRING) AS props",
            f"CAST(timestamp'{base}' + (INTERVAL {off_days} DAYS)"
            " AS TIMESTAMP_NTZ) AS ts",
        ).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    streamed = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
        if r.user_id >= 0
    }
    events = read_table(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        events.withColumn("us", F.unix_micros("ts"))
        .withColumn(
            "new_sess",
            F.when(
                (F.col("us") - F.lag("us").over(w))
                > streaming.SESSION_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("sess_no", F.sum("new_sess").over(run))
        .groupBy("user_id", "sess_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    batch_all = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.collect()
    }
    assert streamed == batch_all


def test_bounded_transitions_parity_and_idle_eviction(spark, tmp_path):
    """transition_stream_bounded: (a) with the 30-day idle horizon
    dominating the smoke corpus's span, the aggregated pairs equal the
    exact twin's batch matrix; (b) on a synthetic two-user fixture
    where one user goes silent past the horizon, that user's state is
    evicted (progress metrics) and their bridging transition is NOT
    emitted — the documented trade, asserted rather than described."""
    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q89_session_transitions,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")  # ts NTZ µs
    in_dir = str(tmp_path / "in")
    _split_by_median_ts(raw, in_dir)

    out, _ = streaming.drain_to_memory(
        streaming.transition_stream_bounded(
            streaming.read_event_files(spark, in_dir)
        ),
        "append",
    )
    got = {
        (r.from_type, r.to_type): r.n
        for r in out.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in q89_session_transitions(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0

    # synthetic, TWO DRAIN PHASES. Spark invokes a key with data as
    # hasTimedOut=false even when its timeout expired, so eviction is
    # only observable if the no-data batch runs BEFORE the user's
    # return lands — phase 1 drains files 1-2 (watermark passes
    # user 1's +30d1h horizon; the trailing no-data batch evicts
    # them), THEN file 3 is written and drained in the same query run:
    #   file1: user1 at t0/+1h, user2 at t0 (timeouts armed at +30d)
    #   file2: user2 at +40d/+45d (their own state was still live at
    #          +40d — the watermark never proved THEM idle — so their
    #          chain emits uninterrupted)
    #   file3: user1 RETURNS at +60d onto a fresh state (bridging pair
    #          must NOT emit), user2 at +61d (in-horizon, pair emits)
    syn = str(tmp_path / "syn")
    waves = [
        [
            (1, 10, "view", 0.0, 0),
            (1, 11, "click", 0.0, 3600),
            (2, 20, "view", 0.0, 0),
        ],
        [
            (2, 21, "click", 0.0, 40 * 86400),
            (2, 22, "view", 0.0, 45 * 86400),
        ],
    ]
    wave3 = [
        (1, 12, "purchase", 0.0, 60 * 86400),
        (2, 23, "click", 0.0, 61 * 86400),
    ]

    def land(batch):
        spark.createDataFrame(
            batch,
            "user_id long, event_id long, event_type string,"
            " value double, off long",
        ).selectExpr(
            "event_id", "user_id", "event_type", "value",
            "CAST(NULL AS STRING) AS props",
            "CAST(timestamp'2024-01-01 00:00:00' + make_interval(0, 0,"
            " 0, 0, 0, 0, off) AS TIMESTAMP_NTZ) AS ts",
        ).coalesce(1).write.parquet(syn, mode="append")

    for batch in waves:
        land(batch)
    q = (
        streaming.transition_stream_bounded(
            streaming.read_event_files(spark, syn)
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("btrans_syn")
        .start()
    )
    try:
        _settle(q)  # files 1-2 + the no-data batch that evicts user 1
        land(wave3)
        state2 = streaming.state_rows(streaming.drain(q))
    finally:
        q.stop()
    pairs = {
        (r.user_id, r.from_type, r.to_type)
        for r in spark.sql("SELECT * FROM btrans_syn").collect()
    }
    # user 1: in-horizon pair emitted; the bridging pair across the
    # 60-day silence is NOT (state evicted once the watermark passed
    # the +30d idle horizon)
    assert (1, "view", "click") in pairs
    assert (1, "click", "purchase") not in pairs
    # user 2's chain emits in full: each arrival found live state
    # (the +40d event landed before any watermark passed their +30d
    # timeout — eviction requires the watermark to PROVE idleness
    # first, which for user 2 it never did)
    assert (2, "view", "click") in pairs
    assert (2, "click", "view") in pairs
    # end-of-stream state: both users' last events are within the
    # horizon of the final watermark — exactly the two live rows, and
    # critically NOT a row for user 1's evicted pre-idle state
    assert state2 <= 2


def test_session_fold_extends_start_backward_in_gap(spark, tmp_path):
    """ADVICE r9 #4 pin: a late-but-within-watermark event OLDER than
    the open session's stored start, arriving in a LATER micro-batch,
    must extend the session start backward (start_us folds with min),
    exactly as full batch sessionization would place it. Before the
    fix the event was counted but session_start stayed at the first-
    arrived event. Waves: [10:00, 10:05] -> [09:58 late in-gap] ->
    [11:00 closer]; expected closed session (09:58, 10:05, n=3)."""
    import os
    import time

    in_dir = str(tmp_path / "backfill_in")
    os.makedirs(in_dir)

    def wave(rows, mtime_bump):
        df = spark.createDataFrame(
            [(eid, ts, 7, "click", 1.0, "{}") for eid, ts in rows],
            schema=streaming._STREAM_SCHEMA.replace(
                "timestamp_ntz", "string"
            ),
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        path = str(tmp_path / f"w{mtime_bump}")
        df.coalesce(1).write.parquet(path)
        import glob
        import shutil
        src = glob.glob(path + "/part-*.parquet")[0]
        dst = os.path.join(in_dir, f"wave_{mtime_bump}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (time.time() + mtime_bump, time.time() + mtime_bump))

    wave([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")], 10)
    # wave-1 watermark = 10:05 - 10min = 09:55, so 09:58 is admitted
    wave([(3, "2024-01-01 09:58:00")], 20)
    wave([(4, "2024-01-01 11:00:00")], 30)  # > last+30min: closes

    out, _ = streaming.drain_to_memory(
        streaming.sessionize_stream(streaming.read_event_files(spark, in_dir)),
        "append",
    )
    closed = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in out.collect()
    }
    assert closed == {
        (7, "2024-01-01 09:58:00", "2024-01-01 10:05:00", 3)
    }


def test_bounded_transitions_survive_restart(spark, tmp_path):
    """VERDICT r9 ask #6: restart pin for transition_stream_bounded —
    the only stateful family member without one. Stop after waves 1-2,
    land wave 3, resume on the same checkpoint: the file-sink output
    must aggregate to exactly the batch q89 matrix (the 30-day idle
    horizon dominates the smoke corpus's span, so no eviction fires
    and bounded ≡ exact). This pins that BOTH the per-user last-event
    state AND the armed EventTimeTimeout recover from the state store:
    a lost state mis-emits every user's first post-restart transition;
    a state recovered without its timeout would instead fire spurious
    evictions or none at all on the resumed run."""
    from pyspark.sql import functions as F

    from data_pipeline_and_visualization_dashboard_spark.queries_ext import (
        q89_session_transitions,
    )
    from tests.conftest import SF_SMOKE as _SF

    raw = spark.read.parquet(_SF + "/events.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t1, t2 = _split_three_waves(raw, in_dir)

    def start():
        ev = streaming.read_event_files(spark, in_dir)
        return _file_sink(
            streaming.transition_stream_bounded(ev), out_dir, ckpt
        )

    streaming.drain(start())
    raw.filter(us > t2).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(start())
    got = {
        (r.from_type, r.to_type): r.n
        for r in spark.read.parquet(out_dir)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in q89_session_transitions(spark, _SF).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_ams_f2_matches_batch_with_one_state_row(spark):
    """VERDICT r9 ask #5: the incremental AMS F2 twin. (a) the final
    streamed S_r vector reproduces the batch estimate bit-for-bit —
    sum-of-signs over arrivals equals sum of f(x)·s_r(x) over keys;
    (b) the "16 longs in a stream" claim is asserted from the query's
    own progress metrics: the global aggregation holds exactly ONE
    state row regardless of key cardinality (state honesty rule)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import AMS_R, ams_f2

    out, prog = streaming.drain_to_memory(
        streaming.ams_f2_stream(streaming.read_event_stream(spark, SF_SMOKE)),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    row = out.collect()
    assert len(row) == 1
    row = row[0]
    batch = ams_f2(spark, SF_SMOKE).first()
    # n_rows = every arrival (the stream never builds the freq frame)
    n_events = spark.read.parquet(SF_SMOKE + "/events.parquet").count()
    assert row.n_rows == n_events
    # median-of-squares epilogue over the streamed sums == batch est
    sq = sorted(float(row[f"S_{r}"]) ** 2 for r in range(AMS_R))
    est = (sq[AMS_R // 2 - 1] + sq[AMS_R // 2]) / 2.0
    assert est == batch.ams_est
    # O(1) state: ONE row in the aggregation state store
    assert state_rows == 1


def test_session_watermark_beyond_gap_rejected(spark):
    """ADVICE r10 #2: the session folds' batch-parity proof requires
    watermark delay ≤ session gap — a longer delay admits events more
    than a gap older than the open session's start, which the min()
    fold would merge while batch places them in an earlier session.
    Both entry points must reject such configurations up front;
    delays at or under the gap (and unparseable strings, left to
    Spark) must pass through."""
    import pytest

    ev = spark.read.parquet(SF_SMOKE + "/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # week/month/year are Spark-valid units too (ADVICE r11 #3) —
    # any count >= 1 of them exceeds the 30-min gap.
    for bad in ("31 minutes", "1 hour", "2 days", "1801 seconds",
                "1 week", "1 month", "1 year"):
        with pytest.raises(ValueError, match="exceeds the session gap"):
            streaming.sessionize_stream(ev, watermark=bad)
        with pytest.raises(ValueError, match="exceeds the session gap"):
            streaming.sessionize_stream_timeout(ev, watermark=bad)
    for ok in ("30 minutes", "10 minutes", "1800 seconds"):
        streaming.sessionize_stream(ev, watermark=ok)  # must not raise


def test_ams_f2_stream_skips_null_keys_in_n_rows(spark):
    """ADVICE r10 #4: a NULL user_id contributes nothing to any S_r
    (md5(NULL) signs are NULL, skipped by sum), so it must not inflate
    n_rows either — n_rows is the count of rows actually sketched.
    The signed sums must be unchanged by the NULL arrivals."""
    ev = spark.read.parquet(SF_SMOKE + "/events.parquet")
    with_nulls = ev.unionByName(
        ev.limit(7).withColumn("user_id", F.lit(None).cast("long"))
    )
    clean = streaming.ams_f2_stream(ev).first()
    dirty = streaming.ams_f2_stream(with_nulls).first()
    assert dirty.n_rows == clean.n_rows == ev.count()
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import AMS_R

    assert [dirty[f"S_{r}"] for r in range(AMS_R)] == [
        clean[f"S_{r}"] for r in range(AMS_R)
    ]


def test_streaming_ams_f2_survives_restart(spark, tmp_path):
    """VERDICT r10 ask #4 — the last stateful family's restart pin
    (15/15): drain file A through the checkpointed foreachBatch AMS
    monitor, STOP the query, land file B, restart with the SAME
    checkpoint.  The final S_r vector must equal the batch sketch over
    A∪B bit-for-bit: the restart must recover A's signed sums from the
    aggregation state store (a lost state would make the result equal
    B-only sums) and must NOT re-consume A (a re-read would
    double-add its signs)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        AMS_R,
        ams_f2,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    in_dir = str(tmp_path / "ams_in")
    state = str(tmp_path / "ams_state")
    ckpt = str(tmp_path / "ams_ckpt")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.ams_merge_stream(spark, in_dir, state, ckpt))
    # the first wave alone must differ from the full answer, or the
    # recovery assertion below would be vacuous
    wave1 = spark.read.parquet(state).first()
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.ams_merge_stream(spark, in_dir, state, ckpt))
    got = spark.read.parquet(state).first()
    # batch parity oracle: the SAME plan fragment over a batch read of
    # the full fixture (the established stream-twin convention)
    want = streaming.ams_f2_stream(raw).first()
    assert [got[f"S_{r}"] for r in range(AMS_R)] == [
        want[f"S_{r}"] for r in range(AMS_R)
    ]
    assert got.n_rows == want.n_rows
    assert [wave1[f"S_{r}"] for r in range(AMS_R)] != [
        want[f"S_{r}"] for r in range(AMS_R)
    ]
    # and the median-of-squares epilogue equals the batch operator's
    sq = sorted(float(got[f"S_{r}"]) ** 2 for r in range(AMS_R))
    est = (sq[AMS_R // 2 - 1] + sq[AMS_R // 2]) / 2.0
    assert est == ams_f2(spark, SF_SMOKE).first().ams_est


def test_streaming_hhi_matches_batch_with_one_state_row(spark):
    """The weighted-AMS HHI monitor (VERDICT r11 next #7). (a) the
    emitted S_r/F1 decimals equal the batch twin plan fragment over
    the same fixture BIT-FOR-BIT (decimal sums are exact, so
    micro-batch boundaries and addition order cannot shift them);
    (b) they also equal the CUSTOMER-grain signed sums that
    extras.sketches.ams_hhi folds — the cross-grain identity
    S_r = Σ_c sign(c)·spend(c) = Σ_arrivals sign(cust)·amount that
    makes the monitor per-arrival updatable at all; (c) the
    hhi_from_row epilogue reproduces ams_hhi's estimate readout; (d)
    state is ONE row in the aggregation state store."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        AMS_R,
        ams_hhi,
    )

    orders = (
        spark.readStream.schema(streaming._ORDERS_STREAM_SCHEMA)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(SF_SMOKE)
    )
    out, prog = streaming.drain_to_memory(
        streaming.hhi_ams_stream(orders), "complete"
    )
    state_rows = streaming.state_rows(prog)
    rows = out.collect()
    assert len(rows) == 1
    row = rows[0]
    raw = spark.read.parquet(SF_SMOKE + "/orders.parquet")
    want = streaming.hhi_ams_stream(raw).first()
    assert [row[f"S_{r}"] for r in range(AMS_R)] == [
        want[f"S_{r}"] for r in range(AMS_R)
    ]
    assert row.F1 == want.F1 and row.n_rows == want.n_rows
    # (b) asserted DIRECTLY (not just via the 4dp readout): the
    # customer-grain signed sums Σ_c sign(c)·spend(c) that ams_hhi
    # folds must equal the per-arrival sums decimal-for-decimal
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        _AMS_HHI_SPARK_KEY,
        _ams_sign,
        _spark_base,
    )

    base = _spark_base(_AMS_HHI_SPARK_KEY)
    cust_grain = (
        raw.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("spend")
        )
        .selectExpr(
            "spend",
            *[f"CAST({_ams_sign(r, base)} AS INT) AS s_{r}"
              for r in range(AMS_R)],
        )
        .agg(*[
            F.sum(F.col("spend") * F.col(f"s_{r}")).alias(f"S_{r}")
            for r in range(AMS_R)
        ])
        .first()
    )
    assert [row[f"S_{r}"] for r in range(AMS_R)] == [
        cust_grain[f"S_{r}"] for r in range(AMS_R)
    ]
    batch = ams_hhi(spark, SF_SMOKE).first()
    read = streaming.hhi_from_row(row)
    assert round(read["eff_customers_est"], 4) == batch.eff_customers_est
    assert state_rows == 1
    # the estimator must be in the right ballpark of the exact HHI
    # (same ~1/sqrt(R) statistical-error contract as sketch_ams_f2)
    assert (
        0.2 * batch.eff_customers_exact
        <= read["eff_customers_est"]
        <= 5.0 * batch.eff_customers_exact
    )


def test_streaming_hhi_survives_restart(spark, tmp_path):
    """Restart pin for the HHI monitor (16th stateful family): drain
    file A through the checkpointed foreachBatch monitor, STOP, land
    file B, restart with the SAME checkpoint. Final sums must equal
    the batch fragment over A∪B exactly — state recovered, A not
    re-consumed."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import AMS_R

    raw = spark.read.parquet(SF_SMOKE + "/orders.parquet")
    in_dir = str(tmp_path / "hhi_in")
    state = str(tmp_path / "hhi_state")
    ckpt = str(tmp_path / "hhi_ckpt")
    raw.filter("o_orderkey % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.hhi_merge_stream(spark, in_dir, state, ckpt))
    wave1 = spark.read.parquet(state).first()
    raw.filter("o_orderkey % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.hhi_merge_stream(spark, in_dir, state, ckpt))
    got = spark.read.parquet(state).first()
    want = streaming.hhi_ams_stream(raw).first()
    assert [got[f"S_{r}"] for r in range(AMS_R)] == [
        want[f"S_{r}"] for r in range(AMS_R)
    ]
    assert got.F1 == want.F1 and got.n_rows == want.n_rows
    # wave 1 alone must differ, or the recovery assertion is vacuous
    assert [wave1[f"S_{r}"] for r in range(AMS_R)] != [
        want[f"S_{r}"] for r in range(AMS_R)
    ]


def test_hhi_from_row_degenerate_rows():
    """The readout epilogue's degenerate contract (code-review r12):
    a pre-data monitor row (n_rows=0, NULL sums) and an all-zero-
    amount row both return the SAME None encoding — no TypeError on
    float(None), no NaN-vs-inf zoo."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import AMS_R

    empty = {"n_rows": 0, "F1": None,
             **{f"S_{r}": None for r in range(AMS_R)}}
    got = streaming.hhi_from_row(empty)
    assert got == {"n_rows": 0, "est_f2": None, "hhi_est": None,
                   "eff_customers_est": None}
    zero = {"n_rows": 5, "F1": 0.0,
            **{f"S_{r}": 0.0 for r in range(AMS_R)}}
    got = streaming.hhi_from_row(zero)
    assert got["est_f2"] is None and got["hhi_est"] is None
    assert got["eff_customers_est"] is None and got["n_rows"] == 5


def test_streaming_countmin_matches_batch_with_bounded_state(spark):
    """The live count-min cell monitor (17th stateful family): (a)
    the final cell table equals extras.sketches.countmin_sketch over
    the same fixture CELL-FOR-CELL (integer counts — exact, no float
    discipline; the stream never builds the batch twin's key-grain
    frame); (b) state is bounded by the sketch GEOMETRY, not the
    data: rows in the aggregation state store == live cells
    <= CM_D*CM_W + CM_D."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        CM_D,
        CM_W,
        countmin_sketch,
    )

    out, prog = streaming.drain_to_memory(
        streaming.countmin_cell_stream(
            streaming.read_event_stream(spark, SF_SMOKE)
        ),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    got = {(r.d, r.w): r.cnt for r in out.collect()}
    want = {
        (r.d, r.w): r.cnt
        for r in countmin_sketch(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0
    assert state_rows == len(got)
    assert state_rows <= CM_D * CM_W + CM_D


def test_streaming_countmin_survives_restart(spark, tmp_path):
    """Restart pin for the count-min monitor: drain file A through
    the checkpointed foreachBatch variant, STOP, land file B, restart
    with the SAME checkpoint. The final cell table must equal the
    batch sketch over A∪B exactly — additive integer state recovered,
    A not re-consumed (a double-add would inflate every cell A
    touched)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        countmin_sketch,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    in_dir = str(tmp_path / "cm_in")
    state = str(tmp_path / "cm_state")
    ckpt = str(tmp_path / "cm_ckpt")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(
        streaming.countmin_merge_stream(spark, in_dir, state, ckpt)
    )
    wave1 = {
        (r.d, r.w): r.cnt for r in spark.read.parquet(state).collect()
    }
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(
        streaming.countmin_merge_stream(spark, in_dir, state, ckpt)
    )
    got = {
        (r.d, r.w): r.cnt for r in spark.read.parquet(state).collect()
    }
    want = {
        (r.d, r.w): r.cnt
        for r in countmin_sketch(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert wave1 != want  # or the recovery assertion is vacuous


def test_streaming_hist_matches_batch_with_bounded_state(spark):
    """The live histogram-quantile monitor (18th stateful family): (a)
    configured with the batch global [min, max] as its domain, the
    final cell table equals extras.sketches.hist_cells over the same
    fixture CELL-FOR-CELL (integer counts — exact; the shared
    hist_bin_expr geometry makes this structural); (b) state is
    bounded by the histogram GEOMETRY x the type domain: rows in the
    aggregation state store == live cells <= |types| * HIST_BINS; (c)
    the stateless readout epilogue over the streamed cells reproduces
    the batch sketch's quantile estimates exactly (shared
    hist_quantile_rows readout)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        HIST_BINS,
        hist_cells,
        hist_quantiles,
    )

    batch_cells = hist_cells(spark, SF_SMOKE).collect()
    lo, hi = batch_cells[0].lo, batch_cells[0].hi
    out, prog = streaming.drain_to_memory(
        streaming.hist_cell_stream(
            streaming.read_event_stream(spark, SF_SMOKE), lo, hi
        ),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    got = {(r.event_type, r.bin): r.cnt for r in out.collect()}
    want = {(r.event_type, r.bin): r.cnt for r in batch_cells}
    assert got == want and len(got) > 0
    n_types = len({t for t, _ in want})
    assert state_rows == len(got)
    assert state_rows <= n_types * HIST_BINS
    est = {
        (r.event_type, r.q): r.est
        for r in streaming.hist_quantiles_from_cells(
            out, lo, hi
        ).collect()
    }
    batch_est = {
        (r.event_type, r.q): r.est
        for r in hist_quantiles(spark, SF_SMOKE).collect()
    }
    assert est == batch_est and len(est) > 0


def test_streaming_hist_survives_restart(spark, tmp_path):
    """Restart pin for the histogram-quantile monitor: drain file A
    through the checkpointed foreachBatch variant, STOP, land file B,
    restart with the SAME checkpoint and the SAME domain (the
    geometry contract). The final cell table must equal the batch
    cell build over A∪B exactly — additive integer state recovered, A
    not re-consumed (a double-add would inflate every cell A
    touched)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        hist_cells,
    )

    batch_cells = hist_cells(spark, SF_SMOKE).collect()
    lo, hi = batch_cells[0].lo, batch_cells[0].hi
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    in_dir = str(tmp_path / "hist_in")
    state = str(tmp_path / "hist_state")
    ckpt = str(tmp_path / "hist_ckpt")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(
        streaming.hist_merge_stream(spark, in_dir, state, ckpt, lo, hi)
    )
    wave1 = {
        (r.event_type, r.bin): r.cnt
        for r in spark.read.parquet(state).collect()
    }
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(
        streaming.hist_merge_stream(spark, in_dir, state, ckpt, lo, hi)
    )
    got = {
        (r.event_type, r.bin): r.cnt
        for r in spark.read.parquet(state).collect()
    }
    want = {(r.event_type, r.bin): r.cnt for r in batch_cells}
    assert got == want
    assert wave1 != want  # or the recovery assertion is vacuous


def test_streaming_hll_matches_batch_with_bounded_state(spark):
    """The live HLL register monitor (19th stateful family): (a) the
    final register table equals extras.sketches.hll_registers over the
    same fixture CELL-FOR-CELL even though the stream never runs the
    batch twin's key-distinct (rank is a pure function of the key and
    max() absorbs duplicates — the reduction the operator exists for);
    (b) state is bounded by the sketch GEOMETRY: rows in the
    aggregation state store == live registers <= HLL_M + 1 (the +1 is
    the NULL-hash register both sides keep); (c) the stateless readout
    epilogue over the streamed registers reproduces the batch
    estimate exactly (shared hll_est_from_registers fold)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    out, prog = streaming.drain_to_memory(
        streaming.hll_register_stream(
            streaming.read_event_stream(spark, SF_SMOKE)
        ),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    got = {r.bucket: r.max_rank for r in out.collect()}
    want = {
        r.bucket: r.max_rank
        for r in hll_registers(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0
    assert state_rows == len(got)
    assert state_rows <= HLL_M + 1
    est = streaming.hll_estimate_from_cells(out).first().hll_est
    batch_est = hll_estimate(spark, SF_SMOKE).first().hll_est
    assert est == batch_est


def test_streaming_hll_survives_restart(spark, tmp_path):
    """Restart pin for the HLL monitor: drain file A through the
    checkpointed foreachBatch variant, STOP, land file B, restart
    with the SAME checkpoint. max() is idempotent, so a replay can
    never inflate a register — what this pin proves is RECOVERY: the
    final table must equal the batch registers over A∪B AND differ
    from the registers of B alone (so a register max seen only in A
    provably came from recovered state, not from re-reading A).

    The split is chosen to make BOTH vacuousness guards bite: an
    event_id parity split fails them (half the users already saturate
    every register max — max converges fast), so wave A is exactly
    ONE champion user who uniquely holds their bucket's max rank
    (found from the batch cells), and wave B is everyone else. Then
    wave1 != final (A populates one register) and final !=
    registers(B) (B lacks the champion's max) are both guaranteed
    non-vacuous."""
    from collections import defaultdict

    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        hll_register_rows,
    )

    def batch_regs(df):
        return {
            r.bucket: r.max_rank
            for r in hll_register_rows(
                df.select("user_id").distinct()
            )
            .groupBy("bucket")
            .agg(F.max("rank").alias("max_rank"))
            .collect()
        }

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    # (user_id, bucket, rank) per distinct user: pick a champion who
    # UNIQUELY holds their bucket's max rank
    cells = hll_register_rows(
        raw.select("user_id").distinct().filter("user_id IS NOT NULL"),
        carry="user_id",
    ).collect()
    by_bucket = defaultdict(list)
    for r in cells:
        by_bucket[r.bucket].append((r.rank, r.user_id))
    champion = None
    for ranked in by_bucket.values():
        ranked.sort(reverse=True)
        if len(ranked) == 1 or ranked[0][0] > ranked[1][0]:
            champion = ranked[0][1]
            break
    assert champion is not None, (
        "degenerate fixture: every bucket max is tied — no champion"
    )
    in_dir = str(tmp_path / "hll_in")
    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")
    a = raw.filter(F.col("user_id") == champion)
    b = raw.filter(
        F.col("user_id").isNull() | (F.col("user_id") != champion)
    )
    a.coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(streaming.hll_merge_stream(spark, in_dir, state, ckpt))
    wave1 = {
        r.bucket: r.max_rank for r in spark.read.parquet(state).collect()
    }
    b.coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(streaming.hll_merge_stream(spark, in_dir, state, ckpt))
    got = {
        r.bucket: r.max_rank for r in spark.read.parquet(state).collect()
    }
    want = batch_regs(raw)
    assert got == want
    assert wave1 != want      # wave B moved some register
    assert got != batch_regs(b)  # ...and some register max came only
    # from the recovered wave-A state


def test_streaming_hist_domain_guards(spark, tmp_path):
    """The histogram monitor's geometry guards (r13 self-review): (a)
    a degenerate (hi == lo) or inverted (hi < lo) domain raises at the
    entry point — without the guard, division by zero yields NULL
    bins that greatest/least silently clamp into the top bin, and an
    inverted domain scatters everything into the edge bins, both with
    no error anywhere; (b) hist_merge_stream refuses a restart whose
    domain differs from the one the persisted state was built under —
    recovered additive cells are only meaningful under their own
    edges."""
    import pytest

    events = spark.read.parquet(SF_SMOKE + "/events.parquet")
    with pytest.raises(ValueError, match="hi > lo"):
        streaming.hist_cell_stream(events, 5.0, 5.0)
    with pytest.raises(ValueError, match="hi > lo"):
        streaming.hist_cell_stream(events, 9.0, 1.0)

    in_dir = str(tmp_path / "hd_in")
    state = str(tmp_path / "hd_state")
    ckpt = str(tmp_path / "hd_ckpt")
    events.limit(50).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(
        streaming.hist_merge_stream(spark, in_dir, state, ckpt, 0.0, 10.0)
    )
    # same domain resumes fine
    streaming.drain(
        streaming.hist_merge_stream(spark, in_dir, state, ckpt, 0.0, 10.0)
    )
    # different domain refused BEFORE any state is touched
    with pytest.raises(ValueError, match="only meaningful under"):
        streaming.hist_merge_stream(spark, in_dir, state, ckpt, 0.0, 20.0)
    # fail-CLOSED paths (r13 second review): a state parquet that
    # PREDATES the domain stamp (no lo/hi columns) cannot be
    # validated -> refuse; an existing-but-unreadable state dir (the
    # non-atomic overwrite sink can crash between delete and commit)
    # also refuses rather than silently resuming blind
    legacy = str(tmp_path / "hd_legacy_state")
    spark.createDataFrame(
        [("click", 3, 7)], "event_type string, bin int, cnt long"
    ).write.parquet(legacy)
    with pytest.raises(ValueError, match="predates"):
        streaming.hist_merge_stream(
            spark, in_dir, legacy, str(tmp_path / "hd_ckpt2"), 0.0, 10.0
        )
    corrupt = str(tmp_path / "hd_corrupt_state")
    import os

    os.makedirs(corrupt)  # exists but holds no readable parquet
    with pytest.raises(ValueError, match="unreadable"):
        streaming.hist_merge_stream(
            spark, in_dir, corrupt, str(tmp_path / "hd_ckpt3"), 0.0, 10.0
        )


def test_streaming_bloom_matches_batch_with_bounded_state(spark):
    """The live counting-Bloom membership monitor (20th stateful
    family): (a) the final cell table equals
    extras.sketches.bloom_counting_cells over the same fixture
    CELL-FOR-CELL (integer counts — exact; the shared bloom_bit_rows
    geometry makes this structural; the stream never builds the batch
    twin's key-grain frame); (b) state is bounded by the filter
    GEOMETRY, not the data: rows in the aggregation state store ==
    live cells <= mb + 1; (c) the stateless membership readout over
    the streamed cells passes EVERY ingested key (the no-false-
    negative Bloom guarantee) while actually pruning absent probe
    keys (the false-positive rate stays far below 1)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        bloom_counting_cells,
    )
    from pyspark.sql import functions as F

    MB = 256
    out, prog = streaming.drain_to_memory(
        streaming.bloom_cell_stream(
            streaming.read_event_stream(spark, SF_SMOKE), MB
        ),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    events = spark.read.parquet(SF_SMOKE + "/events.parquet")
    want = {
        r.bit: r.cnt
        for r in bloom_counting_cells(
            events.select(F.col("user_id").alias("k")), MB
        ).collect()
    }
    got = {r.bit: r.cnt for r in out.collect()}
    assert got == want and len(got) > 0
    assert state_rows == len(got)
    assert state_rows <= MB + 1

    ingested = streaming.bloom_pass_from_cells(
        out, events.select("user_id"), "user_id"
    ).collect()
    assert len(ingested) > 0 and all(r.bloom_pass for r in ingested)

    absent = spark.range(100000, 101000).select(
        F.col("id").alias("user_id")
    )
    fp = streaming.bloom_pass_from_cells(out, absent, "user_id").collect()
    n_fp = sum(1 for r in fp if r.bloom_pass)
    # ~60/256 bits live -> expected fp ~(0.23)^4 ~ 0.3%; 10% is a
    # generous noise margin that still proves the filter prunes
    assert n_fp <= len(fp) * 0.10


def test_streaming_bloom_survives_restart(spark, tmp_path):
    """Restart pin for the counting-Bloom monitor: drain file A
    through the checkpointed foreachBatch variant, STOP, land file B,
    restart with the SAME checkpoint and width. The final cell table
    must equal the batch cells over A∪B exactly — additive integer
    state recovered, A not re-consumed (a double-add would inflate
    every cell A touched)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        bloom_counting_cells,
    )
    from pyspark.sql import functions as F

    MB = 256
    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    in_dir = str(tmp_path / "bl_in")
    state = str(tmp_path / "bl_state")
    ckpt = str(tmp_path / "bl_ckpt")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(
        streaming.bloom_merge_stream(spark, in_dir, state, ckpt, MB)
    )
    wave1 = {r.bit: r.cnt for r in spark.read.parquet(state).collect()}
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(
        streaming.bloom_merge_stream(spark, in_dir, state, ckpt, MB)
    )
    got = {r.bit: r.cnt for r in spark.read.parquet(state).collect()}
    want = {
        r.bit: r.cnt
        for r in bloom_counting_cells(
            raw.select(F.col("user_id").alias("k")), MB
        ).collect()
    }
    assert got == want
    assert wave1 != want  # or the recovery assertion is vacuous


def test_streaming_bloom_width_guard(spark, tmp_path):
    """The Bloom monitor's geometry guards: (a) a non-positive width
    raises at both entry points; (b) bloom_merge_stream refuses a
    restart whose width differs from the one the persisted state was
    built under — recovered additive cells are only meaningful under
    the modulus that built them (the shared _read_state_stamp
    fail-closed guard, same contract as the histogram domain)."""
    import pytest

    events = spark.read.parquet(SF_SMOKE + "/events.parquet")
    with pytest.raises(ValueError, match=">= 1"):
        streaming.bloom_cell_stream(events, 0)
    with pytest.raises(ValueError, match=">= 1"):
        streaming.bloom_merge_stream(
            spark, str(tmp_path / "x"), str(tmp_path / "y"),
            str(tmp_path / "z"), -5
        )

    in_dir = str(tmp_path / "bw_in")
    state = str(tmp_path / "bw_state")
    ckpt = str(tmp_path / "bw_ckpt")
    events.limit(50).coalesce(1).write.parquet(in_dir, mode="append")
    streaming.drain(
        streaming.bloom_merge_stream(spark, in_dir, state, ckpt, 256)
    )
    # same width resumes fine
    streaming.drain(
        streaming.bloom_merge_stream(spark, in_dir, state, ckpt, 256)
    )
    # different width refused BEFORE any state is touched
    with pytest.raises(ValueError, match="only meaningful under"):
        streaming.bloom_merge_stream(spark, in_dir, state, ckpt, 512)


def test_streaming_cm_join_matches_batch_with_bounded_state(spark):
    """The live join-cardinality monitor (21st stateful family): (a)
    the stateless readout over the streamed (d, w, sa, sb) cells
    equals the batch sketch_cm_join_card's est_join_rows / rows_a /
    rows_b to the row — the shared cm_cell_rows geometry and shared
    estimator grain make this structural (the stream aggregates
    arrivals, the batch pre-aggregates keys; cell sums are the same
    theorem the count-min parity pins); (b) state is bounded by the
    sketch GEOMETRY, not the data: rows in the aggregation state
    store == live cells <= CM_D*CM_W (NULL keys filtered, so no NULL
    cells); (c) the estimate the monitor serves is one-sided above
    the batch twin's exact diagonal."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        CM_D,
        CM_W,
        cm_join_card,
    )

    out, prog = streaming.drain_to_memory(
        streaming.cm_join_cell_stream(
            streaming.read_event_stream(spark, SF_SMOKE)
        ),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    got = streaming.cm_join_est_from_cells(out).collect()[0]
    want = cm_join_card(spark, SF_SMOKE).collect()[0]
    assert (got.rows_a, got.rows_b, got.est_join_rows) == (
        want.rows_a, want.rows_b, want.est_join_rows,
    )
    assert got.rows_a > 0 and got.rows_b > 0
    assert got.est_join_rows >= want.exact_join_rows
    n_cells = out.count()
    assert state_rows == n_cells
    assert state_rows <= CM_D * CM_W


def test_streaming_cm_join_survives_restart(spark, tmp_path):
    """Restart pin for the join-cardinality monitor: drain file A
    through the checkpointed foreachBatch variant, STOP, land file B,
    restart with the SAME checkpoint. The readout over the final cell
    table must equal the batch operator over A∪B exactly — additive
    integer state recovered, A not re-consumed (a double-add would
    inflate sa/sb in every cell A touched, and with them the
    estimate)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.sketches import (
        cm_join_card,
    )

    raw = spark.read.parquet(SF_SMOKE + "/events.parquet")
    in_dir = str(tmp_path / "cmj_in")
    state = str(tmp_path / "cmj_state")
    ckpt = str(tmp_path / "cmj_ckpt")
    raw.filter("event_id % 2 = 0").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.cm_join_merge_stream(spark, in_dir, state, ckpt))
    wave1 = streaming.cm_join_est_from_cells(
        spark.read.parquet(state)
    ).collect()[0]
    raw.filter("event_id % 2 = 1").coalesce(1).write.parquet(
        in_dir, mode="append"
    )
    streaming.drain(streaming.cm_join_merge_stream(spark, in_dir, state, ckpt))
    got = streaming.cm_join_est_from_cells(
        spark.read.parquet(state)
    ).collect()[0]
    want = cm_join_card(spark, SF_SMOKE).collect()[0]
    assert (got.rows_a, got.rows_b, got.est_join_rows) == (
        want.rows_a, want.rows_b, want.est_join_rows,
    )
    # or the recovery assertion is vacuous
    assert (wave1.rows_a, wave1.rows_b) != (got.rows_a, got.rows_b)


def test_streaming_bloom_null_key_no_false_negative(spark, tmp_path):
    """The no-false-negative guarantee must hold for a NULL key too
    (review r13-2 #2): the monitor deliberately keeps NULL user_ids
    as one (bit NULL) cell, so a NULL probe against a stream that
    ingested NULLs must PASS — a plain equi-join readout would drop
    the NULL match on both hops and report a false negative. Also
    pinned: a never-ingested ordinary key still fails on this
    near-empty filter (the readout did not become vacuously true)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # read_event_stream globs literal events.parquet FILES (the driver
    # testdata layout), so write the fixture as one file via pyarrow
    # rather than a Spark part-file directory
    t = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [dt.datetime(2024, 1, 1, 0, 0, 0),
             dt.datetime(2024, 1, 1, 0, 0, 1)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([None, 7], pa.int64()),
        "event_type": pa.array(["click", "click"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    })
    in_dir = str(tmp_path / "bn_in")
    os.makedirs(in_dir)
    pq.write_table(t, in_dir + "/events.parquet")
    out, prog = streaming.drain_to_memory(
        streaming.bloom_cell_stream(
            streaming.read_event_stream(spark, in_dir), 256
        ),
        "complete",
    )
    state_rows = streaming.state_rows(prog)
    # the NULL key lands exactly one (bit NULL) cell
    assert sum(1 for r in out.collect() if r.bit is None) == 1
    assert state_rows <= 256 + 1
    probe = spark.createDataFrame(
        [(None,), (7,), (424242,)], "user_id long"
    )
    got = {
        r.k: r.bloom_pass
        for r in streaming.bloom_pass_from_cells(
            out, probe, "user_id"
        ).collect()
    }
    assert got[None] is True    # ingested NULL: must pass
    assert got[7] is True       # ingested ordinary key: must pass
    assert got[424242] is False  # absent key on a ~8-bit filter


def test_shard_manifest_stream_matches_batch_and_merges(spark, tmp_path):
    """shard_manifest_stream (r15): after draining a document stream
    split into two waves, the maintained state equals the batch
    shard_manifest_of over ALL docs row-for-row — counts, token sums
    AND the xor checksum (exact, no float tolerance: every aggregate
    is integral).  The mid-point is pinned too: after wave 1 alone the
    state equals the batch manifest over wave-1 docs, which is the
    incremental-maintenance claim made concrete (state after any
    prefix == manifest of that prefix).  A restart on the same
    checkpoint must not double-merge (epoch fence) — covered by
    draining the same query object twice."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        shard_manifest_of,
    )

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    in_dir = str(tmp_path / "shard_in")
    state = str(tmp_path / "shard_state")
    ckpt = str(tmp_path / "shard_ckpt")
    half.coalesce(1).write.parquet(in_dir, mode="append")

    def snap():
        return sorted(
            map(tuple, spark.read.parquet(state).select(
                "shard", "n_docs", "n_tokens", "content_hash"
            ).collect())
        )

    q = streaming.shard_manifest_stream(spark, in_dir, state, ckpt)
    try:
        _settle(q)
        assert snap() == sorted(
            map(tuple, shard_manifest_of(half).collect())
        )  # prefix state == prefix manifest
        rest.coalesce(1).write.parquet(in_dir, mode="append")
        streaming.drain(q)
    finally:
        q.stop()
    want = sorted(map(tuple, shard_manifest_of(docs).collect()))
    assert snap() == want and len(want) > 0

    # restart on the same checkpoint: no new input -> state unchanged
    streaming.drain(
        streaming.shard_manifest_stream(spark, in_dir, state, ckpt)
    )
    assert snap() == want


def test_shard_manifest_merge_property(spark):
    """The decomposability claim on shard_manifest_of, asserted
    directly: manifest(A ∪ B) == merge(manifest(A), manifest(B)) where
    merge is (sum, sum, xor) per shard — the identity that makes the
    manifest maintainable per ingest batch and mergeable across corpus
    partitions without a re-scan."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        shard_manifest_of,
    )

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 != 0)
    merged = (
        shard_manifest_of(a).unionByName(shard_manifest_of(b))
        .groupBy("shard")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.expr("bit_xor(content_hash)").alias("content_hash"),
        )
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, shard_manifest_of(docs).collect())
    )

def test_data_card_stream_matches_batch_and_restarts(spark, tmp_path):
    """data_card_stream (r16): after draining a document stream split
    into two waves, the readout equals the batch data card over ALL
    docs row-for-row — counts, token sums, AND the derived ratios
    (kept_frac / dup_rate / token_share), exactly: the stream keeps
    additive bigints and the readout divides the same values the
    batch card's avg/window fold divides.  Prefix pinned mid-stream
    (state after wave 1 ≡ batch card over wave-1 docs — the IVM
    claim), dup flags joined against the SAME static cluster frame
    both sides use, and a restart on the same checkpoint must not
    double-merge (epoch fence)."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        cluster_table, data_card_of,
    )

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    groups = cluster_table(spark, SF_SMOKE)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    in_dir = str(tmp_path / "card_in")
    state = str(tmp_path / "card_state")
    ckpt = str(tmp_path / "card_ckpt")
    half.coalesce(1).write.parquet(in_dir, mode="append")

    def snap():
        return sorted(
            map(
                tuple,
                streaming.read_data_card_state(spark, state).collect(),
            )
        )

    q = streaming.data_card_stream(spark, in_dir, state, ckpt, groups)
    try:
        _settle(q)
        assert snap() == sorted(
            map(tuple, data_card_of(half, groups).collect())
        )  # prefix state == prefix card
        rest.coalesce(1).write.parquet(in_dir, mode="append")
        streaming.drain(q)
    finally:
        q.stop()
    want = sorted(map(tuple, data_card_of(docs, groups).collect()))
    assert snap() == want and len(want) > 0

    # restart on the same checkpoint: no new input -> state unchanged
    streaming.drain(
        streaming.data_card_stream(spark, in_dir, state, ckpt, groups)
    )
    assert snap() == want

    # LIVE mixture readout (r16): read_mixture_plan_state over the
    # drained state must equal the same algebra (mixture_plan_of)
    # applied to the batch card's slice accounting — the composition
    # contract: identical population (arrivals), identical columns,
    # so the live sampling table is exactly what a release cut from
    # the arrived docs would plan.
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        mixture_plan_of,
    )

    live = sorted(
        map(
            tuple,
            streaming.read_mixture_plan_state(spark, state).collect(),
        )
    )
    batch_agg = data_card_of(docs, groups).select(
        "source", "lang", "n_docs",
        F.col("n_tokens").alias("tokens_avail"),
    )
    assert live == sorted(
        map(tuple, mixture_plan_of(batch_agg).collect())
    )
    assert len(live) > 0


def test_data_card_state_merges_across_streams(spark, tmp_path):
    """The mergeability claim on data_card_stream's state, asserted
    directly: two INDEPENDENT streams over disjoint doc subsets
    produce state tables whose per-slice ADDITION reads out as the
    batch card over the union — the property that lets per-datacenter
    card maintainers fold into a global card without re-scanning
    either corpus half."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        cluster_table, data_card_of,
    )

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    groups = cluster_table(spark, SF_SMOKE)
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 != 0)
    states = []
    for name, side in (("a", a), ("b", b)):
        in_dir = str(tmp_path / f"in_{name}")
        st = str(tmp_path / f"state_{name}")
        side.coalesce(1).write.parquet(in_dir, mode="append")
        streaming.drain(streaming.data_card_stream(
            spark, in_dir, st, str(tmp_path / f"ckpt_{name}"), groups
        ))
        states.append(spark.read.parquet(st))
    merged_dir = str(tmp_path / "state_merged")
    (
        states[0].unionByName(states[1])
        .groupBy("source", "lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_kept").alias("n_kept"),
            F.sum("n_dup").alias("n_dup"),
        )
        .write.mode("overwrite")
        .parquet(merged_dir)
    )
    got = sorted(
        map(
            tuple,
            streaming.read_data_card_state(spark, merged_dir).collect(),
        )
    )
    assert got == sorted(
        map(tuple, data_card_of(docs, groups).collect())
    )

def test_publish_lag_readout(spark, tmp_path):
    """publish_lag_readout (r16): drain the manifest maintainer over
    half the corpus and 'publish' that manifest; stream the remainder
    in; the lag readout against the published manifest must flag
    exactly the shards the second wave touched, with per-shard doc
    backlog equal to the wave's true per-shard doc counts — and a
    readout taken immediately after publishing reads zero lag."""
    from data_pipeline_and_visualization_dashboard_spark.extras.dedup import (
        shard_manifest_of,
    )

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    in_dir = str(tmp_path / "lag_in")
    state = str(tmp_path / "lag_state")
    ckpt = str(tmp_path / "lag_ckpt")
    half.coalesce(1).write.parquet(in_dir, mode="append")
    q = streaming.shard_manifest_stream(spark, in_dir, state, ckpt)
    try:
        _settle(q)
        # snapshot the published manifest as literal rows: the state
        # dir is atomically swapped by later commits, so a lazy frame
        # over it would silently read wave-2 state
        snap_df = spark.read.parquet(state).select(
            "shard", "n_docs", "n_tokens", "content_hash"
        )
        published = spark.createDataFrame(
            snap_df.collect(), snap_df.schema
        )
        zero = streaming.publish_lag_readout(
            spark, state, published
        ).collect()
        assert zero and all(
            not r.needs_rewrite and r.docs_delta == 0 for r in zero
        )
        rest.coalesce(1).write.parquet(in_dir, mode="append")
        streaming.drain(q)
    finally:
        q.stop()
    lag = {
        r.shard: r
        for r in streaming.publish_lag_readout(
            spark, state, published
        ).collect()
    }
    wave2 = {
        r.shard: r.n_docs for r in shard_manifest_of(rest).collect()
    }
    for s, r in lag.items():
        if s in wave2:
            assert r.needs_rewrite and r.docs_delta == wave2[s], (s, r)
        else:
            assert not r.needs_rewrite and r.docs_delta == 0
