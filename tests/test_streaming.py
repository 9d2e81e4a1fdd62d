"""Stream-batch parity + watermark semantics on micro fixtures."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

from pyspark.sql import functions as F

from cobradb_spark import registry


def test_session_window_streaming_matches_batch(spark, sf_dir):
    """I3 parity: the streaming session_window run (append + watermark) must
    produce a subset of batch sessions, equal on all finalized sessions."""
    from cobradb_spark.operators.streams import (
        events_stream_dir,
        read_events_stream,
        run_to_memory,
    )

    batch = registry.get_query("stream_session_window").fn(spark, sf_dir)
    batch_rows = {
        (r.user_id, r.session_start, r.n_events) for r in batch.collect()
    }
    ev = read_events_stream(spark, events_stream_dir(sf_dir))
    stream = (
        ev.withWatermark("ts", "1 minute")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in run_to_memory(stream, "append").collect()
    }
    assert got  # at least the early sessions finalize
    assert got <= batch_rows


def test_watermark_drops_late_row(spark):
    """mini_late_events (FIXTURES §3): one row > watermark behind max(ts)
    must be dropped, on-time rows kept."""
    from cobradb_spark.operators.streams import read_events_stream, run_to_memory

    tmp = tempfile.mkdtemp(prefix="late_micro_")
    os.makedirs(f"{tmp}/src")

    def ns(s: str) -> int:
        return int(datetime.fromisoformat(s).timestamp() * 1_000_000_000)

    def write_batch(rows, name):
        df = spark.createDataFrame(
            [(i, ns(t), u, "x", 1.0, "{}") for i, t, u in rows],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(f"{tmp}/stage")
        part = [f for f in os.listdir(f"{tmp}/stage") if f.endswith(".parquet")][0]
        os.rename(f"{tmp}/stage/{part}", f"{tmp}/src/{name}.parquet")

    write_batch(
        [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 12:00:00", 1)], "b1"
    )  # watermark after b1: 12:00 - 10min = 11:50

    def add_batch2():
        write_batch(
            [(3, "2024-01-01 10:30:00", 1),   # late: < 11:50 -> dropped
             (4, "2024-01-01 12:30:00", 1)],  # on time
            "b2",
        )

    ev = read_events_stream(spark, f"{tmp}/src")
    dedup = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    ).select("event_id")
    out = run_to_memory(dedup, "append", process_batches=[add_batch2])
    ids = {r.event_id for r in out.collect()}
    assert 4 in ids and 1 in ids and 2 in ids
    assert 3 not in ids  # the late row was dropped


def test_stateful_sessionize_survives_batch_boundary(spark):
    """A session whose events straddle two micro-batches must be emitted
    ONCE, with bounds spanning both batches; a cross-batch gap must close
    the open session carried in state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from cobradb_spark.operators.streams import read_events_stream, run_to_memory
    from cobradb_spark.queries.streaming import stream_sessionize_stateful  # noqa: F401

    tmp = tempfile.mkdtemp(prefix="sess_micro_")
    os.makedirs(f"{tmp}/src")

    def ns(s: str) -> int:
        return int(datetime.fromisoformat(s).timestamp() * 1_000_000_000)

    def write_batch(rows, name):
        df = spark.createDataFrame(
            [(i, ns(t), u, "x", 1.0, "{}") for i, t, u in rows],
            "event_id long, ts long, user_id long, event_type string, value double, props string",
        ).coalesce(1)
        df.write.mode("overwrite").parquet(f"{tmp}/stage")
        part = [f for f in os.listdir(f"{tmp}/stage") if f.endswith(".parquet")][0]
        os.rename(f"{tmp}/stage/{part}", f"{tmp}/src/{name}.parquet")

    # batch1: two events 10 min apart (one open session)
    write_batch([(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:10:00", 1)], "b1")

    def add_batch2():
        # 10:20 continues the session across the boundary; 12:00 is >30min
        # later -> closes it, leaving a new open session
        write_batch([(3, "2024-01-01 10:20:00", 1), (4, "2024-01-01 12:00:00", 1)], "b2")

    # rebuild the same stateful pipeline as the registered query, but over
    # this 2-batch source (the registered fn owns its own source dir)
    GAP_US = 30 * 60 * 1_000_000

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64").tolist()
        if ts_us and ts_us[0] > 10**16:
            ts_us = [t // 1000 for t in ts_us]
        if state.exists:
            sess_no, start_us, last_us, n = state.get
        else:
            sess_no, start_us, last_us, n = 0, None, None, 0
        out = []
        for t in ts_us:
            if start_us is None:
                sess_no, start_us, last_us, n = 1, t, t, 1
            elif t - last_us > GAP_US:
                out.append((sess_no, start_us, last_us, n))
                sess_no, start_us, last_us, n = sess_no + 1, t, t, 1
            else:
                last_us, n = t, n + 1
        state.update((sess_no, start_us, last_us, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "session_no": [o[0] for o in out],
                "start_us": [o[1] for o in out],
                "end_us": [o[2] for o in out],
                "n_events": [o[3] for o in out],
            }
        )

    ev = read_events_stream(spark, f"{tmp}/src").select("user_id", "ts", "event_id")
    sdf = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, session_no long, start_us long, end_us long, n_events long",
        stateStructType="sess_no long, start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(sdf, "append", process_batches=[add_batch2]).collect()
    closed = [(r.session_no, r.n_events) for r in out]
    # exactly one closed session: events 1-3 (3 events), bounds 10:00-10:20
    assert closed == [(1, 3)]
    r = out[0]
    assert (r.end_us - r.start_us) == 20 * 60 * 1_000_000


def test_available_now_checkpoint_resume(spark):
    """Incremental processing across restarts: Trigger.AvailableNow drains
    what exists, checkpoints offsets, stops; after new files land, a
    SECOND start with the SAME checkpoint processes ONLY the delta, and
    the cumulative complete-mode result equals the all-data batch agg."""
    import pandas as pd

    root = tempfile.mkdtemp(prefix="cobradb_avnow_")
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src)

    def land(name, rows):
        pd.DataFrame(rows, columns=["user_id", "v"]).to_parquet(
            os.path.join(src, name)
        )

    land("a.parquet", [(1, 10), (1, 5), (2, 7)])
    land("b.parquet", [(2, 1), (3, 2)])

    schema = "user_id bigint, v bigint"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .groupBy("user_id")
            .agg(F.sum("v").alias("total"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("avnow")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.user_id, r.total) for r in spark.sql("SELECT * FROM avnow").collect()
        }

    first = run_once()
    assert first == {(1, 15), (2, 8), (3, 2)}

    land("c.parquet", [(1, 100), (4, 4)])
    second = run_once()
    assert second == {(1, 115), (2, 8), (3, 2), (4, 4)}


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: a synthetically skewed shuffle join, run
    with aggressive skew thresholds, must show AQEShuffleRead with
    skewed-partition splits in the final adaptive plan."""
    import pandas as pd

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import hashlib

        # one hot key carrying ~90% of fact rows; incompressible payload so
        # the hot partition's SHUFFLE BYTES (post-lz4) actually trip the
        # threshold — a constant pad compresses away and defeats detection
        fact = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": [1] * 20000 + list(range(2, 2002)),
                    "pad": [
                        hashlib.md5(str(i).encode()).hexdigest() * 4
                        for i in range(22000)
                    ],
                }
            )
        )
        dim = spark.createDataFrame(
            pd.DataFrame({"k": list(range(1, 2002)), "name": ["d"] * 2001})
        )
        joined = fact.join(dim.hint("shuffle_hash"), "k")
        # collect() finalizes THIS frame's adaptive plan (count() would
        # execute a different plan tree and leave this one non-final)
        assert len(joined.collect()) == 22000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "join did not mark skew handling"
        assert "skewed" in plan, "expected skew-split AQEShuffleRead"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The RocksDB state store provider — the 100 TB answer to streaming
    state larger than executor memory (state lives on local disk with
    changelog checkpointing, not in the JVM heap) — must produce results
    identical to the default HDFS-backed provider for both a stateful
    aggregate and an applyInPandasWithState custom operator."""
    from pyspark.sql import functions as F

    from cobradb_spark import registry
    from cobradb_spark.operators.streams import (
        events_stream_dir,
        read_events_stream,
        run_to_memory,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )

    def hourly_counts():
        ev = read_events_stream(spark, events_stream_dir(sf_dir))
        agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
            F.count("*").alias("n")
        )
        out = run_to_memory(
            agg.select(F.col("window.start").alias("h"), "event_type", "n"),
            "complete",
        )
        return {(r.h, r.event_type): r.n for r in out.collect()}

    old = spark.conf.get(key, None)
    try:
        default_res = hourly_counts()
        spark.conf.set(key, rocks)
        rocks_res = hourly_counts()
        # custom stateful operator under RocksDB too
        stateful = registry.get_query("stream_stateful_counts").fn(spark, sf_dir)
        assert stateful.count() > 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert default_res == rocks_res and len(default_res) > 0


def test_stage_parquet_batch_moves_every_part(spark, tmp_path):
    """Multi-partition staging writes must land ALL part files in the
    stream source dir (round-3 ADVICE: moving only part[0] silently
    dropped the other partitions' rows)."""
    from cobradb_spark.operators.streams import stage_parquet_batch

    df = spark.range(10_000).repartition(8).withColumnRenamed("id", "v")
    src = str(tmp_path / "src")
    n_parts = stage_parquet_batch(df, src, "b1")
    assert n_parts == 8
    import os

    staged = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(staged) == 8
    back = spark.read.parquet(src)
    assert back.count() == 10_000
    assert back.agg({"v": "sum"}).first()[0] == 10_000 * 9_999 // 2


def test_stage_parquet_batch_atomic_single_file(spark, tmp_path):
    """atomic=True must land the whole batch as ONE part file (single
    atomic rename — round-4 ADVICE: in-flight staging under the ASAP
    trigger must never be listable as a partial set)."""
    from cobradb_spark.operators.streams import stage_parquet_batch

    df = spark.range(5_000).repartition(8).withColumnRenamed("id", "v")
    src = str(tmp_path / "src")
    n_parts = stage_parquet_batch(df, src, "b1", atomic=True)
    assert n_parts == 1
    import os

    staged = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert staged == ["b1_0.parquet"]
    assert not [f for f in os.listdir(src) if f.startswith(".")]  # no leftovers
    assert spark.read.parquet(src).count() == 5_000


def test_state_store_read_matches_batch_truth(spark, sf_dir):
    """The statestore batch reader must expose the checkpointed keyed
    state exactly equal to the batch aggregation over the same input —
    per key, not just in aggregate."""
    from pyspark.sql import functions as F

    from cobradb_spark import registry

    got = {
        r.user_id: (r.n, r.cents)
        for r in registry.get_query("stream_state_store_read")
        .fn(spark, sf_dir)
        .collect()
    }
    truth = {
        r.user_id: (r.n, r.cents)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == truth


def test_unload_state_stores_idempotent_and_rerunnable(spark, sf_dir):
    """unload_state_stores drops only the provider CACHE: calling it
    repeatedly (and between queries) must never error, and a stateful
    query must produce identical results immediately after an unload —
    state always reloads from the checkpoint on next access."""
    from cobradb_spark.operators.streams import unload_state_stores

    unload_state_stores(spark)
    unload_state_stores(spark)  # idempotent
    fn = registry.get_query("stream_tumbling_agg").fn
    first = fn(spark, sf_dir).collect()
    unload_state_stores(spark)
    second = fn(spark, sf_dir).collect()
    assert sorted(first) == sorted(second)
    assert len(first) > 0


def test_replay_leaves_no_sink_view(spark, sf_dir):
    """run_to_memory drops its memory-sink view once the result frame is
    resolved: the frame still collects, and no stream_sink_* view is left
    in the session catalog to hold every replay's output."""
    rows = registry.get_query("stream_sessionize_stateful").fn(spark, sf_dir).collect()
    assert rows
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_sink_")]
    assert views == []
