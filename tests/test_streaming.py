"""Structured Streaming tests: drain the sf0.001 events through a
file-source stream with availableNow and check stream results equal
the same transformation run in batch (the batch/stream symmetry
contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_delay_prediction_using_pyspark_spark.sources.readers import load_events
from flight_delay_prediction_using_pyspark_spark.streaming import ops as S
from tests.conftest import SF_SMOKE_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-written micro-timestamped into a parquet DIRECTORY
    (file-source streams need a directory; the testdata single file
    also carries TIMESTAMP(NANOS), which streaming readers reject)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    load_events(spark, SF_SMOKE_DIR).repartition(4).write.parquet(path)
    return path


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    stream = S.windowed_event_counts(S.stream_events(spark, events_dir))
    S.run_to_memory_sink(stream, "win_counts", output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in S.windowed_event_counts(spark.read.parquet(events_dir)).collect()
    }
    assert got.keys() == batch.keys() and len(got) > 0
    for k, (n, s) in batch.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(s)


def test_session_window_agg_batch(spark, events_dir):
    sessions = S.session_window_agg(spark.read.parquet(events_dir), gap="5 minutes")
    rows = sessions.collect()
    assert len(rows) > 0
    by_user = sessions.groupBy("user_id").agg(F.sum("n_events").alias("n")).collect()
    totals = {r.user_id: r.n for r in by_user}
    raw = {
        r.user_id: r.n
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert totals == raw  # sessions partition each user's events exactly


def test_running_user_totals_stateful(spark, events_dir):
    stream = S.running_user_totals(S.stream_events(spark, events_dir))
    S.run_to_memory_sink(stream, "running_totals", output_mode="update")
    # update mode with one availableNow pass may emit multiple rows per
    # user (one per micro-batch); the LAST emission carries the final
    # running totals — compare maxima against batch ground truth
    got = (
        spark.table("running_totals")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    )
    raw = {
        r.user_id: r.n
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.user_id: r.n for r in got} == raw


def test_stream_to_parquet_sink_with_checkpoint(spark, events_dir, tmp_path):
    """Production sink shape: writeStream → parquet + checkpoint dir,
    availableNow trigger; output rows equal the batch equivalent and a
    checkpoint directory is laid down (restart-safe offsets)."""
    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "ckpt")
    stream = S.windowed_event_counts(S.stream_events(spark, events_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    assert os.path.isdir(ckpt) and os.listdir(ckpt)
    # append mode emits only watermark-closed windows; every emitted
    # row must match the batch computation exactly
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in S.windowed_event_counts(spark.read.parquet(events_dir)).collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert batch[k][0] == v[0]


def test_streaming_dedup_stateful(spark, events_dir, tmp_path):
    """Custom stateful streaming dedup: duplicate (user, hash) rows
    collapse to first-seen; survivors equal the batch distinct set."""
    from pyspark.sql import functions as F2

    # derive a content hash with heavy collisions so dedup has work
    hashed_dir = str(tmp_path / "hashed")
    (
        spark.read.parquet(events_dir)
        .select(
            "event_id",
            "user_id",
            (F2.col("value").cast("long") % 5).alias("content_hash"),
        )
        .write.parquet(hashed_dir)
    )
    schema = "event_id long, user_id long, content_hash long"
    stream = spark.readStream.schema(schema).parquet(hashed_dir)
    out = S.streaming_dedup(stream)
    S.run_to_memory_sink(out, "dedup_out", output_mode="append")
    got = spark.table("dedup_out")
    # one emitted row per distinct (user, hash)
    batch_distinct = (
        spark.read.parquet(hashed_dir).select("user_id", "content_hash").distinct()
    )
    assert got.count() == batch_distinct.count()
    assert got.select("user_id", "content_hash").distinct().count() == got.count()
    # emitted event_ids are a subset of the input's
    in_ids = {r.event_id for r in spark.read.parquet(hashed_dir).collect()}
    assert {r.event_id for r in got.collect()} <= in_ids


def test_streaming_dedup_ttl_evicts_state(spark, tmp_path):
    """With an event-time TTL, a key's hash-set state is evicted once
    the watermark passes its last activity + TTL, so the same
    (key, hash) re-emits on a later re-arrival — bounded state,
    at-least-once dedup. Without the TTL the duplicate is suppressed
    forever."""
    import datetime as dt
    import os
    import time

    src = tmp_path / "ttl_src"
    src.mkdir()
    schema = "event_id long, user_id long, content_hash long, event_time timestamp"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    h = dt.timedelta(hours=1)
    # TTL = 30 min. Batch k's data advances the watermark seen by
    # batch k+1, so: f1 seeds key 1; f2 (t0+2h) pushes the watermark
    # past key 1's t0+30min horizon; f3's batch processes that
    # timeout (evicting key 1) while its filler key keeps the files
    # distinct; f4 re-delivers (1, 7) onto empty state -> re-emitted.
    frames = [
        [(100, 1, 7, t0)],
        [(200, 2, 9, t0 + 2 * h)],
        [(300, 3, 5, t0 + 2 * h + dt.timedelta(minutes=1))],
        [(400, 1, 7, t0 + 2 * h + dt.timedelta(minutes=2))],
    ]
    for i, rows in enumerate(frames):
        path = str(src / f"f{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        # distinct ascending mtimes pin the file pickup order
        mtime = time.time() - 50 + i * 10
        for root, _, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))

    def run(name: str, ttl_ms: int | None) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)  # one file per micro-batch
            .parquet(str(src / "*"))
            .withWatermark("event_time", "0 seconds")
        )
        out = S.streaming_dedup(stream, state_ttl_ms=ttl_ms)
        S.run_to_memory_sink(out, name, output_mode="append")

    run("dedup_ttl_out", 30 * 60 * 1000)
    # (1, 7) emitted twice: once per arrival, state evicted in between
    assert spark.table("dedup_ttl_out").filter(
        "user_id = 1 AND content_hash = 7"
    ).count() == 2
    # the no-TTL operator on the same input collapses it to one row
    run("dedup_nottl_out", None)
    assert spark.table("dedup_nottl_out").filter(
        "user_id = 1 AND content_hash = 7"
    ).count() == 1


def test_cdc_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Partition-pruned CDC merge: a batch touching one key rewrites
    only that key's hash-bucket partition; every other bucket's files
    survive byte-for-byte (same paths, same mtimes)."""
    import hashlib
    import os

    def bucket_of(user_id: int, n: int = 16) -> int:
        return int(hashlib.md5(str(user_id).encode()).hexdigest()[:8], 16) % n

    target = str(tmp_path / "bucketed_target")
    seed = spark.createDataFrame(
        [(u, 10 + u, "seed") for u in range(1, 41)],
        "user_id long, event_id long, event_type string",
    )
    src1 = tmp_path / "cdc_b1"
    seed.coalesce(1).write.parquet(str(src1))
    stream1 = spark.readStream.schema(
        "user_id long, event_id long, event_type string"
    ).parquet(str(src1))
    S.cdc_merge_sink(stream1, target, key_cols=["user_id"], order_col="event_id")

    def file_mtimes() -> dict[str, float]:
        out = {}
        for root, _, files in os.walk(target):
            for fn in files:
                p = os.path.join(root, fn)
                out[p] = os.path.getmtime(p)
        return out

    before = file_mtimes()
    upsert_key = 1
    src2 = tmp_path / "cdc_b2"
    spark.createDataFrame(
        [(upsert_key, 99, "upd")], "user_id long, event_id long, event_type string"
    ).coalesce(1).write.parquet(str(src2))
    stream2 = spark.readStream.schema(
        "user_id long, event_id long, event_type string"
    ).parquet(str(src2))
    S.cdc_merge_sink(stream2, target, key_cols=["user_id"], order_col="event_id")

    after = file_mtimes()
    touched = f"__bucket={bucket_of(upsert_key)}"
    untouched_before = {p: m for p, m in before.items() if touched not in p}
    for p, m in untouched_before.items():
        assert p in after and after[p] == m, f"untouched file rewritten: {p}"
    # merge semantics still hold
    got = {
        r.user_id: (r.event_id, r.event_type)
        for r in spark.read.parquet(target).drop("__bucket").collect()
    }
    assert got[upsert_key] == (99, "upd")
    assert got[2] == (12, "seed") and len(got) == 40


def test_cdc_merge_sink_upserts_across_batches(spark, tmp_path):
    """foreachBatch CDC merge: two micro-batches upsert the same keys;
    the target ends with exactly the highest-order row per key."""
    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b")], "user_id long, event_id long, event_type string"
    )
    b2 = spark.createDataFrame(
        [(1, 20, "c"), (3, 12, "d")], "user_id long, event_id long, event_type string"
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(str(src / "*"))
    )
    target = str(tmp_path / "target")
    S.cdc_merge_sink(
        stream,
        target,
        key_cols=["user_id"],
        order_col="event_id",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r.user_id: (r.event_id, r.event_type)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {1: (20, "c"), 2: (11, "b"), 3: (12, "d")}



def test_manifest_sink_replay_is_idempotent(spark, tmp_path):
    """Re-delivering an already-committed batch id (foreachBatch's
    at-least-once contract) must not duplicate rows."""
    from flight_delay_prediction_using_pyspark_spark.streaming import ops as S

    target = str(tmp_path / "eos")
    df = spark.range(10).select(F.col("id"))
    S.commit_batch_to_manifest(df, 0, target)
    before = S.read_manifest_parquet(spark, target).count()
    S.commit_batch_to_manifest(df, 0, target)  # replay
    assert S.read_manifest_parquet(spark, target).count() == before == 10


def test_manifest_sink_uncommitted_invisible(spark, tmp_path):
    """Data written without its commit file (crash before the atomic
    rename) must be invisible to the reader; a later replay of the
    same id overwrites and commits it."""
    from flight_delay_prediction_using_pyspark_spark.streaming import ops as S

    target = str(tmp_path / "eos")
    S.commit_batch_to_manifest(spark.range(5), 0, target)
    # simulate a crashed batch 1: data lands, commit never happens
    crashed = str(tmp_path / "eos/data/batch=1")
    spark.range(100).write.mode("overwrite").parquet(crashed)
    assert S.read_manifest_parquet(spark, target).count() == 5
    # replay of batch 1 overwrites the dead files and commits
    S.commit_batch_to_manifest(spark.range(7), 1, target)
    assert S.read_manifest_parquet(spark, target).count() == 12


def test_manifest_null_stats_batch_kept_not_crashed(spark, tmp_path):
    """Round-7 ADVICE: a batch whose stats column is entirely null (or
    an empty batch) must commit WITHOUT a stats envelope, and a
    `between` read must conservatively KEEP it rather than evaluate
    `None <= hi`. Also covers the legacy on-disk format: a commit file
    carrying explicit null min/max is treated as stats-absent."""
    import json
    import os

    from flight_delay_prediction_using_pyspark_spark.streaming import ops as S

    target = str(tmp_path / "nullstats")
    all_null = spark.range(3).select(
        F.col("id"), F.lit(None).cast("long").alias("v")
    )
    S.commit_batch_to_manifest(all_null, 0, target, stats_col="v")
    with open(str(tmp_path / "nullstats/manifest/0.commit")) as fh:
        assert "stats" not in json.loads(fh.readline())
    # empty batch: also commits stats-free, no crash
    S.commit_batch_to_manifest(all_null.limit(0), 1, target, stats_col="v")
    # legacy commit with explicit null envelope (pre-fix writer)
    data2 = str(tmp_path / "nullstats/data/batch=2")
    spark.range(4).select(F.col("id"), F.col("id").alias("v")).write.parquet(data2)
    with open(str(tmp_path / "nullstats/manifest/2.commit"), "w") as fh:
        fh.write(
            json.dumps({"batch": 2, "stats": {"col": "v", "min": None, "max": None}})
            + "\n"
        )
    out = S.read_manifest_parquet(spark, target, between=(100, 200))
    # batches 0 and 2 have no usable envelope -> kept (7 rows); the
    # empty batch contributes nothing either way.
    assert out.count() == 7
    assert os.path.isdir(str(tmp_path / "nullstats/data/batch=1"))


def test_manifest_all_pruned_schema_from_committed_batch(spark, tmp_path):
    """When every batch's envelope is disjoint from [lo, hi], the
    empty result's schema must come from a COMMITTED batch directory —
    never from listing the data tree, which may hold a crashed write's
    uncommitted (even empty/partial) directory."""
    import os

    from flight_delay_prediction_using_pyspark_spark.streaming import ops as S

    target = str(tmp_path / "pruned")
    df = spark.range(5).select(F.col("id"), (F.col("id") * 10).alias("v"))
    S.commit_batch_to_manifest(df, 10, target, stats_col="v")
    # crashed uncommitted batch whose dir sorts lexicographically FIRST
    # ('batch=0' < 'batch=10') and is empty — the old listdir fallback
    # would try to read parquet from it and fail.
    os.makedirs(str(tmp_path / "pruned/data/batch=0"))
    out = S.read_manifest_parquet(spark, target, between=(1000, 2000))
    assert out.count() == 0
    assert out.columns == ["id", "v"]


def test_manifest_stats_describe_written_files(spark, tmp_path):
    """Round-7 ADVICE: the recorded envelope must describe the data
    actually WRITTEN, not a re-evaluation of a possibly
    non-deterministic batch lineage. A nondeterministic expression
    (rand-derived column) must yield an envelope that prunes
    consistently with the rows on disk."""
    import json

    from flight_delay_prediction_using_pyspark_spark.streaming import ops as S

    target = str(tmp_path / "nondet")
    nondet = spark.range(50).select(
        F.col("id"), (F.rand(seed=None) * 1000).cast("long").alias("v")
    )
    S.commit_batch_to_manifest(nondet, 0, target, stats_col="v")
    with open(str(tmp_path / "nondet/manifest/0.commit")) as fh:
        stats = json.loads(fh.readline())["stats"]
    on_disk = (
        spark.read.parquet(str(tmp_path / "nondet/data/batch=0"))
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .first()
    )
    assert stats["min"] == on_disk["mn"] and stats["max"] == on_disk["mx"]
    # a between window inside the written envelope keeps the batch
    kept = S.read_manifest_parquet(
        spark, target, between=(on_disk["mn"], on_disk["mn"])
    )
    assert kept.count() == 50


def test_cdc_merge_tombstones_delete_keys_and_empty_buckets(spark, tmp_path):
    """Tombstone semantics across batches: a later delete removes the
    key; a later upsert resurrects it; an out-of-order (stale) delete
    loses to the newer upsert; and a bucket whose only key is deleted
    disappears from the target directory entirely."""
    import hashlib
    import os

    schema = "user_id long, event_id long, event_type string, op string"
    target = str(tmp_path / "cdc_del_target")

    # batch 1: keys 1..4 upserted
    src1 = tmp_path / "del_b1"
    spark.createDataFrame(
        [(u, 10 + u, "seed", "U") for u in (1, 2, 3, 4)], schema
    ).coalesce(1).write.parquet(str(src1))
    s1 = spark.readStream.schema(schema).parquet(str(src1))
    S.cdc_merge_sink(s1, target, key_cols=["user_id"], order_col="event_id", op_col="op")
    assert {
        r.user_id for r in spark.read.parquet(target).collect()
    } == {1, 2, 3, 4}

    # batch 2: delete key 2 (newer), stale delete for key 3 (older than
    # its upsert), upsert key 1 again
    src2 = tmp_path / "del_b2"
    spark.createDataFrame(
        [(2, 100, "x", "D"), (3, 1, "x", "D"), (1, 101, "upd", "U")], schema
    ).coalesce(1).write.parquet(str(src2))
    s2 = spark.readStream.schema(schema).parquet(str(src2))
    S.cdc_merge_sink(s2, target, key_cols=["user_id"], order_col="event_id", op_col="op")
    rows = {r.user_id: r for r in spark.read.parquet(target).collect()}
    assert set(rows) == {1, 3, 4}          # 2 deleted; stale delete of 3 lost
    assert rows[1].event_type == "upd"

    # key 2's bucket dir is gone iff no other surviving key shares it
    def bucket_of(user_id: int, n: int = 16) -> int:
        return int(hashlib.md5(str(user_id).encode()).hexdigest()[:8], 16) % n

    b2 = bucket_of(2)
    sharing = {u for u in (1, 3, 4) if bucket_of(u) == b2}
    dir2 = os.path.join(target, f"__bucket={b2}")
    if not sharing:
        assert not os.path.isdir(dir2)

    # batch 3: resurrect key 2 with a newer upsert
    src3 = tmp_path / "del_b3"
    spark.createDataFrame([(2, 200, "back", "U")], schema).coalesce(1).write.parquet(
        str(src3)
    )
    s3 = spark.readStream.schema(schema).parquet(str(src3))
    S.cdc_merge_sink(s3, target, key_cols=["user_id"], order_col="event_id", op_col="op")
    rows = {r.user_id: r.event_type for r in spark.read.parquet(target).collect()}
    assert rows[2] == "back" and set(rows) == {1, 2, 3, 4}


def test_manifest_time_travel_prefix_reads(spark, tmp_path):
    """VERSION AS OF must read exactly the committed prefix: version
    0 sees batch 0 only, version 1 adds batch 1, latest == as_of of
    the last id, and a version before any commit raises."""
    import pytest as _pytest

    from flight_delay_prediction_using_pyspark_spark.streaming.ops import (
        commit_batch_to_manifest,
        read_manifest_parquet,
    )

    target = str(tmp_path / "tt")
    for b, vals in enumerate([[1, 2], [3], [4, 5, 6]]):
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        commit_batch_to_manifest(df, b, target)
    seen = {
        v: sorted(r.x for r in read_manifest_parquet(spark, target, as_of=v).collect())
        for v in (0, 1, 2)
    }
    assert seen == {0: [1, 2], 1: [1, 2, 3], 2: [1, 2, 3, 4, 5, 6]}
    latest = sorted(r.x for r in read_manifest_parquet(spark, target).collect())
    assert latest == seen[2]
    with _pytest.raises(ValueError):
        read_manifest_parquet(spark, target, as_of=-1)


def test_manifest_stats_pruning_reader(spark, tmp_path):
    """`between` pruning: disjoint-envelope batches are dropped from
    the scan list, stats-less batches are conservatively kept, and a
    fully-disjoint range returns an empty frame with the right
    schema."""
    from flight_delay_prediction_using_pyspark_spark.streaming.ops import (
        commit_batch_to_manifest,
        read_manifest_parquet,
    )

    target = str(tmp_path / "sp")
    for b, vals in enumerate([[1, 2, 3], [10, 11], [20, 25]]):
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        commit_batch_to_manifest(df, b, target, stats_col="x")
    # stats-less batch: must never be pruned
    commit_batch_to_manifest(
        spark.createDataFrame([(99,)], "x long"), 3, target
    )
    got = sorted(
        r.x for r in read_manifest_parquet(spark, target, between=(10, 12)).collect()
    )
    assert got == [10, 11, 99]  # batch 1 matched, stats-less kept
    empty = read_manifest_parquet(spark, target, between=(4, 9))
    # batches 0/1/2 disjoint; the stats-less batch is kept
    assert sorted(r.x for r in empty.collect()) == [99]
    # fully-disjoint WITH no stats-less batches -> empty frame, schema kept
    target2 = str(tmp_path / "sp3")
    commit_batch_to_manifest(
        spark.createDataFrame([(1,), (2,)], "x long"), 0, target2, stats_col="x"
    )
    out = read_manifest_parquet(spark, target2, between=(100, 200))
    assert out.columns == ["x"] and out.count() == 0


def test_priority_sample_sink_batching_independent(spark, tmp_path):
    """The streaming DLT reservoir (priority_sample_sink) must land on
    the SAME k+1 rows whatever the micro-batching: top-m selection is
    associative, so 1-file-per-batch and everything-in-one-batch runs
    agree row-for-row (keys, weights, priorities, and hence τ)."""
    rows = [(i, 1 + (i * 7) % 40) for i in range(300)]
    src = spark.createDataFrame(rows, "key long, w long")

    def run(n_files: int, tag: str):
        stage = str(tmp_path / f"src_{tag}")
        src.withColumn("part", F.col("key") % n_files).repartition(
            "part"
        ).write.partitionBy("part").parquet(stage)
        state = str(tmp_path / f"state_{tag}")
        stream = (
            spark.readStream.schema("key long, w long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/part=*")
        )
        n = S.priority_sample_sink(stream, state, "key", "w", k=12)
        out = sorted(
            (r.key, r.w, r.priority)
            for r in spark.read.parquet(state).collect()
        )
        return n, out

    n_multi, multi = run(5, "multi")
    n_single, single = run(1, "single")
    assert n_multi >= 2, "multi-file run must exercise the merge path"
    assert n_single == 1
    assert multi == single  # bit-identical reservoir incl. priorities
    assert len(multi) == 13  # k + 1 (the τ carrier)


def test_priority_sample_sink_fractional_weights(spark, tmp_path):
    """Round-9 ADVICE regression: the persisted reservoir's w must be
    the SAME value the priority was derived from — for a fractional
    weight column the old cast('long') stored a truncated w that
    disagreed with the membership/τ decision. Assert w survives as
    the exact fractional double and priority == w / u for that w."""
    rows = [(i, (i % 7) + 0.25) for i in range(1, 121)]
    src = spark.createDataFrame(rows, "key long, w double")
    stage = str(tmp_path / "frac_src")
    src.withColumn("part", F.col("key") % 3).repartition(
        "part"
    ).write.partitionBy("part").parquet(stage)
    state = str(tmp_path / "frac_state")
    stream = (
        spark.readStream.schema("key long, w double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stage}/part=*")
    )
    n = S.priority_sample_sink(stream, state, "key", "w", k=10)
    assert n >= 2
    got = spark.read.parquet(state).collect()
    assert len(got) == 11
    expect_w = dict(rows)
    for r in got:
        assert r.w == expect_w[r.key]  # exact fractional double kept
        # priority was derived from the SAME w (w/u with u in (0,1])
        assert r.priority >= r.w


def test_priority_sample_sink_crash_recovery(spark, tmp_path):
    """Round-10 ADVICE (medium): a crash exactly between
    rename(state->old) and rename(tmp->state) leaves state_dir absent
    with the survivors in `.old` / a complete `.tmp`. The next sink
    run must RECOVER the survivor instead of reading "no state" and
    rmtree-ing both copies (which silently reset the reservoir).
    Simulates both crash points and asserts the recovered reservoir
    equals the uninterrupted run's."""
    import os
    import shutil

    rows = [(i, 1 + (i * 7) % 40) for i in range(300)]
    src = spark.createDataFrame(rows, "key long, w long")

    def stage_stream(tag: str, part_filter=None):
        stage = str(tmp_path / f"crash_src_{tag}")
        df = src
        if part_filter is not None:
            df = df.filter(part_filter)
        df.withColumn("part", F.col("key") % 3).repartition(
            "part"
        ).write.partitionBy("part").parquet(stage)
        return (
            spark.readStream.schema("key long, w long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stage}/part=*")
        )

    # ground truth: uninterrupted run over the full stream
    truth_state = str(tmp_path / "truth_state")
    S.priority_sample_sink(stage_stream("truth"), truth_state, "key", "w", k=12)
    truth = sorted(
        (r.key, r.w, r.priority) for r in spark.read.parquet(truth_state).collect()
    )

    for crash in ("old_only", "tmp_complete"):
        # phase 1: first half of the stream establishes state
        state = str(tmp_path / f"crash_state_{crash}")
        S.priority_sample_sink(
            stage_stream(f"{crash}_p1", F.col("key") < 150), state, "key", "w", k=12
        )
        assert os.path.isdir(state)
        if crash == "old_only":
            # crash after rename(state->old), before tmp was written
            os.rename(state, f"{state}.old")
        else:
            # crash between the two renames: complete tmp + old both
            # present, state absent — recovery must prefer tmp (newer)
            shutil.copytree(state, f"{state}.tmp")
            os.rename(state, f"{state}.old")
        # phase 2: rest of the stream — must merge with the RECOVERED
        # reservoir, not start from empty
        S.priority_sample_sink(
            stage_stream(f"{crash}_p2", F.col("key") >= 150), state, "key", "w", k=12
        )
        got = sorted(
            (r.key, r.w, r.priority) for r in spark.read.parquet(state).collect()
        )
        assert got == truth, f"crash point {crash}: reservoir reset"
        assert not os.path.exists(f"{state}.old")
        assert not os.path.exists(f"{state}.tmp")


def test_streaming_dedup_query_reads_every_file_of_a_directory_table(spark, tmp_path):
    """The catalog's stream sources stage each data file of a table:
    events written as a directory of 4 files streams the same answer
    as the single-file table (a link to the directory streamed none)."""
    import os

    import pyarrow.parquet as pq

    from flight_delay_prediction_using_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_CORRECTNESS_DIR

    events = pq.read_table(f"{SF_CORRECTNESS_DIR}/events.parquet")
    table_dir = tmp_path / "events.parquet"
    os.makedirs(table_dir)
    step = -(-events.num_rows // 4)
    for i in range(4):
        pq.write_table(
            events.slice(i * step, step), str(table_dir / f"part-{i:05d}.parquet")
        )
    assert len(os.listdir(table_dir)) == 4

    query = QUERIES["events_streaming_dedup"]
    single = sorted(map(tuple, query(spark, SF_CORRECTNESS_DIR).collect()))
    sharded = sorted(map(tuple, query(spark, str(tmp_path)).collect()))
    assert len(single) > 0
    assert sharded == single
