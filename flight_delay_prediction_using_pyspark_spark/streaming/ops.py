"""Structured Streaming operators over the events table shape.

Batch/stream symmetry is the design rule: every transformation here
takes a DataFrame (batch OR streaming — Spark's unified API) and
returns one, so the same logic is testable in batch and deployable as
a stream. Sinks/triggers stay at the edges (`run_to_memory_sink` for
tests; production would writeStream to kafka/parquet with
checkpointing).

Scale notes: watermarks bound state (late data beyond the watermark
is dropped, state for closed windows is evicted); windowed aggs
shuffle by (window, key) exactly like batch groupBy; the stateful
operator keeps one GroupState per key — partitioned by key across
executors, spilling to the state store.

Events schema (TESTDATA.md): event_id long, ts timestamp, user_id
long, event_type string, value double, props string(json).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stage_table(sf_dir: str, name: str) -> str:
    """A new temp directory holding a symlink to every data file of the
    `<sf_dir>/<name>.parquet` table, which is one file or a directory
    of part files. A file stream source needs a directory and reads
    the files directly in it, so a link to the table directory itself
    would stream no rows. Callers may add more files (sentinels)."""
    src = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    stage = tempfile.mkdtemp(prefix=f"stage_{name}_")
    if not os.path.isdir(src):
        os.symlink(src, os.path.join(stage, f"{name}.parquet"))
        return stage
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            os.symlink(os.path.join(src, f), os.path.join(stage, f))
    return stage


def stream_events(spark: SparkSession, directory: str) -> DataFrame:
    """File-source stream over a parquet directory (explicit schema —
    streaming readers cannot infer). New files are discovered per
    micro-batch; `maxFilesPerTrigger` bounds batch size in
    production."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(directory)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate: counts + value sum per
    (window, event_type). Works identically on batch and streaming
    inputs; on a stream the watermark bounds state and admits
    `watermark`-late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows (gap-based) per user: built-in
    `session_window` — state merges adjacent events until a `gap`
    silence closes the session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, emitted once per micro-batch
    per updated user. The canonical shape for operators Spark lacks
    (counters, custom sessionization, CDC merge). The UDF closure is
    self-contained — executors never import this package."""

    def update(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory_sink(
    stream_df: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Drain a stream into an in-memory table with the availableNow
    trigger (process everything present, then stop) — the test/replay
    harness; production sinks swap in kafka/parquet + checkpoint."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("content_hash", T.LongType()),
    ]
)

_SEEN_STATE_SCHEMA = T.StructType([T.StructField("seen", T.ArrayType(T.LongType()))])


def streaming_dedup(
    events: DataFrame,
    key_col: str = "user_id",
    hash_col: str = "content_hash",
    state_ttl_ms: int | None = None,
    event_time_col: str = "event_time",
) -> DataFrame:
    """Ingest-time exact dedup as a custom stateful operator: per key,
    remember every content hash seen so far (GroupState) and emit only
    first-seen rows. The streaming half of text.dedup.dedup_exact —
    batch dedup cleans the corpus, this keeps duplicates from ever
    landing.

    State is the per-key hash set, key-partitioned across executors.
    `state_ttl_ms` bounds it with an EVENT-TIME timeout: a key's set
    is evicted once the stream's watermark passes the key's last event
    time + TTL, so state size is O(keys active in the TTL horizon)
    instead of O(all keys ever) — the 100 TB deployment setting when
    duplicates only repeat within a bounded window. Event time (not
    processing time) keeps eviction replay-deterministic and, with the
    availableNow trigger, lets the query terminate when the data is
    exhausted (a processing-time timeout keeps the engine running
    state-cleanup batches forever). A hash re-arriving after eviction
    is re-emitted — the standard at-least-once dedup trade-off; swap
    the set for a Bloom filter instead if the horizon must stay
    unbounded. With a TTL, `events` must carry a watermarked
    `event_time_col` (withWatermark before this operator).

    Default None keeps exact forever-state, where a single-batch
    (availableNow) run equals the batch
    `GROUP BY key, hash -> MIN(event_id)` oracle exactly.

    Emitted rows: (event_id, key, hash), one per hash on its first
    micro-batch, carrying the MIN event_id among that batch's rows for
    the hash — deterministic regardless of partition/file arrival
    order. The UDF closure is self-contained (no module globals)."""

    def dedup(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL expiry: the watermark passed this key's last
            # activity + TTL — evict its hash set entirely.
            state.remove()
            yield pd.DataFrame({"event_id": [], "user_id": [], "content_hash": []})
            return
        (seen_list,) = state.get if state.exists else ([],)
        seen = set(seen_list)
        fresh: dict[int, int] = {}  # hash -> min event_id this batch
        last_ms = None
        for pdf in batches:
            if state_ttl_ms is not None and len(pdf):
                batch_max = pdf[event_time_col].max()
                ms = int(batch_max.timestamp() * 1000)
                last_ms = ms if last_ms is None else max(last_ms, ms)
            for eid, h in zip(pdf["event_id"], pdf["content_hash"]):
                h = int(h)
                if h not in seen:
                    eid = int(eid)
                    if h not in fresh or eid < fresh[h]:
                        fresh[h] = eid
        seen.update(fresh)
        state.update((list(seen),))
        if state_ttl_ms is not None and last_ms is not None:
            # must stay ahead of the current watermark or Spark rejects
            # the timestamp; a key whose data is already late gets the
            # minimum legal horizon instead
            state.setTimeoutTimestamp(
                max(last_ms + state_ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            {
                "event_id": list(fresh.values()),
                "user_id": [key[0]] * len(fresh),
                "content_hash": list(fresh.keys()),
            }
        )

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(key_col).applyInPandasWithState(
        dedup,
        outputStructType=DEDUP_SCHEMA,
        stateStructType=_SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_sec", T.LongType()),
        T.StructField("end_sec", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)

_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def streaming_sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
    event_time_col: str = "event_time",
) -> DataFrame:
    """Custom emit-on-close sessionizer via applyInPandasWithState +
    EventTimeTimeout — the stateful shape `session_window` can't
    express when sessions must be EMITTED exactly once, when they
    close, with custom per-session accumulators.

    Per user: gaps-and-islands within (open state ∪ batch) sorted by
    second — a gap strictly greater than `gap_sec` closes a session
    and emits (start, end, n, integer-cent sum); the trailing open
    session stays in state with an event-time timeout at
    last + gap_sec, so the watermark passing that horizon closes and
    emits it with NO further data — replay-deterministic, and state
    is always exactly one open session per active user (bounded).
    `events` must be watermarked on `event_time_col` and carry
    (user_id, sec, cents). Integer seconds/cents keep every emitted
    value order-immune and oracle-exact."""

    def sessionize(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cols = ["user_id", "start_sec", "end_sec", "n_events", "sum_cents"]
        uid = key[0]
        if state.hasTimedOut:
            start, last, n, cents = state.get
            state.remove()
            yield pd.DataFrame([(uid, start, last, n, cents)], columns=cols)
            return
        pdf = pd.concat(list(batches), ignore_index=True)
        pdf = pdf.sort_values("sec", kind="mergesort")
        if state.exists:
            start, last, n, cents = state.get
        else:
            start = last = None
            n = cents = 0
        closed = []
        for sec, c in zip(pdf["sec"], pdf["cents"]):
            sec, c = int(sec), int(c)
            if start is None:
                start, last, n, cents = sec, sec, 1, c
            elif sec - last > gap_sec:
                closed.append((uid, start, last, n, cents))
                start, last, n, cents = sec, sec, 1, c
            else:
                last, n, cents = sec, n + 1, cents + c
        state.update((start, last, n, cents))
        state.setTimeoutTimestamp(
            max((last + gap_sec) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(closed, columns=cols)

    return events.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def cdc_merge_sink(
    stream_df: DataFrame,
    target_dir: str,
    key_cols: list[str],
    order_col: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    n_buckets: int = 16,
    op_col: str | None = None,
    delete_op: str = "D",
) -> None:
    """Streaming upsert (CDC merge) via foreachBatch: every micro-batch
    is merged into a parquet target keeping, per key, the row with the
    highest `order_col` (later micro-batch wins exact ties). This is
    the keyed-upsert half of a CDC pipeline; on Delta/Iceberg the body
    becomes a single MERGE INTO with identical semantics.

    `op_col` enables TOMBSTONES (the delete half): rows whose op is
    `delete_op` compete for per-key latest like any other change, and
    a key whose LATEST change is a delete is removed from the target —
    exactly Debezium/CDC last-writer-wins compaction semantics, and
    still batching-independent (max(order_col) per key is associative
    regardless of which op wins). A bucket whose survivors all vanish
    is deleted on the filesystem after the dynamic overwrite (dynamic
    mode cannot write an empty partition dir; on Delta/Iceberg the
    MERGE handles this atomically).

    The target is hash-partitioned on the key into `n_buckets`
    directories (`__bucket=<i>/`), and each merge batch rewrites ONLY
    the buckets its keys touch (dynamic partition overwrite): read
    target WHERE __bucket IN touched ∪ batch → window-dedup → overwrite
    those partition dirs. Merge cost is O(touched buckets), not
    O(target) — at 100 TB, n_buckets scales up so a batch touching few
    keys rewrites a small fraction of the table; untouched partition
    files are never read or rewritten. The per-bucket partition filter
    is partition-pruned at the scan (directory skip, no file I/O).

    Because max(order_col) per key is associative, the final target is
    independent of how rows were batched — which is what makes the
    operation oracle-checkable end-to-end. Readers should drop the
    internal `__bucket` partition column.

    The bucket function is md5-based (text.analysis.md5_hash32 shape,
    inlined here so executors don't import this package) —
    deterministic across sessions and engines, unlike F.hash whose
    seed is fixed but JVM-specific encodings make cross-engine
    reproducibility a non-goal."""
    import os

    from pyspark.sql import Window

    def bucket_col() -> Column:
        from flight_delay_prediction_using_pyspark_spark.operators.layout import md5_key_bucket

        return md5_key_bucket(key_cols, n_buckets).alias("__bucket")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        touched: list = []
        incoming = batch_df.withColumn("__bucket", bucket_col()).withColumn(
            "__src", F.lit(1)
        )
        if os.path.isdir(target_dir):
            # Touched-bucket list is at most n_buckets small integers —
            # safe to collect; it prunes the target scan to those
            # partition directories only.
            touched = [
                r[0] for r in incoming.select("__bucket").distinct().collect()
            ]
            existing = (
                spark.read.parquet(target_dir)
                .filter(F.col("__bucket").isin(touched))
                .withColumn("__src", F.lit(0))
            )
            allrows = existing.unionByName(incoming)
        else:
            allrows = incoming
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), F.col("__src").desc()
        )
        merged = (
            allrows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        if op_col is not None:
            # Persisted: survivors are read AFTER the overwrite below,
            # and without the persist the lazy plan would re-read the
            # just-rewritten target (read-after-write cycle).
            merged = merged.filter(F.col(op_col) != delete_op).persist()
            merged.count()
        # Dynamic mode replaces only the partition dirs present in
        # `merged` (= the touched buckets); all others survive as-is.
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(target_dir)
        )
        if op_col is not None and touched:
            # Buckets whose keys were all tombstoned have no rows in
            # `merged`, so dynamic overwrite left their old dir in
            # place — drop those dirs explicitly.
            import shutil

            survivors = {
                r[0] for r in merged.select("__bucket").distinct().collect()
            }
            for b in set(touched) - survivors:
                shutil.rmtree(
                    os.path.join(target_dir, f"__bucket={b}"), ignore_errors=True
                )
        if op_col is not None:
            merged.unpersist()

    writer = stream_df.writeStream.foreachBatch(merge_batch).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER interval join: pair each left row with
    every right row of the same key whose timestamp falls in
    [left_ts - lookback, left_ts]. Both sides are watermarked, and the
    time-range predicate lets Spark derive state-eviction bounds —
    right-side state is dropped once the left watermark passes
    right_ts + lookback, so state size is O(rows in the lookback
    horizon per key), not O(stream length). Works identically on
    batch inputs (plain range join) — the unified-API symmetry rule.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


def manifest_parquet_sink(
    stream_df: DataFrame,
    target_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """EXACTLY-ONCE append parquet sink via a commit manifest — the
    simplified form of the Delta/Iceberg transaction-log protocol,
    built on foreachBatch's at-least-once + deterministic batch ids:

    1. A replayed batch_id that is already committed is skipped
       (idempotence under at-least-once redelivery).
    2. Batch data lands in its own `data/batch=<id>/` directory; the
       write can crash mid-flight without corrupting the table because
       readers never list directories — they read the manifest.
    3. The commit is one atomic file creation
       (`manifest/<id>.commit` via temp + rename): a batch is either
       fully visible or fully invisible. Dangling data from a crashed
       write before its commit is dead weight, not wrong answers, and
       a later replay of the same id overwrites it then commits.

    `read_manifest_parquet` is the matching reader. At 100 TB the
    manifest also carries per-batch file stats for pruning; here it is
    the minimal correct protocol."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch_to_manifest(batch_df, batch_id, target_dir)

    writer = stream_df.writeStream.foreachBatch(commit_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def commit_batch_to_manifest(
    batch_df: DataFrame, batch_id: int, target_dir: str,
    stats_col: str | None = None,
) -> None:
    """The sink's per-batch commit, exposed for replay/crash testing:
    skip if committed, write `data/batch=<id>/`, then atomically
    create `manifest/<id>.commit` (temp + rename).

    `stats_col`: optionally record the batch's min/max of one column
    in the commit file (a JSON line) — the Iceberg-manifest pattern
    that lets readers DATA-SKIP whole batches from the tiny manifest
    alone (`read_manifest_parquet(between=...)`) without touching a
    parquet footer. The min/max agg rides the same job as the write's
    input (one extra scan of the batch, driver-side two numbers)."""
    import json as _json
    import os

    manifest = os.path.join(target_dir, "manifest")
    os.makedirs(manifest, exist_ok=True)
    commit_file = os.path.join(manifest, f"{batch_id}.commit")
    if os.path.exists(commit_file):  # replayed, already committed
        return
    data_dir = os.path.join(target_dir, "data", f"batch={batch_id}")
    batch_df.write.mode("overwrite").parquet(data_dir)
    meta: dict = {"batch": batch_id}
    if stats_col is not None:
        # Stats come from the files actually WRITTEN, not from
        # re-evaluating batch_df: if the batch lineage is
        # non-deterministic (non-replayable source, sample,
        # shuffle-order-dependent expr) a re-evaluation could record
        # an envelope that does not describe the data on disk, and
        # `between` pruning would then silently DROP batches holding
        # qualifying rows — wrong results, not a missed optimization.
        # The read-back is served from the parquet FOOTERS, not a
        # column scan: parquet aggregate pushdown is enabled for this
        # one read (a bare min/max with no filter on a top-level
        # column is exactly the shape it supports), so the per-batch
        # stats cost is metadata-sized instead of a second full pass
        # over the batch (round-8 ADVICE: without the pushdown this
        # agg re-scanned the whole just-written column).
        spark = batch_df.sparkSession
        _PUSH = "spark.sql.parquet.aggregatePushdown"
        prev = spark.conf.get(_PUSH, "false")
        try:
            spark.conf.set(_PUSH, "true")
            row = (
                spark.read.parquet(data_dir)
                .agg(F.min(stats_col).alias("mn"), F.max(stats_col).alias("mx"))
                .first()
            )
        finally:
            spark.conf.set(_PUSH, prev)
        # An empty batch (or all-null stats column) yields null
        # min/max; record stats-absent rather than a null envelope so
        # the reader keeps its "no stats → conservatively keep"
        # contract instead of comparing None to a bound.
        if row["mn"] is not None and row["mx"] is not None:
            meta["stats"] = {
                "col": stats_col, "min": row["mn"], "max": row["mx"],
            }
    tmp = commit_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(_json.dumps(meta) + "\n")
    os.rename(tmp, commit_file)  # the atomic commit point


def read_manifest_parquet(
    spark: SparkSession,
    target_dir: str,
    as_of: int | None = None,
    between: tuple[float, float] | None = None,
) -> DataFrame:
    """Read ONLY committed batches of a manifest_parquet_sink table:
    list the manifest (tiny), scan exactly those batch directories.
    Uncommitted/partial data directories are invisible by
    construction.

    `as_of`: TIME TRAVEL — read the table as it stood after batch id
    `as_of` committed (batches with id ≤ as_of), exactly the
    Delta/Iceberg `VERSION AS OF` contract: because commits are
    append-only atomic files and data directories are immutable once
    committed, any historical version is just a shorter prefix of the
    manifest — no snapshotting, no copy. None (default) reads the
    latest version.

    `between=(lo, hi)`: DATA SKIPPING from manifest stats — batches
    whose recorded [min, max] envelope (commit files written with
    `stats_col`) is disjoint from [lo, hi] are dropped from the scan
    list entirely; batches committed WITHOUT stats are conservatively
    kept (skipping is an optimization, never a filter — callers still
    apply their row-level predicate). This is the Iceberg
    manifest-pruning read path: the planning decision touches only
    the tiny manifest, not one parquet footer of the skipped
    batches."""
    import json as _json
    import os

    manifest = os.path.join(target_dir, "manifest")
    # Numeric sort on the parsed batch ids: a string sort would order
    # 'batch=10' before 'batch=2', which silently breaks any consumer
    # that relies on commit order (e.g. CDC-style replay).
    committed = sorted(
        (
            f[: -len(".commit")]
            for f in os.listdir(manifest)
            if f.endswith(".commit")
        ),
        key=int,
    ) if os.path.isdir(manifest) else []
    if as_of is not None:
        committed = [b for b in committed if int(b) <= as_of]
    if not committed:
        raise ValueError(
            f"no committed batches under {target_dir}"
            + (f" at version {as_of}" if as_of is not None else "")
        )
    if between is not None:
        lo, hi = between
        # Remember one committed batch BEFORE pruning: the empty-result
        # schema read below must come from a known-committed directory,
        # never from listing the data tree (which can contain a crashed
        # write's partial/uncommitted directory, and whose lexicographic
        # order put batch=10 before batch=2).
        schema_batch = committed[0]
        kept = []
        for b in committed:
            with open(os.path.join(manifest, f"{b}.commit")) as fh:
                first = fh.readline().strip()
            try:
                stats = _json.loads(first).get("stats")
            except ValueError:  # pre-stats commit format
                stats = None
            # Null min/max (legacy commit of an empty/all-null batch)
            # means the envelope is unknown: keep conservatively, same
            # as stats-absent — skipping is an optimization, never a
            # filter.
            if (
                stats is None
                or stats["min"] is None
                or stats["max"] is None
                or (stats["min"] <= hi and stats["max"] >= lo)
            ):
                kept.append(b)
        committed = kept
        if not committed:
            # every batch's envelope is disjoint from [lo, hi]: the
            # result is EMPTY, and an empty frame needs a schema —
            # read one committed batch's footer (metadata-only) and
            # filter-all.
            return (
                spark.read.parquet(
                    os.path.join(target_dir, "data", f"batch={schema_batch}")
                )
                .limit(0)
            )
    paths = [
        os.path.join(target_dir, "data", f"batch={b}") for b in committed
    ]
    return spark.read.parquet(*paths)


def priority_sample_sink(
    stream_df: DataFrame,
    state_dir: str,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "eps_",
) -> int:
    """Streaming maintenance of a Duffield-Lund-Thorup priority sample
    (operators/sampling.priority_sample, the batch twin): every
    micro-batch computes its rows' deterministic priorities
    w / ((md5_60(salt‖key)+1)/2^60), merges them with the persisted
    reservoir, and keeps the global top-(k+1) — k sample rows PLUS the
    (k+1)-th row whose priority is the estimator threshold τ.

    Why this is the right streaming sample: top-m selection is
    ASSOCIATIVE (top-m of a union = top-m of the union of per-part
    top-ms), so the final reservoir is independent of how the stream
    was batched — a batch window-rank oracle over the full history
    replays it bit-exactly (the events_streaming_* symmetry
    standard) — and the state is k+1 rows FOREVER, regardless of
    stream length: the sample that answers any later subset-sum
    question about an unbounded stream costs a constant to carry.

    Mechanics: each batch reduces ITSELF to its top-(k+1) first (a
    TakeOrdered, no shuffle of the batch beyond that), the reservoir
    is collected to the driver (bounded by k+1 — the same
    bounded-artifact rule as the tokenizer merge tables) and
    rewritten via write-temp-then-rename: the new reservoir lands in
    `<state_dir>.tmp`, the old directory is renamed aside, and the
    temp is renamed into place, so no crash point loses BOTH copies
    (a crash exactly between the two renames leaves the full state
    at `<state_dir>.old`/`.tmp`, and sink start RECOVERS it —
    renaming the survivor back before any batch can read-or-delete —
    unlike a plain mode-overwrite whose delete-then-write window
    loses everything).
    Retries are idempotent because priorities are deterministic and
    the merge dedups on key. On Delta this becomes a MERGE +
    truncate-beyond-rank; parquet rename-swap is the dependency-free
    equivalent at k+1-row scale.

    The stored `w` is the SAME double the priority was derived from
    (one cast, both uses), so the reservoir's Σ max(w, τ) agrees
    bit-for-bit with the weights that decided membership and τ even
    for fractional weight columns — matching the batch twin, which
    also keeps w and priority consistent.

    Returns the number of DISTINCT micro-batch ids that carried rows
    (a retried batch counts once) — callers assert ≥2 to evidence
    that the associative merge path actually ran (a single-batch run
    never exercises it)."""
    import os
    import shutil

    # Crash recovery BEFORE any batch reads or deletes state: a crash
    # exactly between rename(state->old) and rename(tmp->state) leaves
    # state_dir absent with the surviving reservoir in `.old` (always
    # complete — it WAS the committed state) and possibly a COMPLETE
    # `.tmp` (its parquet write finished before the swap began, proven
    # by the _SUCCESS marker).  Without this step the next run's
    # merge_batch would read the absent state_dir as "empty reservoir"
    # and then rmtree both survivors — silently resetting the sample
    # and contradicting the no-crash-point-loses-both-copies guarantee
    # (round-10 ADVICE, medium).  Preference order: a complete tmp is
    # the NEWER reservoir (the crash happened mid-swap, after the new
    # state was durably written), else the old copy.
    tmp0, old0 = f"{state_dir}.tmp", f"{state_dir}.old"
    if not os.path.isdir(state_dir):
        if os.path.exists(os.path.join(tmp0, "_SUCCESS")):
            os.rename(tmp0, state_dir)
            shutil.rmtree(old0, ignore_errors=True)
        elif os.path.isdir(old0):
            os.rename(old0, state_dir)
            shutil.rmtree(tmp0, ignore_errors=True)

    seen_batches: set[int] = set()

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            + F.lit(1)
        ).cast("double") / F.lit(1152921504606846976.0)
        # distributed part: TakeOrdered reduces the batch to its own
        # top-(k+1) (per-partition heaps, no shuffle of the batch)
        w_dbl = F.col(weight_col).cast("double")
        fresh = [
            (r["key"], r["w"], r["priority"])
            for r in (
                batch.filter(F.col(weight_col) > 0)
                .select(
                    F.col(key_col).alias("key"),
                    # one cast feeds BOTH the stored w and the
                    # priority — a fractional weight persists exactly
                    # the value that decided membership/τ (round-9
                    # ADVICE: the old cast('long') silently biased
                    # Σ max(w, τ) for non-integer weights)
                    w_dbl.alias("w"),
                    (w_dbl / u).alias("priority"),
                )
                .orderBy(F.desc("priority"), F.asc("key"))
                .limit(k + 1)
                .collect()
            )
        ]
        if not fresh:
            return
        seen_batches.add(batch_id)
        # driver part: merge two ≤(k+1)-row sets — bounded state by
        # construction (the tokenizer merge-table rule). Dedup on key
        # (retry idempotence: priorities are deterministic per key),
        # order by (-priority, key), truncate to k+1.
        merged: dict[int, tuple] = {}
        if os.path.isdir(state_dir):
            for r in batch.sparkSession.read.parquet(state_dir).collect():
                merged[r["key"]] = (r["key"], r["w"], r["priority"])
        for row in fresh:
            merged[row[0]] = row
        top = sorted(merged.values(), key=lambda t: (-t[2], t[0]))[: k + 1]
        # single-slice parallelize, NOT createDataFrame(list): the
        # default local-list path shards 51 rows over
        # defaultParallelism tasks and each task spawns a Python
        # worker — measured ~4 s per 51-row write on local[32] vs
        # ~0.5 s for the one-task form (this was 80% of the sink's
        # wall time).
        sess = batch.sparkSession
        # write-temp-then-rename swap: no crash point loses both the
        # old and the new reservoir (round-9 ADVICE — plain
        # mode('overwrite') deletes the directory before rewriting)
        tmp_dir, old_dir = f"{state_dir}.tmp", f"{state_dir}.old"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        sess.createDataFrame(
            sess.sparkContext.parallelize(top, 1),
            "key long, w double, priority double",
        ).write.parquet(tmp_dir)
        shutil.rmtree(old_dir, ignore_errors=True)
        if os.path.isdir(state_dir):
            os.rename(state_dir, old_dir)
        os.rename(tmp_dir, state_dir)
        shutil.rmtree(old_dir, ignore_errors=True)

    (
        stream_df.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return len(seen_batches)
