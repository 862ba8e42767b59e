"""Structured Streaming over the events table (SURVEY S26 — engine extension;
the reference is batch-only, so there are no reference semantics to match).

Design: every streaming aggregation here has a batch twin in
operators/relational.py (q14 hourly windows, q15 sessionization) computed
with the *same* window functions — the streaming query at a trigger boundary
and the batch query over the same files must agree. Tests assert exactly
that, which is the streaming analog of the DuckDB oracle.

Scale notes:
- watermarks bound state: hourly windows keep ≤ (watermark/1h + 1) open
  windows per event_type; session windows evict on gap expiry;
- `availableNow` triggers process a backlog in bounded batches — the
  100 TB backfill path uses the same code as the live stream;
- state store is per-key (event_type / user_id): keys partition across
  executors, so state scales horizontally with the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_osmosis_spark.functions.numeric import dec_sum
from dbt_osmosis_spark.sources.parquet import _nanos_timestamp_columns

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalizing nanosecond
    timestamps exactly like the batch reader (sources/parquet.py)."""
    import hashlib
    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    nanos = _nanos_timestamp_columns(path)
    # The streaming file source watches a DIRECTORY of arriving files; a
    # single-file fixture is exposed through a symlink dir (real deployments
    # point at the landing directory itself). The dir name is DETERMINISTIC
    # in the input path: streaming checkpoints record the source path, so a
    # restarted query must see the same basePath or fail with
    # "Wrong basePath" (exactly-once resume depends on this).
    if os.path.isfile(path):
        tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
        d = os.path.join(tempfile.gettempdir(), f"stream_events_{tag}")
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.islink(link):
            os.symlink(path, link)
        load_path = d
    else:
        load_path = path
    prev = spark.conf.get(_NANOS_CONF, "false")
    spark.conf.set(_NANOS_CONF, "true")
    try:
        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(load_path)
    finally:
        spark.conf.set(_NANOS_CONF, prev)
    for c in nanos:
        stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Watermarks require instant (TIMESTAMP) event time; a session that
    # infers parquet tz-less timestamps as NTZ would reject withWatermark.
    # Cast is wall-clock-preserving under the engine's pinned UTC session.
    from pyspark.sql.types import TimestampNTZType

    for f in stream.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            stream = stream.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return stream


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event_type; the streaming twin of
    q14_events_hourly. Watermark bounds state and admits late data up to
    ``watermark``."""
    return (
        events.withWatermark("ts", watermark)
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("total_value"),
            F.sum(F.col("k").cast("decimal(18,0)")).cast("bigint").alias("sum_k"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "sum_k",
        )
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Event-time session windows per user (gap-based), the streaming twin
    of q15_sessionization's batch lag/cumsum construction."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value total, emitted once per trigger per active user.

    The pattern for operators Spark's built-ins can't express (per-key
    accumulators with custom logic). State = one row per user (two numbers)
    — bounded, partitioned by key across executors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # exact-decimal accumulation is overkill inside per-key state
            # (single-threaded per key => deterministic order already)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drive a streaming DataFrame to completion into an in-memory table —
    the local test harness (real deployments: kafka/delta sink + trigger).
    """
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup — the streaming twin of d01_dedup_exact.

    ``dropDuplicates`` keyed on (event_id) with a watermark: state holds one
    key per event inside the watermark horizon, evicted as event time
    advances — bounded state, unlike an unwatermarked dedup which grows
    forever. At 100 TB/day ingest this is the standard exactly-once
    de-duplication stage in front of every sink.
    """
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def enrich_with_users(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins against a static (or
    slowly-refreshed) dimension. Spark plans the static side as a broadcast
    when small — no stream-side shuffle at all, which is why this is THE
    enrichment pattern at scale (re-plan per batch picks up dim refreshes).
    """
    from pyspark.sql.functions import broadcast

    return events.join(broadcast(user_dim), "user_id", "left")


def run_to_files(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
) -> None:
    """Exactly-once file sink: append mode + checkpointed progress. Re-runs
    with the same checkpoint resume where the last trigger stopped — a
    re-delivered backlog writes NOTHING new (tested). This is the durable
    landing pattern; swap `parquet` for delta/kafka in real deployments
    without touching the query."""
    q = (
        df.writeStream.outputMode("append")
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def click_purchase_join(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's clicks in the preceding attribution window.

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, so the state store provably evicts: a click older than
    watermark + window can never match a future purchase and is dropped.
    State partitions by user_id across executors — the 100 TB stream keys
    spread horizontally. Batch twin: q30_click_attribution
    (operators/relational_ext.py); tests assert pair-level agreement."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {attribution_window}"
        ),
    ).select("user_id", "click_ts", "purchase_ts", "value")


def merge_batch_into_parquet(batch_df: DataFrame, path: str, key: str) -> None:
    """Upsert one (micro-)batch into a parquet target on `key`: existing
    rows not in the batch survive (anti-join), batch rows win on conflict.
    Parquet rewrite stands in for MERGE INTO — on Delta/Iceberg this body
    becomes a real row-level merge and the caller is unchanged."""
    import os
    import shutil

    spark = batch_df.sparkSession
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(batch_df.select(key).distinct(), key, "left_anti")
        merged = keep.unionByName(batch_df.select(existing.columns))
    else:
        merged = batch_df
    tmp = path + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def run_merge_to_files(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key: str,
) -> None:
    """foreachBatch upsert sink — the production pattern for streaming
    upserts into table storage. Checkpointing makes each batch merge
    exactly-once against re-delivery; keys partition the merge shuffle, so
    state is the TARGET table, not the stream (nothing accumulates in the
    state store)."""
    q = (
        df.writeStream.foreachBatch(
            lambda batch_df, _bid: merge_batch_into_parquet(batch_df, path, key)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def distinct_accrual_stream(events: DataFrame, reach: int = 3) -> DataFrame:
    """Streaming twin of q56_distinct_accrual: per-user running distinct
    event-type count, with the timestamp at which each user first reached
    ``reach`` distinct types.

    Custom stateful operator (applyInPandasWithState): state per user is
    the SET of event types seen (bounded by the type vocabulary — the same
    bound that makes the batch twin's first-occurrence flag cheap), the
    first event time, and the reach time once crossed. Each trigger emits
    the user's current accrual row (update mode) — the standard
    "activation funnel" live dashboard feed.

    Event-time caveat (documented, inherent to accrual): rows are replayed
    in (ts, event_id) order WITHIN a micro-batch, so with an in-order or
    single-batch source (availableNow over a static landing dir — the twin
    test's shape) the reach timestamp is exactly the batch answer. Under
    cross-batch late data the already-emitted reach_ts is not retroactively
    lowered — a monotone at-least-reached contract, the same trade every
    streaming first-crossing metric makes.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_types long, first_ts timestamp, reach_ts timestamp"
    state_schema = "seen array<string>, first_us long, reach_us long"

    def update(key, pdfs, state: GroupState):
        seen, first_us, reach_us = (
            state.get if state.exists else ([], None, None)
        )
        seen = set(seen)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        for ts, et in zip(rows["ts"], rows["event_type"]):
            us = int(ts.value // 1_000)
            if first_us is None or us < first_us:
                first_us = us
            if et not in seen:
                seen.add(et)
                if reach_us is None and len(seen) >= reach:
                    reach_us = us
        state.update((sorted(seen), first_us, reach_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_types": [len(seen)],
                "first_ts": [pd.Timestamp(first_us * 1_000)],
                "reach_ts": [
                    pd.Timestamp(reach_us * 1_000) if reach_us is not None else pd.NaT
                ],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_attribution_outer(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click is emitted —
    matched clicks with their attributed purchase, UNCONVERTED clicks with
    nulls once the watermark proves no purchase can still arrive. The
    conversion-funnel companion to click_purchase_join (which only ever
    shows the winners).

    Outer interval joins are the state-store's hardest contract: a click
    row must be RETAINED until the watermark passes click_ts + window
    (only then is "no match" proven), so both watermarks and the
    two-sided time bound are mandatory — Spark rejects the query
    otherwise. State still partitions by user_id and provably evicts.

    End-of-stream caveat (inherent to event-time outer joins, not this
    implementation): the final watermark stops at max(event_time) -
    watermark delay, so clicks younger than (watermark + window) at
    shutdown are still awaiting their verdict and are NOT emitted as
    unconverted. The twin test compares the fully-resolved region only.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {attribution_window}"
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_ts",
        "value",
    )


def event_transition_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of q60's transition matrix input: per-user
    FIRST-ORDER TRANSITIONS (prev_type -> next_type) emitted as raw rows,
    via applyInPandasWithState keyed by user. State per user is one tiny
    row: the (timestamp, type) of the user's latest event — the minimal
    state any order-1 Markov feed needs, and the part a windowed
    aggregation cannot express (the previous event may be arbitrarily far
    in the past, outside any watermark-bounded window).

    Rows are replayed in (ts, event_id) order WITHIN each micro-batch;
    across batches the carried last-event state makes the boundary
    transition exact as long as file arrival is chronological (the same
    in-order-source contract the other event-time twins document). Each
    transition is emitted exactly once (append semantics); downstream
    aggregation to q60's row-normalized matrix is one groupBy over the
    sink — counts first, probabilities at read time, the standard
    stream-to-serving split.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        last_us, last_type = state.get if state.exists else (None, None)
        prevs, nexts, uss = [], [], []
        # A user's batch rows arrive as MULTIPLE Arrow chunks in
        # arbitrary order (maxRecordsPerBatch splits, shuffle order);
        # sorting per-chunk would interleave event time across chunk
        # boundaries. Concat-then-sort (the distinct_accrual_stream
        # precedent) restores one total (ts, event_id) order per batch.
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")
        for ts, et in zip(batch["ts"], batch["event_type"]):
            us = int(ts.value // 1_000)
            if last_type is not None:
                prevs.append(last_type)
                nexts.append(et)
                uss.append(us)
            last_us, last_type = us, et
        state.update((last_us, last_type))
        if prevs:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(prevs),
                    "prev_type": prevs,
                    "next_type": nexts,
                    "ts": [pd.Timestamp(u * 1_000) for u in uss],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, prev_type string, next_type string, ts timestamp",
        stateStructType="last_us long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_entry_exit_stream(
    events: DataFrame, gap: str = "1800.000001 seconds", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of q66's per-session relation: gap-based session
    windows per user with the ENTRY and EXIT event types picked by the
    struct-min/max trick over the unique (ts, event_id) order — a pure
    watermarked session_window aggregation, no custom state. State is one
    in-flight row per open session, evicted when the watermark closes the
    window; min/max of a struct are mergeable, so Spark's incremental
    session merge keeps them exact across triggers and the closed-session
    output equals the batch sessionizer's first/last rows.

    Boundary semantics: session_window SPLITS when the gap is >= its
    duration, while the batch rule splits only when the gap is STRICTLY
    greater than 30 min. With microsecond event time the two rules
    coincide exactly at gap = 1800.000001 s (delta >= 1800.000001 s
    <=> delta > 1800 s), hence the default — a plain "30 minutes" here
    would split a session whose gap is exactly 30:00.000000 that the
    batch twin keeps merged."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias("entry_type"),
            F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias("exit_type"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "entry_type",
            "exit_type",
            "n_events",
        )
    )


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of q73_funnel: a per-user view→click→purchase step
    machine that emits each funnel step EXACTLY ONCE, the moment it is
    reached — the live conversion dashboard feed.

    State per user is three nullable epoch-micros (t1, t2, t3) — set-once,
    so emission is naturally exactly-once per (user, step). Within a
    micro-batch, rows replay in (ts, step-priority, event_id) order; the
    step priority (view < click < purchase at an identical timestamp)
    reproduces the batch operator's ``ts >= prev_t`` closed-boundary
    semantics: a click sharing its timestamp with the user's first view
    converts in both engines regardless of event_id order.

    Cross-batch contract (documented, tested): with time-ordered delivery
    (every batch's events at-or-after the previous batch's — the standard
    log-ingest shape) the result equals batch q73 exactly: t1 is the
    global min view time because later batches only carry later
    timestamps, and likewise down the chain. Under out-of-order delivery
    an earlier-arriving late view could not retroactively lower an
    already-set t1 — the same monotone first-crossing trade every
    streaming funnel makes (distinct_accrual_stream documents the same).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, step string, ts timestamp"
    state_schema = "t1 long, t2 long, t3 long"
    _PRIO = {"view": 0, "click": 1, "purchase": 2}

    def update(key, pdfs, state: GroupState):
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows[rows["event_type"].isin(_PRIO)]
        rows = rows.assign(_p=rows["event_type"].map(_PRIO)).sort_values(
            ["ts", "_p", "event_id"], kind="mergesort"
        )
        new_steps = []
        for ts, et in zip(rows["ts"], rows["event_type"]):
            us = int(ts.value // 1_000)
            if et == "view" and t1 is None:
                t1 = us
                new_steps.append(("1_view", us))
            elif et == "click" and t2 is None and t1 is not None and us >= t1:
                t2 = us
                new_steps.append(("2_click", us))
            elif et == "purchase" and t3 is None and t2 is not None and us >= t2:
                t3 = us
                new_steps.append(("3_purchase", us))
        state.update((t1, t2, t3))
        if new_steps:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(new_steps),
                    "step": [s for s, _ in new_steps],
                    "ts": [pd.Timestamp(us * 1_000) for _, us in new_steps],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
