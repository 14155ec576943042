"""Structured Streaming surface (SURVEY.md §2.2 B-V / M5 stretch).

The reference has NO streaming subsystem (absence verified in SURVEY.md —
its only incremental behavior is Lambda-reuse for iterative jobs,
`/root/reference/AWS Lambda Task Executor/TaskExecutor/function.py:243-382`).
This module is the Spark-native upgrade the rebuild ships anyway: the SAME
window expressions used by the batch event queries
(wukong_spark/queries/events.py) run incrementally with watermarks.

Batch/stream parity is the design invariant: `stream_events(...)` over a
parquet directory with trigger=availableNow must produce exactly the batch
result — tests/test_streaming.py enforces it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wukong_spark.session import load_table, scoped_shuffle_partitions

EVENTS_SCHEMA = "event_id long, ts long, user_id long, event_type string, value double, props string"

#: single-file source → its staged symlink directory; one dir per distinct
#: source for the process lifetime (repeated calls reuse it instead of
#: leaking one mkdtemp per call), all removed at interpreter exit
_STAGE_CACHE: dict[str, str] = {}


def _staged_dir(src: str) -> str:
    stage = _STAGE_CACHE.get(src)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix="wukong-stream-")
        os.symlink(src, os.path.join(stage, "events.parquet"))
        _STAGE_CACHE[src] = stage
    return stage


@atexit.register
def _cleanup_stages() -> None:
    for stage in _STAGE_CACHE.values():
        shutil.rmtree(stage, ignore_errors=True)
    _STAGE_CACHE.clear()


#: session confs the stream readers pin; snapshot/restore as a PAIR so a
#: streaming registry entry leaves the shared session bit-identical
#: (r12 verdict item 3: callers restored only the tz, leaking nanosAsLong
#: into every later query in the same session)
_PINNED_CONF_KEYS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
)


def snapshot_stream_conf(spark: SparkSession) -> dict[str, str | None]:
    """Snapshot every session conf the stream readers mutate (None =
    the key was unset).  Call BEFORE read_events_stream; pass the result
    to restore_stream_conf in the caller's finally."""
    return {k: spark.conf.get(k, None) for k in _PINNED_CONF_KEYS}


def restore_stream_conf(spark: SparkSession, snap: dict[str, str | None]) -> None:
    """Restore a snapshot_stream_conf snapshot exactly: previously-unset
    keys are unset again, not left behind with the pinned value."""
    for k, v in snap.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def read_events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """events parquet directory as an unbounded source.

    The nanos→NTZ timestamp normalization matches load_table exactly, so
    stream and batch plans share expression semantics.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the streaming file source requires a DIRECTORY; testdata ships single
    # parquet files → stage a symlink dir (read-only view, nothing copied)
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isfile(src):
        src = _staged_dir(src)
    return read_events_dir_stream(spark, src, max_files_per_trigger)


def read_events_dir_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source over any events-shaped parquet DIRECTORY.

    The events table has shipped as both TIMESTAMP(NANOS) (read as long
    under nanosAsLong) and TIMESTAMP(MICROS) (read as timestamp_ntz) —
    probe the footer with a batch read and adapt, exactly as load_table
    does, so the declared streaming schema matches the file's physical
    type regardless of which writer produced it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # the probe is an eager batch read — on an EMPTY / not-yet-populated
    # source directory it throws (unable to infer schema); fall back to the
    # declared long type so the stream can start before the first file
    # arrives (ADVICE r4)
    try:
        ts_type = dict(spark.read.parquet(directory).dtypes).get("ts", "long")
    except Exception:
        ts_type = "long"
    reader = spark.readStream.schema(EVENTS_SCHEMA.replace("ts long", f"ts {ts_type}"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(directory))


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """`ts` → TIMESTAMP (LTZ; callers pin the session tz to UTC so the
    semantics equal the batch NTZ path).  Watermarks require LTZ; window
    bounds are cast back to NTZ after aggregation for batch parity."""
    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding event-time aggregation with late-data watermark.

    Identical expression to the batch events_tumbling_hourly query; the
    watermark bounds state: windows older than max(event_time) − watermark
    are finalized and evicted — the late-data semantics the reference
    lacks entirely.
    """
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_value_4"),
        )
        .select(
            F.col("w").getField("start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_4",
        )
    )


def default_state_partitions(spark: SparkSession) -> int:
    """Local core count — the availableNow gate default for state stores.

    A streaming query bakes its state-store partition count from
    `spark.sql.shuffle.partitions` at .start() (it persists in the
    checkpoint thereafter), and every stateful operator pays
    per-partition store init/commit on EVERY micro-batch — on a
    200-partition default session a two-store stream-stream join burns
    ~25 s of pure state-store latency at any data size.  So the runners
    below size it to the STATE volume under
    `session.scoped_shuffle_partitions`; production jobs with large keyed
    state pass their own value (or None to inherit the session conf)."""
    return spark.sparkContext.defaultParallelism


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    complete: bool = True,
    mode: str | None = None,
    state_partitions: int | None = 0,
) -> DataFrame:
    """Execute a streaming plan with trigger=availableNow into an in-memory
    sink, block until done, return the result table (test/verification
    harness; production sinks are kafka/parquet/delta via the same API).
    `mode` overrides the complete/append switch (e.g. "update" for
    applyInPandasWithState operators).  `state_partitions` sizes the
    query's state-store partition count (0 = local core count, None =
    inherit the session conf — see default_state_partitions)."""
    spark = stream_df.sparkSession
    if state_partitions == 0:
        state_partitions = default_state_partitions(spark)
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode or ("complete" if complete else "append"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(query_name)


def dedup_stream(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: key-only dedup bounded by an event-time
    watermark — state for keys older than the watermark is evicted, so
    dedup state is O(keys within the watermark window), not O(all history).
    The streaming face of the batch dedup_exact operators:
    `dropDuplicatesWithinWatermark` dedups on the CONTENT keys alone
    (two events with the same keys but different timestamps are still
    duplicates, exactly like batch fingerprint dedup), unlike
    `dropDuplicates(keys + ["ts"])` which would keep both."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def purchases_with_last_click_stream(
    events: DataFrame, join_window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: purchases matched to clicks of the same
    user within the preceding `join_window` (interval condition).  Both
    sides carry watermarks so the join state is bounded — Spark drops
    buffered rows once they can no longer match (the mechanism the as-of
    batch query gets from sorting)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id", "value")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {join_window}")),
        "inner",
    ).select("event_id", "user_id", "purchase_ts", "click_id", "click_ts", "value")


def run_foreach_batch(
    stream_df: DataFrame, fn, state_partitions: int | None = 0
) -> list:
    """foreachBatch sink: run `fn(batch_df, epoch_id)` per micro-batch with
    trigger=availableNow; returns the collected epoch ids (the integration
    point for arbitrary sinks — JDBC upserts, MERGE INTO, metrics).
    `state_partitions` as in run_to_memory (0 = local core count)."""
    epochs: list = []

    def handle(bdf, epoch_id):
        fn(bdf, epoch_id)
        epochs.append(epoch_id)

    spark = stream_df.sparkSession
    if state_partitions == 0:
        state_partitions = default_state_partitions(spark)
    with scoped_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return epochs


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState —
    per-user running totals maintained across micro-batches.

    This is the arbitrary-stateful-logic escape hatch (the streaming
    analogue of the reference's opaque Python tasks): state is an explicit
    (count, sum) tuple per user_id, updated per micro-batch, emitted in
    `update` mode.  Scale shape: state is partitioned by the group key and
    lives in the state store — per-key size is O(1), so total state grows
    with distinct users only, not with events.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, sum_value double",
        "n long, s double",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows with an inactivity gap — F.session_window gives the
    stateful merge natively (batch sessionization uses the lag+cumsum
    rewrite; this is the streaming-native equivalent)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sum_value_4"),
        )
        .select(
            "user_id",
            F.col("sw").getField("start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value_4",
        )
    )


def _stream_key_lanes(keys: list[str], n_buckets: int) -> list:
    """Plan-side (JVM) hash lanes for sketch-gated streaming dedup:
    `__h1`/`__h2` (two independently seeded xxhash64 lanes over the key
    tuple) plus `__bucket` (a third seed, so the bucket residue cannot
    restrict the probe positions when n_buckets and n_bits share powers
    of two).

    Each key column is interleaved with its `isnull` flag: Spark's
    xxhash64 SKIPS null inputs in its fold, so without the flags
    ('a', NULL) and (NULL, 'a') would hash identically; the non-null
    boolean flags pin every value to its position.  Computing the lanes
    in the plan keeps the hashed bytes exactly the column's JVM value —
    no Arrow float64 promotion, no str() rendering, no NULL/'None'
    collision (ADVICE r11 medium)."""
    parts: list = []
    for c in keys:
        parts.append(F.col(c))
        parts.append(F.isnull(c))
    return [
        F.xxhash64(F.lit("wukong:lane1"), *parts).alias("__h1"),
        F.xxhash64(F.lit("wukong:lane2"), *parts).alias("__h2"),
        F.pmod(
            F.xxhash64(F.lit("wukong:bucket"), *parts), F.lit(n_buckets)
        ).alias("__bucket"),
    ]


def _lanes_from_batch(batch) -> tuple:
    """(h1, h2) uint64 arrays from the plan-side lane columns; h2 is
    forced odd so Kirsch–Mitzenmacher double hashing never degenerates
    (the membership._hash2_series rule)."""
    import numpy as np

    h1 = batch["__h1"].to_numpy(np.int64).astype(np.uint64)
    h2 = batch["__h2"].to_numpy(np.int64).astype(np.uint64) | np.uint64(1)
    return h1, h2


def bloom_dedup_stream(
    events: DataFrame,
    keys: list[str],
    n_bits: int = 1 << 22,
    k: int = 7,
    n_buckets: int = 8,
) -> DataFrame:
    """Streaming dedup with BOUNDED SKETCH STATE (r11, VERDICT r10 #4):
    an `applyInPandasWithState` operator whose per-group state is a
    FIXED-SIZE Bloom bit array — O(n_bits), never O(distinct keys) —
    unlike `dropDuplicatesWithinWatermark`, whose state store holds
    every key inside the watermark horizon.

    Shape: rows group by a content-hash bucket of the key columns
    (`pmod(xxhash64(keys), n_buckets)` — deterministic under recompute,
    the salted-join rule); each bucket's state is one n_bits Bloom.
    Per micro-batch: exact pandas dedup WITHIN the batch (vectorized,
    order-free), then ONE vectorized probe of the carried Bloom decides
    which keys are new, then all the batch's keys set their bits.  A
    key is emitted at most once GLOBALLY — no false negatives is the
    Bloom's structural guarantee, so a duplicate can never re-emit.
    False positives silently DROP a never-seen key; size n_bits so the
    per-probe rate is negligible (the registry entry uses ~4M bits per
    bucket against ~1k keys: p ≈ (7k/4M)^7 < 1e-19 — the CMS
    heavy-hitters sizing discipline).

    100 TB path: state is n_buckets · n_bits/8 bytes TOTAL, chosen up
    front — a billion-key stream carries the same state as a
    thousand-key one; the probe/insert is one Arrow batch of numpy per
    micro-batch per bucket.  Hash lanes are computed PLAN-SIDE
    (`_stream_key_lanes`: two seeded `xxhash64` columns over the key
    tuple + per-key null flags), so the key bytes the Bloom sees never
    cross the Arrow boundary at all — a null-carrying int64 micro-batch
    used to promote the key column to float64 and render '5.0' vs '5'
    across batches, re-emitting the key (ADVICE r11 medium; the same
    promotion trap membership._key_cols closes for the batch Bloom).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from wukong_spark.operators.membership import _positions

    from wukong_spark.operators.membership import _INTEGRAL_SPARK_TYPES

    out_fields = [
        (f.name, f.dataType.simpleString())
        for f in events.schema.fields
        if f.name in keys
    ]
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    state_bytes = n_bits // 8

    # integral key columns ship as (coalesce(col,0) bigint, isnull flag)
    # pairs — the membership._key_cols pattern — because the EMITTED
    # values must survive Arrow too: a null-carrying int64 batch arrives
    # float64 and would round keys past 2^53 on output even with exact
    # plan-side hash lanes
    int_keys = {n for n, t in out_fields if t in _INTEGRAL_SPARK_TYPES}
    proj = [F.col(n) for n, _ in out_fields if n not in int_keys]
    for c in int_keys:
        proj.append(F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(f"__v_{c}"))
        proj.append(F.isnull(c).alias(f"__f_{c}"))
    src = events.select(*proj, *_stream_key_lanes(keys, n_buckets))

    def emit(kept: "pd.DataFrame") -> "pd.DataFrame":
        data = {}
        for n, _ in out_fields:
            if n in int_keys:
                col = kept[f"__v_{n}"].astype(object)
                col[kept[f"__f_{n}"].to_numpy(bool)] = None
                data[n] = col
            else:
                data[n] = kept[n]
        return pd.DataFrame(data)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (blob,) = state.get
            assert len(blob) == state_bytes, "Bloom state must be fixed-size"
            bits = np.frombuffer(blob, np.uint8).copy()
        else:
            bits = np.zeros(state_bytes, np.uint8)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # within-batch dedup on the 128-bit lane pair (order-free: the
        # kept KEY SET is what matters); a pair collision merges two
        # distinct keys with probability ~n²/2⁻¹²⁸ — far below the
        # Bloom's own false-positive budget, and dtype-exact where raw
        # key columns are not (two >2⁵³ int64 keys in a null-carrying
        # batch arrive as the SAME float64)
        batch = batch.drop_duplicates(subset=["__h1", "__h2"], ignore_index=True)
        if len(batch):
            h1, h2 = _lanes_from_batch(batch)
            pos = _positions(h1, h2, n_bits, k)  # (n, k)
            seen = (
                (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            ).all(axis=1)
            flat = pos[~seen].ravel()
            np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
            out = emit(batch.loc[~seen])
        else:
            out = emit(batch)
        state.update((bits.tobytes(),))
        if len(out):
            yield out

    return src.groupBy("__bucket").applyInPandasWithState(
        update,
        out_schema,
        "b binary",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def bloom_dedup_rotating_stream(
    events: DataFrame,
    keys: list[str],
    epoch: "F.Column",
    n_bits: int = 1 << 22,
    k: int = 7,
    n_buckets: int = 8,
) -> DataFrame:
    """GENERATIONAL Bloom-gated streaming dedup (r12, VERDICT r11 #4):
    the `dropDuplicatesWithinWatermark` CONTRACT at O(bits) state over
    an UNBOUNDED stream.  `bloom_dedup_stream` carries one eternal Bloom
    per bucket — bounded memory, but its false-positive rate degrades
    monotonically as distinct keys accumulate forever.  Here each bucket
    carries TWO Bloom epochs (current + previous) keyed to event time:
    a row probes both, inserts into the current, and when event time
    advances an epoch the OLDER Bloom retires (previous ← current,
    current ← zeros), so the sketch only ever holds ~2 epochs of keys
    and the FP rate is stationary no matter how long the stream runs.

    Emission contract: a key emits in epoch e iff it did not occur in
    epoch e−1 (and at most once per epoch) — i.e. duplicates are
    suppressed within a horizon of one-to-two epoch widths, exactly the
    within-watermark dedup shape.  `epoch` is a caller-supplied integer
    Column over event time (e.g. day number) — computed PLAN-side so it
    is exact and SQL-mirrorable.  Rows whose epoch evaluates to NULL are
    DROPPED (filtered plan-side): an undated row cannot be placed in a
    generation, mirroring how a null-event-time row falls out of any
    watermarked operator.

    Batch rows are processed in epoch order (stable sort inside the
    micro-batch), so a single availableNow batch replays deterministically
    regardless of file split; across micro-batches, a LATE row from
    epoch current−1 still probes both generations and inserts into its
    own (previous) Bloom — best-effort suppression — while rows older
    than that are dropped, the same discard `dropDuplicatesWithinWatermark`
    applies past the watermark.

    100 TB path: state is n_buckets · 2 · n_bits/8 bytes + one epoch
    long TOTAL, fixed up front and INDEPENDENT of stream length — the
    property the non-rotating variant lacks; the probe/insert stays one
    vectorized numpy pass per micro-batch per bucket.  Hash lanes are
    plan-side (`_stream_key_lanes`) with the same null-flag/int64
    dtype-exactness guarantees as `bloom_dedup_stream`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from wukong_spark.operators.membership import (
        _INTEGRAL_SPARK_TYPES,
        _positions,
    )

    out_fields = [
        (f.name, f.dataType.simpleString())
        for f in events.schema.fields
        if f.name in keys
    ]
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields) + ", epoch bigint"
    state_bytes = n_bits // 8

    int_keys = {n for n, t in out_fields if t in _INTEGRAL_SPARK_TYPES}
    proj = [F.col(n) for n, _ in out_fields if n not in int_keys]
    for c in int_keys:
        proj.append(F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(f"__v_{c}"))
        proj.append(F.isnull(c).alias(f"__f_{c}"))
    # rows whose epoch evaluates to NULL are dropped PLAN-side (ADVICE
    # r12): without this, pandas groupby's dropna=True silently discarded
    # the NaN-epoch group AND a single null promoted __epoch to float64
    # in the Arrow batch — an explicit filter makes the drop semantics
    # declared and keeps __epoch int64
    src = events.filter(epoch.isNotNull()).select(
        *proj,
        epoch.cast("bigint").alias("__epoch"),
        *_stream_key_lanes(keys, n_buckets),
    )

    def emit(kept: "pd.DataFrame") -> "pd.DataFrame":
        data = {}
        for n, _ in out_fields:
            if n in int_keys:
                col = kept[f"__v_{n}"].astype(object)
                col[kept[f"__f_{n}"].to_numpy(bool)] = None
                data[n] = col
            else:
                data[n] = kept[n]
        data["epoch"] = kept["__epoch"].astype("int64")
        return pd.DataFrame(data)

    def _probe_insert(bits_list, ins, batch, n_bits, k):
        """Vectorized probe of every generation in bits_list; unseen rows
        are returned for emission.  EVERY row inserts into `ins` (its
        epoch's generation) — a row suppressed by the PREVIOUS generation
        must still record its occurrence in the current one, or the key
        would wrongly re-emit next epoch (occurrence recording is
        complete; emission is what the probe gates)."""
        h1, h2 = _lanes_from_batch(batch)
        pos = _positions(h1, h2, n_bits, k)  # (n, k)
        seen = np.zeros(len(batch), bool)
        for bits in bits_list:
            seen |= (
                (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            ).all(axis=1)
        flat = pos.ravel()
        np.bitwise_or.at(ins, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        return batch.loc[~seen]

    def update(key, pdfs, state: GroupState):
        if state.exists:
            cur_epoch, cur_blob, prev_blob = state.get
            assert len(cur_blob) == state_bytes, "Bloom state must be fixed-size"
            assert len(prev_blob) == state_bytes, "Bloom state must be fixed-size"
            cur = np.frombuffer(cur_blob, np.uint8).copy()
            prev = np.frombuffer(prev_blob, np.uint8).copy()
        else:
            cur_epoch = None
            cur = np.zeros(state_bytes, np.uint8)
            prev = np.zeros(state_bytes, np.uint8)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # within-batch dedup on (epoch, 128-bit lane pair): the kept set
        # per epoch is what matters (same rationale as bloom_dedup_stream)
        batch = batch.drop_duplicates(
            subset=["__epoch", "__h1", "__h2"], ignore_index=True
        )
        outs = []
        # stable epoch-order replay: a single availableNow batch is
        # deterministic no matter how the source files split
        batch = batch.sort_values("__epoch", kind="stable")
        for e, grp in batch.groupby("__epoch", sort=True):
            e = int(e)
            if cur_epoch is None:
                cur_epoch = e
            if e > cur_epoch:
                if e == cur_epoch + 1:
                    prev, cur = cur, np.zeros(state_bytes, np.uint8)
                else:  # a whole epoch gap: both generations expire
                    prev = np.zeros(state_bytes, np.uint8)
                    cur = np.zeros(state_bytes, np.uint8)
                cur_epoch = e
            if e == cur_epoch:
                kept = _probe_insert([cur, prev], cur, grp, n_bits, k)
            elif e == cur_epoch - 1:  # late row: its generation still lives
                kept = _probe_insert([cur, prev], prev, grp, n_bits, k)
            else:  # older than the horizon: dropped, like past-watermark rows
                continue
            if len(kept):
                outs.append(emit(kept))
        state.update((int(cur_epoch or 0), cur.tobytes(), prev.tobytes()))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return src.groupBy("__bucket").applyInPandasWithState(
        update,
        out_schema,
        "cur_epoch bigint, cur binary, prev binary",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def cms_heavy_hitters_stream(
    events: DataFrame,
    keys: list[str],
    threshold: int,
    width: int = 4096,
    depth: int = 5,
    bloom_bits: int = 1 << 17,
    n_buckets: int = 8,
) -> DataFrame:
    """STREAMING HEAVY HITTERS with bounded sketch state (r12): emit each
    key EXACTLY ONCE, the first time its running total reaches
    `threshold` — per-bucket state is one Count-Min sketch
    (depth × width int64 counters) plus one emitted-keys Bloom, both
    FIXED SIZE, so an unbounded stream with unbounded key cardinality
    carries O(width·depth + bloom_bits) state per bucket, never O(keys)
    (the state-store shape `dropDuplicates`-style tracking would need).

    The emitted KEY SET is arrival-order independent: final totals don't
    depend on micro-batch splits, a key crosses the threshold exactly
    once, and the Bloom makes the emission exactly-once (its
    no-false-negative guarantee means a recorded emission can never
    repeat).  CMS can only OVER-estimate, so no qualifying key is ever
    missed; a spurious early emission needs a key colliding in ALL
    `depth` rows (~(n_keys/width)^depth — the membership.py sizing
    discipline makes this negligible at any gate scale).  Counts are
    NOT emitted: a key's estimate AT CROSSING TIME is split-dependent;
    the deterministic contract is the key set, exactly like
    `bloom_dedup_stream`.

    Per micro-batch per bucket the work is three vectorized numpy
    passes (per-key batch counts, np.add.at into the sketch, a min-over
    -rows estimate + Bloom probe) — no per-row Python.  Hash lanes are
    plan-side (`_stream_key_lanes`) with the same dtype-exactness
    story as the Bloom dedup operators.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from wukong_spark.operators.membership import (
        _INTEGRAL_SPARK_TYPES,
        _positions,
    )

    out_fields = [
        (f.name, f.dataType.simpleString())
        for f in events.schema.fields
        if f.name in keys
    ]
    out_schema = ", ".join(f"{n} {t}" for n, t in out_fields)
    cms_bytes = depth * width * 8
    bloom_bytes = bloom_bits // 8

    int_keys = {n for n, t in out_fields if t in _INTEGRAL_SPARK_TYPES}
    proj = [F.col(n) for n, _ in out_fields if n not in int_keys]
    for c in int_keys:
        proj.append(F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(f"__v_{c}"))
        proj.append(F.isnull(c).alias(f"__f_{c}"))
    src = events.select(*proj, *_stream_key_lanes(keys, n_buckets))

    def emit(kept: "pd.DataFrame") -> "pd.DataFrame":
        data = {}
        for n, _ in out_fields:
            if n in int_keys:
                col = kept[f"__v_{n}"].astype(object)
                col[kept[f"__f_{n}"].to_numpy(bool)] = None
                data[n] = col
            else:
                data[n] = kept[n]
        return pd.DataFrame(data)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            cms_blob, bl_blob = state.get
            assert len(cms_blob) == cms_bytes, "CMS state must be fixed-size"
            assert len(bl_blob) == bloom_bytes, "Bloom state must be fixed-size"
            cms = np.frombuffer(cms_blob, np.int64).reshape(depth, width).copy()
            bloom = np.frombuffer(bl_blob, np.uint8).copy()
        else:
            cms = np.zeros((depth, width), np.int64)
            bloom = np.zeros(bloom_bytes, np.uint8)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # per-key batch counts on the 128-bit lane pair, keeping one
        # representative row per key for emission
        grouped = batch.groupby(["__h1", "__h2"], sort=False)
        reps = grouped.head(1).reset_index(drop=True)
        # realign group sizes to reps' row order explicitly (head(1) keeps
        # first-seen order, but the contract is positional — reindex pins it)
        cnt = (
            grouped.size()
            .reindex(pd.MultiIndex.from_frame(reps[["__h1", "__h2"]]))
            .to_numpy(np.int64)
        )
        h1, h2 = _lanes_from_batch(reps)
        pos = _positions(h1, h2, width, depth)  # (n, depth) in [0, width)
        # add this batch's counts into every CMS row, then estimate
        for r in range(depth):
            np.add.at(cms[r], pos[:, r], cnt)
        est = cms[np.arange(depth)[None, :], pos].min(axis=1)
        crossed = est >= threshold
        # exactly-once: drop keys whose emission the Bloom already records
        bpos = _positions(h1, h2, bloom_bits, 7)
        already = (
            (bloom[bpos >> 3] & (1 << (bpos & 7)).astype(np.uint8)) != 0
        ).all(axis=1)
        fire = crossed & ~already
        flat = bpos[fire].ravel()
        np.bitwise_or.at(bloom, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
        state.update((cms.tobytes(), bloom.tobytes()))
        out = emit(reps.loc[fire])
        if len(out):
            yield out

    return src.groupBy("__bucket").applyInPandasWithState(
        update,
        out_schema,
        "cms binary, bl binary",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def merge_column_exprs(
    val_cols: list[str],
    state_types: dict,
    mode: str,
    order_col: str | None,
) -> list:
    """Combine expressions for a state⋈delta full-outer MERGE, shared by
    `BucketedUpsertState` and `tableformat.SnapshotStateTable` so the two
    sinks cannot drift: `mode="sum"` accumulates numerics, `mode="latest"`
    keeps the whole row with the larger `order_col` (ties → delta; an
    associative argmax, so out-of-order deltas converge).  Expects the
    join inputs aliased `c` (current state) and `d` (delta); output is
    cast back to the state's canonical types."""
    if mode == "latest":
        d_wins = F.col(f"c.{order_col}").isNull() | (
            F.col(f"d.{order_col}").isNotNull()
            & (F.col(f"d.{order_col}") >= F.col(f"c.{order_col}"))
        )
        return [
            F.when(d_wins, F.col(f"d.{c}"))
            .otherwise(F.col(f"c.{c}"))
            .cast(state_types[c])
            .alias(c)
            for c in val_cols
        ]
    return [
        (
            F.coalesce(F.col(f"c.{c}"), F.lit(0))
            + F.coalesce(F.col(f"d.{c}"), F.lit(0))
        )
        .cast(state_types[c])
        .alias(c)
        for c in val_cols
    ]


class BucketedUpsertState:
    """Keyed upsert-accumulate state table as a HASH-BUCKETED parquet
    layout (r15, VERDICT r14 item 2 — the one remaining scale-killer):
    per micro-batch, only the bucket partitions TOUCHED by the delta's
    keys are read, merged and swapped; untouched buckets are never
    opened.  Bytes written per batch ∝ touched-bucket size + delta, not
    total state — the lakehouse MERGE INTO write path emulated on plain
    parquet (this image carries no Delta/Iceberg jars; re-checked r14).
    Reference analogue: the no-write big-task heuristic
    (`TaskExecutor/function.py:2793-3168`) — never move or rewrite data
    that didn't change.

    Layout: ``{state_dir}/__bkt=<i>/…`` with ``__bkt =
    pmod(hash(key), n_buckets)`` — `F.hash` is Murmur3 with a fixed
    seed, so bucket assignment is stable across batches, sessions and
    executors.  Reads filter on the partition column, so Spark prunes
    untouched directories at plan time (PartitionFilters).  Merge joins
    the broadcast delta against only the touched buckets' rows
    (full-outer: matched keys accumulate, new keys insert), stages the
    result, then swaps JUST the touched bucket directories — never a
    full-table rewrite, and never overwriting an input mid-read.

    Single-writer per state_dir (as with any filesystem table format
    without a commit log).  At 100 TB: n_buckets scales the unit of
    rewrite; a delta touching k of B buckets costs O(state·k/B + delta)
    IO regardless of total state size."""

    def __init__(
        self, spark: SparkSession, state_dir: str, key_col: str,
        n_buckets: int = 8, mode: str = "sum", order_col: str | None = None,
        delete_col: str | None = None,
    ) -> None:
        """`mode="sum"`: non-key numeric columns accumulate (+) on match.
        `mode="latest"`: LAST-WRITE-WINS BY EVENT ORDER — on match the
        whole row with the larger `order_col` value survives (ties →
        delta).  `order_col` may be any comparable type including a
        STRUCT column (e.g. ``struct(ts, event_id)`` for a total
        order), which makes the combine ASSOCIATIVE: out-of-order
        micro-batches converge to the same state as a global argmax —
        the CDC latest-state MERGE shape.

        `delete_col` (mode="latest" only, r16): name of a BOOLEAN delta
        column marking CDC TOMBSTONES.  A winning tombstone row is
        RETAINED in state (with its order value) rather than physically
        dropped — that keeps the combine associative, so a late-arriving
        older update cannot resurrect a deleted key; `read()` filters
        tombstones out.  This is the op='D' half of MERGE INTO on the
        bucketed layout."""
        if mode not in ("sum", "latest"):
            raise ValueError(f"mode must be 'sum' or 'latest', got {mode!r}")
        if mode == "latest" and not order_col:
            raise ValueError("mode='latest' requires order_col")
        if delete_col and mode != "latest":
            raise ValueError("delete_col requires mode='latest'")
        self.spark = spark
        self.state_dir = state_dir
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.mode = mode
        self.order_col = order_col
        self.delete_col = delete_col

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__bkt",
            F.pmod(F.hash(F.col(self.key_col)), F.lit(self.n_buckets)),
        )

    @property
    def _old_root(self) -> str:
        return f"{self.state_dir}__old"

    def _recover(self) -> None:
        """Roll an interrupted bucket swap BACK to the pre-merge state
        (ADVICE r17, superseding the r15 roll-forward): `merge` journals
        the touched-bucket list under ``{state_dir}__old/__JOURNAL.json``
        and parks each replaced bucket dir there BEFORE moving the staged
        one in; a ``__DONE`` marker lands only after EVERY touched bucket
        swapped.  On crash:

        - marker present → the swap completed; the parked copies are
          garbage (drop them) — the merge is applied atomically;
        - marker absent → the swap was TORN (some buckets new, some old).
          Restore every parked bucket over its destination and REMOVE
          destinations for journaled buckets with no parked copy (those
          were inserts of brand-new buckets) — the consistent pre-merge
          state, since merge() never reported success.

        The r15 code committed forward per bucket, which a mid-loop crash
        turned into silently-torn state with the rollback copies deleted.
        Idempotent; called before every read/merge."""
        import json
        import os
        import shutil

        root = self._old_root
        if not os.path.isdir(root):
            return
        done = os.path.exists(os.path.join(root, "__DONE"))
        journal_path = os.path.join(root, "__JOURNAL.json")
        if not done and os.path.exists(journal_path):
            with open(journal_path) as f:
                j = json.load(f)
            new_buckets = set(j.get("new", []))
            for b in j["touched"]:
                parked = os.path.join(root, f"__bkt={b}")
                dst = os.path.join(self.state_dir, f"__bkt={b}")
                if os.path.isdir(parked):
                    # park happened → dst (absent or new data) is undone
                    shutil.rmtree(dst, ignore_errors=True)
                    shutil.move(parked, dst)
                elif b in new_buckets:
                    # bucket did not exist pre-merge: its swap-in (if it
                    # happened) must be undone
                    shutil.rmtree(dst, ignore_errors=True)
                # else: crash before this bucket was parked — dst still
                # holds the pre-merge data; keep it
        elif not done:
            # legacy pre-journal layout (written by r15/r16 code): the old
            # roll-forward contract — keep new when present, else restore
            for e in os.listdir(root):
                dst = os.path.join(self.state_dir, e)
                if not os.path.isdir(dst):
                    shutil.move(os.path.join(root, e), dst)
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(f"{self.state_dir}__stage", ignore_errors=True)

    def exists(self) -> bool:
        import os

        self._recover()
        return os.path.isdir(self.state_dir) and any(
            e.startswith("__bkt=") for e in os.listdir(self.state_dir)
        )

    def read(self, include_tombstones: bool = False) -> DataFrame:
        self._recover()
        out = self.spark.read.parquet(self.state_dir).drop("__bkt")
        if self.delete_col and not include_tombstones:
            out = out.filter(
                ~F.coalesce(F.col(self.delete_col), F.lit(False))
            ).drop(self.delete_col)
        return out

    def merge(
        self, delta: DataFrame, expire_tombstones_below=None
    ) -> dict:
        """Upsert-accumulate `delta` (≤1 row per key; non-key numeric
        columns combine by +) into the state table.  Returns
        ``{"touched": [bucket ids rewritten]}``.

        `expire_tombstones_below` (mode='latest' + delete_col, r16):
        while rewriting the touched buckets anyway, drop tombstones whose
        `order_col` is below the horizon — zero extra IO, gradual expiry.
        SAFE ONLY under the application's guarantee that no future delta
        carries an order older than the horizon (the watermark/retention
        contract every CDC compactor imposes); untouched buckets keep
        their tombstones until a merge next touches them."""
        if expire_tombstones_below is not None and not self.delete_col:
            raise ValueError("tombstone expiry requires delete_col")
        import os
        import shutil

        from wukong_spark.session import Checkpoints

        self._recover()
        # the delta is read twice (touched-bucket probe + merge join):
        # pin it so both passes see identical rows
        with Checkpoints() as ck:
            d = ck(self._bucketed(delta))
            touched = sorted(
                r["__bkt"] for r in d.select("__bkt").distinct().collect()
            )
            if not touched:
                return {"touched": []}
            val_cols = [c for c in delta.columns if c != self.key_col]
            if not self.exists():
                d.write.partitionBy("__bkt").mode("overwrite").parquet(
                    self.state_dir
                )
                return {"touched": touched}
            # partition filter → PartitionFilters pruning: untouched bucket
            # directories are never opened
            cur = self.spark.read.parquet(self.state_dir).filter(
                F.col("__bkt").isin([int(b) for b in touched])
            )
            # the first write's schema is canonical: cast combined columns
            # back to it so later deltas with wider literals can't fork the
            # parquet types bucket-by-bucket
            state_types = {f.name: f.dataType for f in cur.schema.fields}
            joined = cur.alias("c").join(
                F.broadcast(d).alias("d"), self.key_col, "full_outer"
            )
            cols = merge_column_exprs(
                val_cols, state_types, self.mode, self.order_col
            )
            merged = self._bucketed(joined.select(self.key_col, *cols))
            if expire_tombstones_below is not None:
                merged = merged.filter(
                    ~(
                        F.coalesce(F.col(self.delete_col), F.lit(False))
                        & (F.col(self.order_col) < F.lit(expire_tombstones_below))
                    )
                )
            stage = f"{self.state_dir}__stage"
            merged.write.partitionBy("__bkt").mode("overwrite").parquet(stage)
            # recoverable swap (ADVICE r15, rollback semantics r17): journal
            # the touched buckets, park each replaced bucket under __old/
            # BEFORE moving the staged one in, and write the __DONE marker
            # only after EVERY bucket swapped.  A crash anywhere in the loop
            # rolls BACK at the next read/merge (`_recover()`): without the
            # marker the parked copies are the authoritative pre-merge state
            # — never torn half-applied state.  (Still single-writer: there
            # is no commit log arbitrating concurrent mergers.)
            import json as _json

            old_root = self._old_root
            os.makedirs(old_root, exist_ok=True)
            # record which touched buckets are INSERTS (no pre-merge dir):
            # rollback must delete those if swapped in, but must never touch
            # a pre-existing bucket the crash happened to leave unparked
            new_buckets = [
                int(b)
                for b in touched
                if not os.path.isdir(os.path.join(self.state_dir, f"__bkt={b}"))
            ]
            with open(os.path.join(old_root, "__JOURNAL.json"), "w") as jf:
                _json.dump(
                    {"touched": [int(b) for b in touched], "new": new_buckets}, jf
                )
                jf.flush()
                os.fsync(jf.fileno())
            for b in touched:
                src = os.path.join(stage, f"__bkt={b}")
                dst = os.path.join(self.state_dir, f"__bkt={b}")
                if os.path.isdir(dst):
                    shutil.move(dst, os.path.join(old_root, f"__bkt={b}"))
                if os.path.isdir(src):
                    shutil.move(src, dst)
            with open(os.path.join(old_root, "__DONE"), "w"):
                pass
            shutil.rmtree(old_root, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)
            return {"touched": touched}
