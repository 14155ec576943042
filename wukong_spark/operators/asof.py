"""merge_asof — the as-of join as a reusable operator (r14).

Reference parity: dask.dataframe users run ``pd.merge_asof`` /
``dd.merge_asof`` for event-to-quote alignment, attribution, and sensor
fusion; the reference executes those as opaque dask graphs
(`/root/reference/Static Scheduler/wukong/tests/test_collections.py` —
dask.dataframe ops are first-class workloads).  The query registry uses
the shape inline (`asof_join_last_click`, `asof_join_nearest`); this
module is the library form a user migrating from pandas/dask calls
directly.

Spark-first formulation — the UNION-MERGE, not a range join:

1. tag left probe rows and right reference rows, union them on a shared
   schema (the right payload packed into ONE struct column);
2. one shuffle on the `by` key; within each key a running
   ``last(payload, ignorenulls)`` over (on, tag, payload) gives every
   left row its backward match in a single sorted pass — O(n log n) per
   key, while a range join is O(left × right) per key with a candidate
   blowup;
3. `forward` flips the frame (first over CURRENT..UNBOUNDED FOLLOWING);
   `nearest` computes both in the SAME pass and picks the closer
   (ties → backward, the pandas convention);
4. `tolerance` filters matches whose |on − matched_on| exceeds it;
   unmatched left rows keep NULL right columns (left join semantics).

Determinism with duplicate right `on` values: pandas resolves by input
POSITION (meaningless for a distributed frame), so the merge order here
includes the packed right payload struct as the final sort key — equal
timestamps resolve to the lexicographically LARGEST payload for
backward/last and SMALLEST for forward/first, a stable, rerun-safe
total order (pass a unique column in the right frame to make it a real
key).

100 TB shape: one exchange on `by` shared by both inputs; per-key state
is the sort — no broadcast, no per-row range probe.  Without `by` the
merge would be a global sort (the 1pw class) — `merge_asof` REQUIRES a
`by` key and raises otherwise; the truly keyless as-of is
`merge_asof_global` below (r15): range-partition on `on` +
per-partition pandas.merge_asof + boundary-row exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _q(name: str) -> str:
    """Backtick-quote a column name so dots/spaces/dashes survive
    `F.col` parsing (embedded backticks doubled, the Spark escape)."""
    return "`" + name.replace("`", "``") + "`"


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | list[str],
    direction: str = "backward",
    tolerance: Column | int | float | None = None,
    right_prefix: str = "r_",
    allow_exact_matches: bool = True,
) -> DataFrame:
    """pandas.merge_asof for Spark DataFrames (keyed, union-merge plan).

    Returns every `left` row plus the matched right row's columns, each
    renamed ``{right_prefix}{col}`` (the match's `on` value appears as
    ``{right_prefix}{on}``); NULLs where no match exists within
    `direction`/`tolerance`.  `on` must be an orderable column present
    in both frames; `by` is one or more equality keys (required — see
    module docstring).  `direction`: 'backward' (largest right.on ≤
    left.on), 'forward' (smallest right.on ≥ left.on), or 'nearest'
    (closer of the two; ties → backward).  `tolerance` bounds
    |left.on − right.on| (pass a Column for interval types, e.g.
    ``F.expr("INTERVAL 30 MINUTES")`` — comparison is
    ``abs_diff <= tolerance`` with timestamps compared via their
    difference when numeric subtraction applies).
    `allow_exact_matches=False` excludes right rows at exactly equal
    `on` (pandas parameter parity): strictly-less for backward,
    strictly-greater for forward, both for nearest.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    by_cols = [by] if isinstance(by, str) else list(by)
    if not by_cols:
        raise ValueError(
            "merge_asof requires a `by` key: a keyless as-of is a global "
            "sort at scale — range-partition on `on` (set_index) instead"
        )
    for c in (on, *by_cols):
        if c not in left.columns or c not in right.columns:
            raise ValueError(f"column {c!r} missing from left or right")

    r_payload_cols = [c for c in right.columns if c not in by_cols]
    clash = [
        c for c in left.columns
        if c in {f"{right_prefix}{rc}" for rc in r_payload_cols}
    ]
    if clash:
        raise ValueError(
            f"left column(s) {clash} collide with prefixed right output "
            f"columns; pass a different right_prefix"
        )
    # right rows: payload packed into one struct (sortable tie-break +
    # single ignorenulls target); left rows carry NULL payload
    r_tagged = right.select(
        *[F.col(_q(c)) for c in by_cols],
        F.col(_q(on)).alias("__on"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(_q(c)) for c in r_payload_cols]).alias("__pay"),
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns],
    )
    # NULL struct literal needs the right type: pass the DataType object
    # directly — a simpleString() round-trip breaks on right column
    # names needing backtick quoting (spaces/dashes/dots) (ADVICE r14)
    pay_type = r_tagged.schema["__pay"].dataType
    l_tagged = left.select(
        *[F.col(_q(c)) for c in by_cols],
        F.col(_q(on)).alias("__on"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(pay_type).alias("__pay"),
        *[F.col(_q(c)).alias(f"__l_{c}") for c in left.columns],
    )
    u = r_tagged.unionByName(l_tagged)

    # Equal-__on tie order between the tags IS the exact-match switch
    # (VERDICT r14 item 6): inclusive backward wants right rows BEFORE
    # the left row at equal __on (inside the preceding frame); exclusive
    # flips them after.  The forward frame wants the opposite tag order
    # of backward in both modes — inclusive forward sorts the left row
    # first so equal-ts rights land in the following frame, exclusive
    # sorts rights first so they fall behind the current row.
    if allow_exact_matches:
        tie_back = F.col("__is_left").asc()
        tie_fwd = F.col("__is_left").desc()
    else:
        tie_back = F.col("__is_left").desc()
        tie_fwd = F.col("__is_left").asc()
    w_back = (
        Window.partitionBy(*[F.col(_q(c)) for c in by_cols])
        .orderBy(F.col("__on"), tie_back, F.col("__pay"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*[F.col(_q(c)) for c in by_cols])
        .orderBy(F.col("__on"), tie_fwd, F.col("__pay"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )

    out = u
    want_back = direction in ("backward", "nearest")
    want_fwd = direction in ("forward", "nearest")
    if want_back:
        # ignorenulls applies to the WRAPPED value: a left row
        # contributes NULL, a right row its (on, payload) struct
        out = out.withColumn(
            "__back",
            F.last(
                F.when(
                    F.col("__is_left") == 0,
                    F.struct(F.col("__on").alias("o"), F.col("__pay").alias("p")),
                ),
                ignorenulls=True,
            ).over(w_back),
        )
    if want_fwd:
        out = out.withColumn(
            "__fwd",
            F.first(
                F.when(
                    F.col("__is_left") == 0,
                    F.struct(F.col("__on").alias("o"), F.col("__pay").alias("p")),
                ),
                ignorenulls=True,
            ).over(w_fwd),
        )

    out = out.filter(F.col("__is_left") == 1)

    if direction == "backward":
        match = F.col("__back")
    elif direction == "forward":
        match = F.col("__fwd")
    else:
        bd = F.col("__on") - F.col("__back.o")
        fd = F.col("__fwd.o") - F.col("__on")
        match = (
            F.when(F.col("__back").isNull(), F.col("__fwd"))
            .when(F.col("__fwd").isNull(), F.col("__back"))
            # ties → backward (pandas convention)
            .when(bd <= fd, F.col("__back"))
            .otherwise(F.col("__fwd"))
        )
    out = out.withColumn("__m", match)
    if tolerance is not None:
        tol = tolerance if isinstance(tolerance, Column) else F.lit(tolerance)
        diff = F.when(
            F.col("__m.o") <= F.col("__on"), F.col("__on") - F.col("__m.o")
        ).otherwise(F.col("__m.o") - F.col("__on"))
        out = out.withColumn(
            "__m", F.when(diff <= tol, F.col("__m"))
        )

    return out.select(
        *[F.col(_q(f"__l_{c}")).alias(c) for c in left.columns],
        F.col("__m.o").alias(f"{right_prefix}{on}"),
        *[
            F.col("__m").getField("p").getField(c).alias(f"{right_prefix}{c}")
            for c in r_payload_cols
            if c != on
        ],
    )


def _asof_stream_partition(
    batches,
    seeds_by_pid: dict,
    direction: str,
    tol,
    allow_exact_matches: bool,
    l_names: list[str],
    r_names: list[str],
    out_cols: list[str],
):
    """Streaming per-partition merge for `merge_asof_global` (r17,
    VERDICT r16 #3): the partition arrives locally sorted RIGHTS-FIRST
    (``__is_left`` then ``__on`` then right payload), so this generator

    1. accumulates only the right rows (they are a prefix of the batch
       stream) plus the broadcast boundary seeds;
    2. the moment the first left row appears, finalizes the right slice
       ONCE (its dtype-aligned frame, seeds prepended/appended);
    3. runs ``pandas.merge_asof`` per LEFT BATCH against that slice and
       yields each result immediately.

    Peak memory per task = right slice + one Arrow batch — the left side
    of a skewed range never concatenates (the r15 code concatenated the
    whole partition; r15 ADVICE closed then only by documentation).
    Module-level so tests drive it with synthetic batch iterators and
    pin the no-concatenation property directly."""
    import pandas as pd

    right_chunks: list = []
    rp = None  # finalized right slice (set on first left row)
    want_pre = direction in ("backward", "nearest")
    want_suf = direction in ("forward", "nearest")

    def finalize(pdf) -> "pd.DataFrame":
        pre, suf = seeds_by_pid[int(pdf["__pid"].iloc[0])]
        parts = []
        if want_pre and pre is not None:
            parts.append(pd.DataFrame([pre]))
        parts.extend(right_chunks)
        if want_suf and suf is not None:
            parts.append(pd.DataFrame([suf]))
        cols = ["__on"] + r_names
        if parts:
            out = pd.concat(parts, ignore_index=True)[cols]
        else:
            out = pd.DataFrame({c: [] for c in cols})
        # seed rows arrive as object dtype; realign to the slice dtypes
        out = out.astype(dict(pdf.dtypes[cols]))
        out["__ron"] = out["__on"]
        return out

    for pdf in batches:
        if not len(pdf):
            continue
        is_left = pdf["__is_left"].to_numpy() == 1
        if not is_left.any():
            right_chunks.append(pdf[["__on"] + r_names])
            continue
        if rp is None:
            # rights-first order: this batch's right rows (if any) are
            # its prefix and complete the slice
            if not is_left.all():
                right_chunks.append(pdf.loc[~is_left, ["__on"] + r_names])
            rp = finalize(pdf)
            right_chunks = []
        lp = pdf.loc[is_left, ["__on"] + l_names].reset_index(drop=True)
        merged = pd.merge_asof(
            lp,
            rp,
            on="__on",
            direction=direction,
            tolerance=tol,
            allow_exact_matches=allow_exact_matches,
        )
        out = merged[l_names + ["__ron"] + r_names]
        out.columns = out_cols
        yield out


def merge_asof_global(
    left: DataFrame,
    right: DataFrame,
    on: str,
    direction: str = "backward",
    tolerance=None,
    right_prefix: str = "r_",
    allow_exact_matches: bool = True,
    n_partitions: int = 32,
) -> DataFrame:
    """Keyless/global pandas.merge_asof (VERDICT r14 item 3) — the bare
    ordered-index alignment dask runs via ordered indexes (reference:
    `Static Scheduler/wukong/tests/test_collections.py:132-149`), the
    most common pandas-migration shape this engine sees.

    A keyless as-of CANNOT use the keyed union-merge plan (its window
    would be the unpartitioned 1pw scale-killer).  Instead, the
    documented scale-safe design:

    1. union-tag both frames and RANGE-PARTITION the union on `on`
       (the set_index machinery: one range exchange, equal keys never
       straddle partitions), locally sorted by (`on`, right payload)
       so duplicate right keys resolve deterministically;
    2. ONE tiny partials job collects each partition's boundary right
       rows — per partition the lexicographically LARGEST right
       (on, payload) struct and SMALLEST — ≤ n_partitions rows to the
       driver;
    3. broadcast the exclusive prefix-last (backward seed) and
       suffix-first (forward seed) boundary rows: partition i's left
       rows can only ever need the single last right row before its
       range and the single first right row after it;
    4. per partition, run `pandas.merge_asof` itself (C-speed, Arrow
       batches concatenated per partition) on the left/right slices
       with the seed rows prepended/appended; direction, tolerance and
       allow_exact_matches pass straight through.

    Seeds come from strictly-disjoint ranges, so exact-match semantics
    never involve a seed row.  Output matches `merge_asof`: every left
    row, matched right columns renamed ``{right_prefix}{col}`` with the
    matched `on` as ``{right_prefix}{on}``, NULLs where unmatched.
    `tolerance` is a number (numeric `on`) or datetime.timedelta /
    pd.Timedelta (timestamp `on`).  Rows with NULL `on` raise, as in
    pandas.

    100 TB: one range exchange over left+right, O(n_partitions) driver
    traffic, per-partition memory = the partition's RIGHT slice plus ONE
    left Arrow batch (r17, VERDICT r16 #3 closing the r15 ADVICE): the
    union is locally sorted rights-first, so the task accumulates only
    the right slice, then streams left batches through
    ``pandas.merge_asof`` one at a time (`_asof_stream_partition`),
    yielding per batch.  A skewed `on` range therefore costs right-slice
    memory, not left+right; `n_partitions` sizes the right slice and
    `spark.sql.execution.arrow.maxRecordsPerBatch` the left increment."""
    import datetime as _dt

    import pandas as pd

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    if on not in left.columns or on not in right.columns:
        raise ValueError(f"column {on!r} missing from left or right")
    r_payload_cols = [c for c in right.columns if c != on]
    clash = [
        c
        for c in left.columns
        if c in {f"{right_prefix}{rc}" for rc in (on, *r_payload_cols)}
    ]
    if clash:
        raise ValueError(
            f"left column(s) {clash} collide with prefixed right output "
            f"columns; pass a different right_prefix"
        )

    l_tagged = left.select(
        F.col(_q(on)).alias("__on"),
        F.lit(1).alias("__is_left"),
        *[F.col(_q(c)).alias(f"__l_{c}") for c in left.columns],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in r_payload_cols
        ],
    )
    r_tagged = right.select(
        F.col(_q(on)).alias("__on"),
        F.lit(0).alias("__is_left"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
            for c in left.columns
        ],
        *[F.col(_q(c)).alias(f"__r_{c}") for c in r_payload_cols],
    )
    u = l_tagged.unionByName(r_tagged)

    # range exchange on __on ONLY (equal keys co-located); local order
    # (__on, payload) makes duplicate right keys resolve by position
    # exactly as the keyed operator's struct tie-break documents
    from wukong_spark.session import checkpoint, register_result_checkpoint

    # rights-first local order (__is_left: right=0 < left=1): the
    # streaming merge below can finalize the right slice the moment the
    # first left row appears, holding only right-slice + one batch.
    # Rights keep their (__on, payload) relative order — the duplicate-
    # key tie-break documented above — and lefts stay sorted by __on,
    # which pandas.merge_asof requires of each batch.
    s = register_result_checkpoint(
        checkpoint(
            u.repartitionByRange(n_partitions, "__on")
            .sortWithinPartitions(
                "__is_left", "__on",
                *[F.col(_q(f"__r_{c}")) for c in r_payload_cols],
            )
            .withColumn("__pid", F.spark_partition_id())
        )
    )

    right_struct = F.struct(
        F.col("__on"), *[F.col(_q(f"__r_{c}")) for c in r_payload_cols]
    )
    is_right = F.col("__is_left") == 0
    partials = {
        r["__pid"]: (r["mx"], r["mn"])
        for r in s.groupBy("__pid")
        .agg(
            F.max(F.when(is_right, right_struct)).alias("mx"),
            F.min(F.when(is_right, right_struct)).alias("mn"),
        )
        .collect()
    }
    # ranges are disjoint, so the exclusive prefix-last right row is
    # simply the mx of the nearest earlier partition that has one (and
    # the suffix-first the mn of the nearest later one) — no comparisons
    pids = sorted(partials)
    prefix, suffix = {}, {}
    last = None
    for pid in pids:
        prefix[pid] = last
        if partials[pid][0] is not None:
            last = partials[pid][0]
    nxt = None
    for pid in reversed(pids):
        suffix[pid] = nxt
        if partials[pid][1] is not None:
            nxt = partials[pid][1]

    def row_to_dict(row):
        if row is None:
            return None
        d = row.asDict(recursive=False)
        return {
            "__on": d["__on"],
            **{f"__r_{c}": d[f"__r_{c}"] for c in r_payload_cols},
        }

    seeds = {
        pid: (row_to_dict(prefix[pid]), row_to_dict(suffix[pid]))
        for pid in pids
    }
    bc = s.sparkSession.sparkContext.broadcast(seeds)

    tol = tolerance
    if isinstance(tol, _dt.timedelta):
        tol = pd.Timedelta(tol)
    l_names = [f"__l_{c}" for c in left.columns]
    r_names = [f"__r_{c}" for c in r_payload_cols]
    # StructType, not a DDL string: type objects carry weird column
    # names (and nested struct field names) without quoting round-trips
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        [StructField(c, left.schema[c].dataType) for c in left.columns]
        + [StructField(f"{right_prefix}{on}", right.schema[on].dataType)]
        + [
            StructField(f"{right_prefix}{c}", right.schema[c].dataType)
            for c in r_payload_cols
        ]
    )

    out_cols = (
        list(left.columns)
        + [f"{right_prefix}{on}"]
        + [f"{right_prefix}{c}" for c in r_payload_cols]
    )

    def asof_partition(batches):
        yield from _asof_stream_partition(
            batches,
            seeds_by_pid=bc.value,
            direction=direction,
            tol=tol,
            allow_exact_matches=allow_exact_matches,
            l_names=l_names,
            r_names=r_names,
            out_cols=out_cols,
        )

    # the returned plan reads the pinned union layout; the checkpoint is
    # registered (register_result_checkpoint above) so a harness frees
    # it via release_pending() after consuming the result
    return s.mapInPandas(asof_partition, out_schema)
