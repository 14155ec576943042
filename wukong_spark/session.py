"""SparkSession factory and table catalog.

Reference parity: Wukong's Client/Scheduler pair owns cluster setup and
data intake (`Static Scheduler/wukong/client.py:1963-2168` scatter,
`scheduler.py:1858-1890` already-computed pruning).  In the Spark rebuild
the session owns: (a) tuned SparkSession creation, (b) the parquet table
catalog for the driver's TPC-H-ish testdata, (c) a plan-fingerprint →
persisted-DataFrame cache that plays the role of Wukong's "skip tasks whose
results are already in memory" (SURVEY.md §3.3).

Scale notes (100 TB discipline):
- AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned partition count at large SF.
- shuffle.partitions defaults to the local core count for tests; on a real
  cluster this is overridden (or left to AQE's initialPartitionNum).
- Arrow enabled: every pandas-UDF boundary is vectorized batch transfer.
- Session timezone pinned to UTC so event-time windows are engine-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the driver-provided tables (TESTDATA.md)
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_mem() -> str:
    """Adaptive default driver heap (r18, VERDICT r17 #1 / ADVICE r17).

    The r17 flat `12g` default is right for this bench host (128 GiB,
    pathological first-touch faults — see _alloc.py) but would eagerly
    commit 12 GB on any small host once AlwaysPreTouch is on.  Scale the
    default to the machine: a quarter of MemAvailable, capped at 12 GiB,
    floored at 2 GiB.  `SPARK_DRIVER_MEM` still overrides exactly."""
    avail_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable"):
                    avail_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    if avail_kb <= 0:
        return "12g"
    gib = max(2, min(12, avail_kb // (4 * 1024 * 1024)))
    return f"{gib}g"


def _daemon_importable() -> bool:
    """Whether a local Python worker can import ``wukong_spark._pydaemon``.

    A local-mode worker daemon runs in the driver's working directory with
    the driver's PYTHONPATH and site-packages, so it sees this package when
    the package's parent directory is one of those.  A driver that found
    the package only through its own ``sys.path`` edits keeps pyspark's
    stock daemon."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    return any(p and os.path.abspath(p) == root for p in seen)


def get_spark(
    app_name: str = "wukong-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Every knob here is a scale knob, not a correctness knob — the same code
    runs unchanged on a 1000-executor cluster with `master` and memory
    supplied by the cluster manager.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # small dims (region/nation/supplier/part at low SF) must broadcast;
        # 64 MB covers every dimension table up to ~sf100
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if _daemon_importable():
        # workers import the installed pyspark instead of Spark's bundled
        # zip: ~270 ms less per Python task (see _alloc.py, last section)
        builder = builder.config(
            "spark.python.daemon.module", "wukong_spark._pydaemon"
        )
    if os.environ.get("WUKONG_NO_ALLOC_TUNING", "") != "1":
        # Python workers must inherit the large-alloc malloc thresholds
        # (wukong_spark/_alloc.py): local mode inherits our env through
        # the JVM, but on a real cluster only executorEnv reaches the
        # worker daemons.  WUKONG_NO_ALLOC_TUNING=1 (the _alloc opt-out)
        # suppresses the forwarding too — workers then see only what the
        # caller exported explicitly.
        for k, v in (
            ("MALLOC_MMAP_THRESHOLD_", str(1 << 30)),
            ("MALLOC_TRIM_THRESHOLD_", str(1 << 30)),
            # one BLAS thread per (data-parallel) task + glibc-backed
            # Arrow pool in every Python worker — see _alloc.py
            # tune_blas / tune_arrow_pool for the measured pathologies
            ("OPENBLAS_NUM_THREADS", "1"),
            ("ARROW_DEFAULT_MEMORY_POOL", "system"),
        ):
            builder = builder.config(
                f"spark.executorEnv.{k}", os.environ.get(k, v)
            )
        # THP-backed worker arenas (set by _alloc.tune_malloc when the
        # kernel supports it) must reach real-cluster workers too
        if os.environ.get("GLIBC_TUNABLES"):
            builder = builder.config(
                "spark.executorEnv.GLIBC_TUNABLES",
                os.environ["GLIBC_TUNABLES"],
            )
    # measured at the block-matrix benches: 64g is WORSE than 24g (G1
    # humongous-object churn on 8 MB binary cells); 24g + explicit
    # per-output-block partitioning avoids sort spill instead.
    # r17 opt round: a SMALLER pinned heap beats both — with a
    # growable heap G1 kept first-touching fresh regions (2-3 GB of
    # page faults per bench pass, catastrophic on this host's slow
    # fault path).  -Xms-pinned + AlwaysPreTouch pays all heap
    # faults once at startup; G1HeapRegionSize=32m makes the 8 MB
    # block cells ordinary (non-humongous) objects.  Heap size is
    # adaptive to the host (capped 12g) — r18, VERDICT r17 #1.
    mem = os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem())
    # r18: back the heap with transparent huge pages where the kernel
    # offers madvise-mode THP — on this host first-touch runs x14
    # faster under MADV_HUGEPAGE (see _alloc.thp_available), which
    # turns the AlwaysPreTouch startup cost from ~30 s into a few
    # seconds and makes GC-time region faults cheap.
    from wukong_spark._alloc import thp_available

    thp = " -XX:+UseTransparentHugePages" if thp_available() else ""
    builder = (
        builder.config("spark.driver.memory", mem)
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv4Stack=true "
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:G1HeapRegionSize=32m"
            f"{thp}",
        )
        # local shuffle blocks here are ~8 MB (block-matrix partials):
        # the 2 MB default memory-maps every read and the per-pass
        # mmap/munmap churn re-faults; stream them through pooled
        # buffers instead
        .config("spark.storage.memoryMapThreshold", "512m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one catalog table.

    Declarative scan so Catalyst keeps predicate pushdown + column pruning
    (`.explain` must show PushedFilters/ReadSchema on every query using it).

    The `events` table stores TIMESTAMP(NANOS) parquet, which Spark rejects
    by default (PARQUET_TYPE_ILLEGAL).  We read nanos as long (runtime SQL
    conf, works on any session incl. the driver's) and convert to a
    microsecond timestamp with exact integer division — identical to what
    DuckDB yields for the same file.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # timestamp_micros yields TIMESTAMP_LTZ (session-tz sensitive);
            # pin UTC then cast to NTZ so `ts` matches the other tables'
            # timestamp_ntz semantics on ANY session (incl. the driver's)
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for the SQL surface
    (reference analogue: `publish_dataset`, `client.py:2213-2340`)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


class PlanCache:
    """Plan-fingerprint → persisted DataFrame memoizer.

    Reference parity: Wukong memoizes resubmission of identical task keys
    (`client.py:1486-1488`) and prunes graph nodes whose results are already
    in memory (`scheduler.py:1858-1890`).  Spark-first equivalent: fingerprint
    the analyzed logical plan; on repeat, return the persisted DataFrame so
    Catalyst reuses the cached plan fragment (InMemoryRelation).
    """

    #: persisted plans kept before LRU eviction: the oldest entry is
    #: unpersisted when the bound is exceeded, so a long-lived session that
    #: persists many distinct plans cannot pin executor memory without
    #: bound (ADVICE r1).  Evicted DataFrames still recompute correctly —
    #: persist is a performance hint, never a correctness dependency.
    def __init__(self, max_entries: int = 64) -> None:
        from collections import OrderedDict

        self._cache: "OrderedDict[str, DataFrame]" = OrderedDict()
        self._max = max_entries

    @staticmethod
    def fingerprint(df: DataFrame) -> str:
        # Canonicalized analyzed plan: Catalyst normalizes expression ids,
        # so structurally identical computations built at different times
        # fingerprint identically.
        return str(df._jdf.queryExecution().analyzed().canonicalized())

    def persist(self, df: DataFrame) -> DataFrame:
        fp = self.fingerprint(df)
        hit = self._cache.get(fp)
        if hit is not None:
            self._cache.move_to_end(fp)
            return hit
        cached = df.persist()
        self._cache[fp] = cached
        while len(self._cache) > self._max:
            _, old = self._cache.popitem(last=False)
            old.unpersist()
        return cached

    def unpersist(self, df: DataFrame) -> None:
        fp = self.fingerprint(df)
        hit = self._cache.pop(fp, None)
        if hit is not None:
            hit.unpersist()

    def clear(self) -> None:
        for df in self._cache.values():
            df.unpersist()
        self._cache.clear()


class scoped_shuffle_partitions:
    """Pin `spark.sql.shuffle.partitions` for a code block, restoring the
    session value (or its absence) on exit.

    Iterative operators (connected components, k-core, HITS, ALS) run a
    driver loop of SMALL keyed exchanges — (node, label) pairs, linear in
    nodes — that each materialize via an eager localCheckpoint.  The
    checkpoint severs the plan, so AQE never sees the loop as one query
    and every round pays the SESSION'S exchange width in task-launch
    latency: on a default 200-partition session a 10-round loop burns
    thousands of near-empty tasks regardless of data size.  Size the
    loop's exchanges to the per-iteration STATE (the label/survivor set),
    not to the edge-scan default.  The streaming runners
    (`streaming.run_to_memory`, `streaming.run_foreach_batch`) wrap a
    query's start in the same scope, which there fixes the state-store
    partition count (`streaming.default_state_partitions`).

    Session confs are session-global: don't run concurrent queries on
    other threads of the same session inside the scope."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.prev = self.spark.conf.get(self.KEY, None)
            self.spark.conf.set(self.KEY, str(self.n))
        return self

    def __exit__(self, *exc):
        if self.n is not None:
            if self.prev is None:
                self.spark.conf.unset(self.KEY)
            else:
                self.spark.conf.set(self.KEY, self.prev)
        return False


def release_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's persisted RDD immediately instead of waiting
    for driver GC + ContextCleaner.

    The checkpoint lives as RDD-level cache on the RDD held by the plan's
    LogicalRDD leaf — `DataFrame.unpersist()` cannot find it, and
    `queryExecution().toRdd()` returns a DERIVED wrapper RDD whose
    unpersist is a no-op (verified against getPersistentRDDs).  Only the
    analyzed plan's own `.rdd()` is the registered persistent RDD.

    A column projection of a checkpoint (`ck.select(...)`, as `als_fit`
    returns its factors) frees the checkpoint it reads, like the
    checkpoint itself would; a frame whose plan does more than project
    (a filter, a join) is left alone."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: GC reclaims it eventually


# --- result-checkpoint release registry (VERDICT r14 item 4) ----------------
#
# Converged-iteration operators (hits, pagerank, kcore, ALS …) return a plan
# backed by a checkpoint — the iteration that produced it is gone, so the
# checkpoint IS the result.  A long-lived session running many such entries
# (the driver's gate, bench.py) would accumulate those result RDDs forever:
# the release-discipline leak class ADVICE r13 flagged.
#
# Every checkpoint an operator makes goes through a `Checkpoints` scope (or,
# for a one-shot result, `register_result_checkpoint(checkpoint(df))`).  The
# scope frees what it owns when the block exits, by return or by raise; what
# must outlive it, `ck.keep(df)` registers here, and harnesses call
# `release_pending()` after CONSUMING each entry's result.
# tools/leak_audit.py asserts that, after that call, zero persistent RDDs
# created by the entry survive — registry-wide.

_PENDING_RESULT_CHECKPOINTS: list = []  # [(token, DataFrame)]
_PENDING_RESULT_TABLES: list = []  # [(token, SparkSession, table name)]
_NEXT_CHECKPOINT_TOKEN: int = 0


def checkpoint_token() -> int:
    """Scope marker for `release_pending(since=...)`: every registration
    from now on gets a token ≥ the returned value.  Take one BEFORE
    running an operator, and pass it to `release_pending(since=token)`
    after consuming its result — frames another consumer registered
    earlier stay alive (ADVICE r15: the bare-release contract could free
    a result a library caller was still holding)."""
    return _NEXT_CHECKPOINT_TOKEN


def register_result_checkpoint(df: DataFrame) -> DataFrame:
    """Mark `df` (checkpoint/persist-backed) as a result-backing frame to
    be freed by a later `release_pending()` once the caller has consumed
    the returned plan.  Returns `df` for chaining.

    CONTRACT for library consumers: the registry is session-global, and
    a released frame is an EAGER localCheckpoint whose lineage is gone —
    a plan that still references it fails with 'checkpoint block not
    found' after release.  So never hold an operator result across a
    bare `release_pending()`; if you must interleave consumers, scope
    releases with `checkpoint_token()` / `release_pending(since=token)`
    so releasing one entry's result cannot free another's.  (See
    MIGRATING.md §result lifetime.)"""
    global _NEXT_CHECKPOINT_TOKEN
    _PENDING_RESULT_CHECKPOINTS.append((_NEXT_CHECKPOINT_TOKEN, df))
    _NEXT_CHECKPOINT_TOKEN += 1
    return df


def register_result_table(spark: SparkSession, table: str) -> str:
    """Mark a warehouse layout table (bucketed saveAsTable) as backing a
    still-unconsumed result, to be DROPPED by a later `release_pending()`
    (VERDICT r15 Next #8: gate runs were accumulating `bkt_*` layouts in
    spark-warehouse/ forever).  Same lifetime contract as
    `register_result_checkpoint`: after release, a plan that still scans
    the table fails — consume first, then release.  Returns `table`."""
    global _NEXT_CHECKPOINT_TOKEN
    _PENDING_RESULT_TABLES.append((_NEXT_CHECKPOINT_TOKEN, spark, table))
    _NEXT_CHECKPOINT_TOKEN += 1
    return table


def register_result_path(spark: SparkSession, path: str) -> str:
    """Like `register_result_table`, but for a warehouse PATH a source
    entry wrote (format roundtrips, compaction, row-group layouts):
    deleted by a later `release_pending()` once the result plan scanning
    it has been consumed.  Returns `path`."""
    global _NEXT_CHECKPOINT_TOKEN
    _PENDING_RESULT_TABLES.append((_NEXT_CHECKPOINT_TOKEN, spark, ("path", path)))
    _NEXT_CHECKPOINT_TOKEN += 1
    return path


def release_pending(since: int | None = None) -> int:
    """Release registered result-backing checkpoints (harness hook: call
    after collecting an entry's result).  Returns how many frames were
    released.

    `since=None` releases EVERYTHING — the single-consumer harness mode
    (driver_mimic, check_correctness, plan_audit, bench, the pytest
    autouse fixture all run entries sequentially and release between
    them).  Passing a `checkpoint_token()` taken before an entry ran
    releases only that entry's registrations, leaving earlier consumers'
    still-unread results alive."""
    global _PENDING_RESULT_CHECKPOINTS, _PENDING_RESULT_TABLES
    n = 0
    keep: list = []
    for tok, df in _PENDING_RESULT_CHECKPOINTS:
        if since is not None and tok < since:
            keep.append((tok, df))
            continue
        release_checkpoint(df)
        try:
            df.unpersist()
        except Exception:
            pass
        n += 1
    _PENDING_RESULT_CHECKPOINTS = keep
    keep_t: list = []
    for tok, spark, target in _PENDING_RESULT_TABLES:
        if since is not None and tok < since:
            keep_t.append((tok, spark, target))
            continue
        try:
            from wukong_spark.layout import drop_managed_table, fs_delete

            if isinstance(target, tuple) and target[0] == "path":
                fs_delete(spark, target[1])
            else:
                drop_managed_table(spark, target)
        except Exception:
            pass  # session already stopped — warehouse dir GC'd elsewhere
        n += 1
    _PENDING_RESULT_TABLES = keep_t
    return n


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut `df`'s lineage: the package's one `localCheckpoint` call.

    Eager runs a job now; lazy materializes on the checkpoint's first
    action, which must read it once (a second reference in that action
    recomputes it).  Iterative plans need the cut: a persisted loop plan
    keeps its full lineage, and an iterated union-of-joins plan grows
    exponentially.  Make it inside a `Checkpoints` scope, or register a
    one-shot result with `register_result_checkpoint(checkpoint(df))`."""
    return df.localCheckpoint(eager=eager)


class Checkpoints:
    """The scope that owns every checkpoint an operator makes.

    ``with Checkpoints() as ck:`` — ``ck(df, eager=...)`` checkpoints `df`
    and owns the result; ``ck.persist(x)`` owns a persisted input (a
    DataFrame, persisted here, or a Broadcast); ``ck.free(*xs)`` frees
    owned values now (anything else, None included, is ignored, so a
    second free does nothing); ``ck.keep(df)`` hands `df` to the result
    registry (`register_result_checkpoint`) so it outlives the scope.
    Leaving the block, by return or by raise, frees everything still
    owned, newest first.

    The scope runs no Spark action.  Free a predecessor only after the
    action that materializes its successor: a freed checkpoint is gone,
    not recomputable, and a lazy one's pending job still reads it."""

    def __init__(self) -> None:
        self._owned: list = []  # [(value, is_checkpoint)], oldest first

    def __enter__(self) -> "Checkpoints":
        return self

    def __call__(self, df: DataFrame, eager: bool = True) -> DataFrame:
        ck = checkpoint(df, eager)
        self._owned.append((ck, True))
        return ck

    def persist(self, x):
        if isinstance(x, DataFrame):
            x = x.persist()
        self._owned.append((x, False))
        return x

    def _disown(self, x):
        for i, (y, is_ckpt) in enumerate(self._owned):
            if y is x:
                del self._owned[i]
                return is_ckpt
        return None

    @staticmethod
    def _release(x, is_ckpt: bool) -> None:
        if is_ckpt:
            release_checkpoint(x)
        else:
            x.unpersist()

    def free(self, *xs) -> None:
        for x in xs:
            is_ckpt = self._disown(x)
            if is_ckpt is not None:
                self._release(x, is_ckpt)

    def keep(self, df: DataFrame) -> DataFrame:
        self._disown(df)
        return register_result_checkpoint(df)

    def __exit__(self, *exc) -> bool:
        while self._owned:
            self._release(*self._owned.pop())
        return False
