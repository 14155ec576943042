"""Task-graph surface parity tests (SURVEY.md §2.1/§2.2 B-I).

Each test mirrors a reference example or client-API behavior:
tree_reduction.py / fan_in.py / linear_dag.py, submit/map/gather semantics
from `wukong/tests/test_client.py:98-583`, error propagation (A27),
memoized resubmission (`client.py:1486-1488`).
"""

from __future__ import annotations

import operator

import pandas as pd
import pytest

from wukong_spark.taskgraph import Future, WukongClient


@pytest.fixture(scope="module")
def client(spark):
    c = WukongClient(spark)
    yield c
    c.close()


def _inc(x):
    return x + 1


def _add(x, y):
    return x + y


def test_submit_and_result(client):
    fut = client.submit(_inc, 41)
    assert isinstance(fut, Future)
    assert fut.result() == 42
    assert fut.done()


def test_submit_memoizes_identical_tasks(client):
    # client.py:1486-1488 — same (func, args) → same Future
    f1 = client.submit(_add, 1, 2)
    f2 = client.submit(_add, 1, 2)
    assert f1 is f2
    assert f1.result() == 3


def test_fan_in_future_args(client):
    # examples/fan_in.py: add(inc(1), inc(2))
    x = client.submit(_inc, 1)
    y = client.submit(_inc, 2)
    z = client.submit(_add, x, y)
    assert z.result() == 5


def test_linear_chain(client):
    # examples/linear_dag.py: sequential dependent tasks
    f = client.submit(_inc, 0)
    for _ in range(4):
        f = client.submit(_add, f, 1)
    assert f.result() == 5


def test_map_preserves_order(client):
    # reference contract (`client.py:1524`): one future PER ELEMENT
    futs = client.map(_inc, range(100))
    assert isinstance(futs, list) and all(isinstance(f, Future) for f in futs)
    assert client.gather(futs) == list(range(1, 101))
    # unpacking works like the reference's `x, y = c.map(f, [10, 20])`
    x, y = client.map(_inc, [10, 20])
    assert (x.result(), y.result()) == (11, 21)
    # memoized: identical map returns the same element futures
    futs2 = client.map(_inc, range(100))
    assert futs2[0] is futs[0]
    # multiple iterables zip positionally, like the reference
    assert client.gather(client.map(_add, [1, 2, 3], [10, 20, 30])) == [11, 22, 33]


def test_gather_list(client):
    futs = [client.submit(_inc, i) for i in range(5)]
    assert client.gather(futs) == [1, 2, 3, 4, 5]


def test_error_propagation(client):
    # A27: executor exception surfaces on future.result()
    def boom(_):
        raise ValueError("task failed on purpose")

    fut = client.submit(boom, 1, pure=False)
    with pytest.raises(Exception, match="task failed on purpose"):
        fut.result()
    assert fut.exception() is not None


def test_scatter_dataframe_and_compute(client, spark):
    pdf = pd.DataFrame({"x": range(10), "y": range(10, 20)})
    df = client.scatter(pdf)
    assert df.count() == 10
    fut = client.compute(df.groupBy().sum("x"))
    rows = fut.result()
    assert rows[0][0] == sum(range(10))


def test_scatter_broadcast_small_value(client):
    b = client.scatter({"model": [1, 2, 3]})
    assert b.value == {"model": [1, 2, 3]}


def test_persist_memoizes_plan(client, spark):
    df1 = spark.range(1000).selectExpr("id * 2 AS v")
    df2 = spark.range(1000).selectExpr("id * 2 AS v")
    p1 = client.persist(df1)
    p2 = client.persist(df2)  # identical plan → same cached DF
    assert p1 is p2
    assert p1.count() == 1000


def test_tree_reduction_1024_leaves(client):
    # examples/tree_reduction.py:46 — pairwise add over 1024 leaves
    total = client.tree_reduce(range(1024), operator.add, 0, depth=2)
    assert total == 1024 * 1023 // 2


def test_tree_reduce_dataframe_column(client, spark):
    df = spark.range(256).selectExpr("CAST(id AS BIGINT) AS v")
    assert client.tree_reduce(df, operator.add, 0) == 255 * 256 // 2


def test_as_completed_and_wait(client, tmp_path):
    """Completion order is gated on sentinel FILES the test itself creates
    (tasks run in executor Python workers, so threading.Events can't cross;
    the filesystem can).  Only one future is ever unblocked at a time, so
    the yield order is deterministic — no wall-clock race (VERDICT r15
    wrong #2: the old 0.1s/0.2s-sleep version flaked on loaded hosts)."""
    import os
    import time

    d = str(tmp_path)

    def gated(val, gate_dir=d):
        deadline = time.time() + 120
        p = os.path.join(gate_dir, f"go{val}")
        while not os.path.exists(p):
            if time.time() > deadline:
                raise TimeoutError(f"gate {p} never appeared")
            time.sleep(0.01)
        return val

    futs = {v: client.submit(gated, v, pure=False) for v in (1, 2, 3)}
    it = client.as_completed(futs.values())
    seen = []
    for expect in (2, 3, 1):  # != submission order
        open(os.path.join(d, f"go{expect}"), "w").close()
        f = next(it)
        seen.append(f.result())
        assert f is futs[expect]
    assert seen == [2, 3, 1]
    done, not_done = client.wait(futs.values())
    assert len(done) == 3 and not not_done


def test_fire_and_forget_detaches(client):
    f = client.submit(lambda: 99)
    client.fire_and_forget(f)
    # memo dropped: a new submit of the same task is a fresh future
    g = client.submit(lambda: 99)
    assert g.result() == 99


def test_publish_dataset_roundtrip(client, spark):
    df = spark.range(10).withColumnRenamed("id", "x")
    client.publish_dataset("published_xs", df)
    got = client.get_dataset("published_xs")
    assert got.count() == 10
    assert spark.sql("SELECT SUM(x) AS s FROM published_xs").collect()[0].s == 45
    client.unpublish_dataset("published_xs")


def test_deep_dependency_chain_exceeds_pool(spark):
    """A dependency chain deeper than the worker pool must not deadlock:
    parents resolve via completion callbacks, so no pool thread ever blocks
    waiting on another task (ADVICE r1 bounded-pool hazard)."""
    c = WukongClient(spark, max_workers=2)
    try:
        f = c.submit(_inc, 0)
        for _ in range(8):  # depth 9 ≫ 2 workers
            f = c.submit(_inc, f)
        assert f.result(timeout=120) == 9
    finally:
        c.close()


def test_wide_fanin_exceeds_pool(spark):
    """Fan-in whose parent count exceeds the pool: same callback guarantee."""
    c = WukongClient(spark, max_workers=2)
    try:
        parents = [c.submit(_inc, i) for i in range(6)]
        total = c.submit(lambda *xs: sum(xs), *parents)
        assert total.result(timeout=120) == sum(range(1, 7))
    finally:
        c.close()


def test_unpicklable_task_not_memoized(client):
    """Unpicklable tasks are treated as impure — no id()-derived memo key
    that a later unrelated task could silently collide with (ADVICE r1).
    Such a task cannot ship to executors either, so it must fail LOUDLY
    (A27) on every submission, never return a stale memoized future."""
    import threading

    lock = threading.Lock()  # unpicklable argument

    def use_lock(lk, v):
        return v * 2

    f1 = client.submit(use_lock, lock, 21)
    f2 = client.submit(use_lock, lock, 21)
    assert f1.key != f2.key  # distinct (non-memoized) futures
    for f in (f1, f2):
        with pytest.raises(Exception):
            f.result(timeout=60)


def test_raw_dict_graph_get(client):
    """A3: Client.get over a raw dict graph (`client.py:2602-2677`),
    mirroring the reference's literal-tuple task interpretation
    (`TaskExecutor/function.py:3808-3823`): execute_task((sum,[1,2,(inc,3)]))."""
    assert client.get({"x": (sum, [1, 2, (_inc, 3)])}, "x") == 7


def test_raw_dict_graph_diamond_and_refs(client):
    """Key references + diamond deps (shared key computes once) + multi-key."""
    dsk = {
        "a": 1,
        "b": (_inc, "a"),          # 2
        "c": (_inc, "b"),          # 3
        "d": (_add, "b", "c"),     # 5 — b referenced twice
        "e": (sum, ["b", "c", (_inc, "d")]),  # 2+3+6 = 11
    }
    assert client.get(dsk, "d") == 5
    assert client.get(dsk, ["b", "e"]) == [2, 11]


def test_raw_dict_graph_cycle_raises(client):
    with pytest.raises(ValueError, match="cycle"):
        client.get({"x": (_inc, "y"), "y": (_inc, "x")}, "x")


def test_future_cancel_running_job(spark):
    """A28: cancelling a RUNNING submitted task kills its Spark job group;
    the future resolves to CancelledError, other work is unaffected."""
    import time
    from concurrent.futures import CancelledError

    c = WukongClient(spark)
    try:
        def slow(x):
            time.sleep(30)
            return x

        f = c.submit(slow, 1, pure=False)
        time.sleep(2)  # let the Spark job actually start
        assert f.cancel()
        with pytest.raises((CancelledError, Exception)):
            f.result(timeout=30)
        assert f.done()
        # the session still works after a job-group cancel
        g = c.submit(_inc, 41)
        assert g.result(timeout=60) == 42
    finally:
        c.close()


def test_future_retry_after_failure(spark):
    """A28: retry() resubmits in a fresh job group and can succeed after a
    transient failure (`client.py:2198-2212`)."""
    import os
    import tempfile

    c = WukongClient(spark)
    try:
        marker = tempfile.mktemp(prefix="wukong-retry-")

        def flaky(path):
            # fails on first attempt, succeeds once the marker exists
            if not os.path.exists(path):
                with open(path, "w") as fh:
                    fh.write("attempted")
                raise RuntimeError("transient")
            return "ok"

        f = c.submit(flaky, marker, pure=False)
        # executor exceptions surface Py4J-wrapped (A27), match the message
        with pytest.raises(Exception, match="transient"):
            f.result(timeout=60)
        f.retry()
        assert f.result(timeout=60) == "ok"
        os.unlink(marker)
    finally:
        c.close()


# -- worker_client / get_client (reference worker_client.py:11-57,
#    tests/test_worker_client.py) ----------------------------------------
def test_submit_from_task_with_worker_client(client):
    """The reference's test_submit_from_worker shape: a task submits
    subtasks through worker_client() and combines their results."""
    from wukong_spark.taskgraph import worker_client

    def func(x):
        with worker_client() as c:
            a = c.submit(_inc, x)
            b = c.submit(lambda v: v * 2, a, pure=False)
            return a.result() + b.result()

    x = client.submit(func, 10, with_client=True)
    y = client.submit(func, 20, with_client=True, pure=False)
    assert client.gather([x, y]) == [11 + 22, 21 + 42]


def test_get_client_inside_task_and_default(client, spark):
    from wukong_spark.taskgraph import get_client

    fresh = WukongClient(spark)
    try:
        assert get_client() is fresh  # driver-side fallback: LATEST client
    finally:
        fresh.close()

    def func():
        # inside a with_client task the thread-local wins over the default
        return get_client().submit(_inc, 41).result()

    assert client.submit(func, with_client=True).result(60) == 42


def test_worker_client_no_pool_deadlock(spark):
    """More blocking coordinators than pool threads: coordinators run
    seceded (outside the pool), so the children they wait on can still
    get slots — the hazard the reference solves with secede()."""
    from wukong_spark.taskgraph import worker_client

    c = WukongClient(spark, max_workers=2)
    try:
        def func(x):
            with worker_client() as wc:
                kids = [wc.submit(_inc, x * 10 + i, pure=False) for i in range(3)]
                return sum(wc.gather(kids))

        futs = [c.submit(func, i, with_client=True, pure=False) for i in range(4)]
        want = [sum(i * 10 + j + 1 for j in range(3)) for i in range(4)]
        assert [f.result(120) for f in futs] == want
    finally:
        c.close()


def test_with_client_task_error_propagates(client):
    def boom():
        raise RuntimeError("coordinator failed")

    f = client.submit(boom, with_client=True, pure=False)
    with pytest.raises(RuntimeError, match="coordinator failed"):
        f.result(60)


def test_with_client_chained_parent_futures(client):
    """A coordinator task whose args are Futures still resolves parents
    via callbacks before launching."""
    from wukong_spark.taskgraph import get_client

    parent = client.submit(_inc, 4, pure=False)

    def func(v):
        return get_client().submit(_inc, v, pure=False).result()

    assert client.submit(func, parent, with_client=True, pure=False).result(60) == 6


# -- ClientExecutor (reference client.py:1406-1421, test_client_executor.py) --
def test_executor_submit_and_errors(client):
    from concurrent.futures import Future as CFuture

    def boom(x):
        raise RuntimeError(x)

    with client.get_executor(pure=False) as e:
        f1 = e.submit(_add, 1, 2)
        assert isinstance(f1, CFuture)
        f2 = e.submit(_add, 3, y=4)
        f3 = e.submit(boom, "foo")
        assert f1.result(60) == 3
        assert f2.result(60) == 7
        # A27 semantics: the remote error surfaces on result() with its
        # message (Spark wraps the original RuntimeError)
        with pytest.raises(Exception, match="foo"):
            f3.result(60)


def test_executor_stdlib_wait_and_as_completed(client):
    from concurrent.futures import as_completed as cf_as_completed
    from concurrent.futures import wait as cf_wait

    with client.get_executor(pure=False) as e:
        fs = [e.submit(_inc, i) for i in range(8)]
        got = {f.result() for f in cf_as_completed(fs)}
        assert got == set(range(1, 9))
        done, not_done = cf_wait(fs, timeout=30)
        assert len(done) == 8 and not not_done


def test_executor_map_in_order(client):
    with client.get_executor(pure=False) as e:
        assert list(e.map(_inc, range(6))) == list(range(1, 7))
        assert list(e.map(_add, [1, 2, 3], [10, 20, 30])) == [11, 22, 33]


def test_executor_shutdown_rejects_new_work(client):
    e = client.get_executor(pure=False)
    f = e.submit(_inc, 1)
    e.shutdown(wait=True)
    assert f.result(60) == 2
    with pytest.raises(RuntimeError):
        e.submit(_inc, 2)


def test_upload_file_module_importable_in_tasks(client, tmp_path):
    """Reference upload_file semantics: ship a .py module, tasks import it."""
    mod = tmp_path / "wukong_uploaded_mod.py"
    mod.write_text("VALUE = 1234\n")
    client.upload_file(str(mod))

    def read_value():
        import wukong_uploaded_mod

        return wukong_uploaded_mod.VALUE

    assert client.submit(read_value, pure=False).result(60) == 1234


def test_upload_file_zip_package_importable_in_tasks(client, tmp_path):
    """A .zip package shipped with upload_file imports in tasks: workers
    keep picking up archives added after they started."""
    import zipfile

    archive = tmp_path / "wukong_uploaded_pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wukong_uploaded_pkg/__init__.py", "VALUE = 5678\n")
    client.upload_file(str(archive))

    def read_value():
        import wukong_uploaded_pkg

        return wukong_uploaded_pkg.VALUE, wukong_uploaded_pkg.__file__

    value, path = client.submit(read_value, pure=False).result(60)
    assert value == 5678
    assert "wukong_uploaded_pkg.zip" in path


def test_run_on_every_slot(client):
    import os

    out = client.run(os.getpid)
    n = client.spark.sparkContext.defaultParallelism
    assert set(out) == set(range(n))
    assert all(isinstance(v, int) for v in out.values())


def test_list_datasets(client, spark):
    df = spark.range(5).withColumnRenamed("id", "v")
    client.publish_dataset("listed_ds_a", df)
    client.publish_dataset("listed_ds_b", df)
    names = client.list_datasets()
    assert {"listed_ds_a", "listed_ds_b"} <= set(names)
    client.unpublish_dataset("listed_ds_a")
    client.unpublish_dataset("listed_ds_b")
    assert "listed_ds_a" not in client.list_datasets()


def test_map_element_cancel_does_not_strand_batch(client):
    """ADVICE r4: cancelling ONE element future of a map batch must not
    abort result distribution for the remaining elements."""
    import time

    def slow_inc(x):
        time.sleep(1.5)
        return x + 1

    futs = client.map(slow_inc, [700, 800, 900])
    assert futs[1].cancel()  # pending element pyfuture → cancel succeeds
    # the other elements must still resolve from the batch result
    assert futs[0].result(60) == 701
    assert futs[2].result(60) == 901
    with pytest.raises(Exception):
        futs[1].result(5)


def test_executor_follower_tracks_retry_swap(client, tmp_path):
    """ADVICE r4: the executor future must follow the client Future's
    CURRENT attempt — a retry that swaps in a new pyfuture before the old
    attempt resolves re-attaches the follower instead of copying the old
    attempt's outcome."""
    import time
    from concurrent.futures import Future as PyFuture

    gate = tmp_path / "go"

    def gated(p=str(gate)):
        import os
        import time as _t

        while not os.path.exists(p):
            _t.sleep(0.05)
        return 1

    e = client.get_executor(pure=False)
    out = e.submit(gated)
    cf = e._futures[-1]
    newpf: PyFuture = PyFuture()
    cf._f = newpf  # simulate Future.retry() swapping in attempt 2
    gate.write_text("")  # attempt 1 now finishes with result 1
    deadline = time.time() + 30
    while not newpf._done_callbacks and time.time() < deadline:
        time.sleep(0.05)  # wait for the chain to re-attach to attempt 2
    assert newpf._done_callbacks, "follower never re-attached to the retry"
    assert not out.done()  # attempt 1's outcome must NOT have been copied
    newpf.set_result(2)
    assert out.result(10) == 2


def test_get_client_cleared_after_close(client, spark):
    """ADVICE r4: a closed client must not be handed out by get_client()."""
    import wukong_spark.taskgraph as tg
    from wukong_spark.taskgraph import get_client

    c2 = WukongClient(spark)
    assert get_client() is c2  # latest constructed wins
    c2.close()
    with pytest.raises(ValueError):
        get_client()
    # restore the module fixture's client as the process default for any
    # later test relying on the driver-side fallback
    tg._default_client = client
    assert get_client() is client


def test_cluster_introspection_surface(client):
    """Client-surface parity (`client.py:3032-3479`): scheduler_info /
    ncores / who_has / has_what / processing on the Spark-native mirror."""
    f = client.submit(_inc, 4100)
    assert f.result(60) == 4101
    info = client.scheduler_info()
    assert info["type"] == "SparkDriver" and info["master"].startswith("local")
    cores = client.ncores()
    assert cores and all(v >= 1 for v in cores.values())
    wh = client.who_has([f])
    assert wh[f.key] == ["driver"]
    assert f.key in client.has_what()["driver"]
    assert f.key not in client.processing()["driver"]


def test_replicate_and_restart(client, spark):
    df = spark.range(10)
    rep = client.replicate(df)
    assert rep.storageLevel.replication == 2
    rep.unpersist()
    assert client.replicate(42) == 42  # non-DataFrame passes through
    assert client.rebalance() is None
    f = client.submit(_inc, 4200)
    f.result(60)
    client.restart()
    assert client.has_what()["driver"] == []  # memo dropped


def test_executor_shutdown_cancel_futures(client):
    import time

    def sleepy(t):
        time.sleep(t)
        return t

    e = client.get_executor(pure=False)
    fs = [e.submit(sleepy, 5.0) for _ in range(3)]
    e.shutdown(wait=False, cancel_futures=True)
    # every future either cancelled before starting or interrupted mid-job;
    # none may hang — result() must resolve (value or error) promptly
    resolved = 0
    for pf in fs:
        try:
            pf.result(30)
            resolved += 1
        except Exception:
            resolved += 1
    assert resolved == 3


def test_executor_follower_survives_hung_attempt_retry(client, tmp_path):
    """Retrying a HUNG attempt (the usual reason to retry) must re-attach
    the follower via the swap itself — the hung attempt's done-callback
    never fires, so it cannot be the re-attach trigger."""
    counter = tmp_path / "attempts"
    gate = tmp_path / "gate"

    def attempt_dependent(cpath=str(counter), gpath=str(gate)):
        import os
        import time as _t

        with open(cpath, "a") as fh:
            fh.write("x")
        with open(cpath) as fh:
            n = len(fh.read())
        if n == 1:  # first attempt: hang until the test releases it
            while not os.path.exists(gpath):
                _t.sleep(0.05)
            return -1
        return 42

    e = client.get_executor(pure=False)
    out = e.submit(attempt_dependent)
    cf = e._futures[-1]
    import time

    deadline = time.time() + 30
    while not counter.exists() and time.time() < deadline:
        time.sleep(0.05)  # attempt 1 is running (and hung)
    cf.retry()  # attempt 2 returns 42 while attempt 1 still hangs
    try:
        assert out.result(timeout=60) == 42
    finally:
        gate.write_text("")  # release attempt 1 so its job can finish


def test_follower_cancel_reports_failure(client):
    """stdlib contract: cancel() returns False when the underlying work
    could not be cancelled — the follower must not mark itself cancelled
    while the Spark job keeps running."""
    import time

    def sleepy():
        time.sleep(3)
        return 7

    e = client.get_executor(pure=False)
    out = e.submit(sleepy)
    cf = e._futures[-1]
    cf._cancel_hook = lambda: False  # job-group cancel "failed"
    assert out.cancel() is False
    assert not out.cancelled()
    assert out.result(timeout=60) == 7  # the uncancelled work still lands


def test_release_checkpoint_frees_persistent_rdd(spark):
    """release_checkpoint must unpersist the localCheckpoint's REGISTERED
    RDD (queryExecution().toRdd() is a derived wrapper whose unpersist is
    a no-op — verified against getPersistentRDDs)."""
    from wukong_spark.session import release_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.range(1000).selectExpr("id", "id * 2 AS y").localCheckpoint(eager=True)
    assert jsc.getPersistentRDDs().size() == before + 1
    release_checkpoint(df)
    assert jsc.getPersistentRDDs().size() == before


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_checkpoint_scope_frees_on_return_and_raise(spark):
    """A `Checkpoints` scope frees the checkpoints and persists it owns
    when its block exits, by return and by raise alike."""
    from wukong_spark.session import Checkpoints

    before = _persistent_rdds(spark)

    def run(fail: bool) -> int:
        with Checkpoints() as ck:
            base = ck.persist(spark.range(500).selectExpr("id", "id % 7 AS k"))
            lazy = ck(base.groupBy("k").count(), eager=False)
            eager = ck(base.filter("k = 3"))
            n = lazy.count() + eager.count()
            assert len(_persistent_rdds(spark) - before) == 3
            if fail:
                raise ValueError("boom")
            return n

    assert run(False) == 7 + 71
    assert _persistent_rdds(spark) <= before
    with pytest.raises(ValueError, match="boom"):
        run(True)
    assert _persistent_rdds(spark) <= before


def test_checkpoint_scope_free_is_idempotent(spark):
    """`free` releases an owned checkpoint at once; a second free, a
    None, or a frame the scope does not own is a no-op."""
    from wukong_spark.session import Checkpoints, release_checkpoint

    before = _persistent_rdds(spark)
    outside = spark.range(10).localCheckpoint(eager=True)
    with Checkpoints() as ck:
        a = ck(spark.range(100))
        b = ck(spark.range(200))
        ck.free(a)
        assert len(_persistent_rdds(spark) - before) == 2  # b and outside
        ck.free(a, None, outside)
        assert len(_persistent_rdds(spark) - before) == 2
        assert b.count() == 200
    assert len(_persistent_rdds(spark) - before) == 1  # only outside is left
    assert outside.count() == 10
    release_checkpoint(outside)


def test_checkpoint_scope_keep_registers_result(spark):
    """A `keep`-ed checkpoint outlives its scope as a registered result
    and goes at `release_pending(since=token)`."""
    from wukong_spark.session import Checkpoints, checkpoint_token, release_pending

    before = _persistent_rdds(spark)
    token = checkpoint_token()
    with Checkpoints() as ck:
        ck(spark.range(30))
        kept = ck.keep(ck(spark.range(40)))
    assert len(_persistent_rdds(spark) - before) == 1
    assert kept.count() == 40
    assert release_pending(since=token) == 1
    assert _persistent_rdds(spark) <= before


def test_local_checkpoint_has_one_call_site():
    """Every lineage cut in the package goes through `session.checkpoint`:
    exactly one `.localCheckpoint(` call exists under wukong_spark/, and
    it is in session.py."""
    import ast
    import pathlib

    import wukong_spark

    root = pathlib.Path(wukong_spark.__file__).parent
    sites = [
        f"{p.relative_to(root)}:{node.lineno}"
        for p in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert len(sites) == 1 and sites[0].startswith("session.py:"), sites


def test_release_checkpoint_through_projection_only(spark):
    """A column projection of a checkpoint (how als_fit returns U and V)
    frees the checkpoint; a filter view over it does not."""
    from wukong_spark.session import release_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.range(1000).selectExpr("id", "id * 2 AS y").localCheckpoint(eager=True)
    release_checkpoint(df.filter("y > 10").select("id"))
    assert jsc.getPersistentRDDs().size() == before + 1
    release_checkpoint(df.select("y").withColumnRenamed("y", "z"))
    assert jsc.getPersistentRDDs().size() == before


def test_executor_listener_pruned_after_resolve(client):
    """Memoized pure Futures outlive their followers — the attempt listener
    must be removed once the follower resolves, or repeated submits of the
    same key accumulate dead closures on the memo entry."""
    import time

    e = client.get_executor()
    out = e.submit(_inc, 41)
    assert out.result(30) == 42
    cf = e._futures[-1]
    deadline = time.time() + 10
    while cf._attempt_listeners and time.time() < deadline:
        time.sleep(0.05)  # chain's _unlisten runs in the done-callback
    assert cf._attempt_listeners == []


def test_release_pending_token_scoping(spark):
    """checkpoint_token / release_pending(since=...) (ADVICE r15): a
    scoped release frees only registrations made at-or-after the token —
    an earlier consumer's checkpoint-backed result stays readable."""
    from wukong_spark.session import (
        checkpoint_token,
        register_result_checkpoint,
        release_pending,
    )

    early = register_result_checkpoint(
        spark.range(50).localCheckpoint(eager=True)
    )
    t = checkpoint_token()
    register_result_checkpoint(spark.range(9).localCheckpoint(eager=True))
    assert release_pending(since=t) == 1
    # the earlier result must still be collectible (its checkpoint lives)
    assert early.count() == 50
    assert release_pending() == 1  # now the early one goes


def test_dependent_task_memoized(client):
    """A Future argument tokenizes by its key, so an identical dependent
    submission returns the SAME Future (`client.py:1486-1488`)."""
    a = client.submit(_inc, 5100)
    b = client.submit(_inc, a)
    assert client.submit(_inc, a) is b
    assert client.submit(_add, a, 1) is not b
    assert b.result(60) == 5102


def test_futures_inside_list_argument_resolve(client):
    """dask's submit contract: Futures one level inside a list or tuple
    argument are parents, and the task receives their values in the same
    container type."""
    a, b = client.submit(_inc, 5200), client.submit(_inc, 5300)
    assert client.submit(sum, [a, b, 1]).result(60) == 5201 + 5301 + 1
    assert client.submit(lambda t: t, (a, 2)).result(60) == (5201, 2)


def _jobs_since(sc, before: int | None = None) -> int:
    """The id of a fresh probe job, or the number of jobs run between the
    `before` probe and a new one."""
    import time
    import uuid

    deadline = time.time() + 30
    while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.05)  # an earlier test's job still running
    tag = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last = max(sc.statusTracker().getJobIdsForGroup(tag))
    return last if before is None else last - before - 1


def test_get_list_argument_costs_no_job(spark):
    """A list argument of a `get` task resolves inside the consuming task:
    two leaves and their sum are three 1-partition jobs, with no fan-in job
    for the list."""
    c = WukongClient(spark)
    try:
        sc = spark.sparkContext
        before = _jobs_since(sc)
        dsk = {"a": (_inc, 5400), "b": (_inc, 5500), "x": (sum, ["a", "b", 1])}
        assert c.get(dsk, "x") == 5401 + 5501 + 1
        assert _jobs_since(sc, before) == 3
        assert c.get({"y": ["a", ["b"]], **dsk}, "y") == [5401, [5501]]
    finally:
        c.close()


def test_cancel_pending_task_cancels_dependents(spark, tmp_path):
    """Cancelling a task that waits on its parent cancels its dependents
    too (A28): a chain a → b → c with b cancelled before a finishes leaves
    c cancelled, not pending forever."""
    from concurrent.futures import CancelledError

    gate = tmp_path / "gate"

    def gated(p=str(gate)):
        import os
        import time as _t

        while not os.path.exists(p):
            _t.sleep(0.05)
        return 1

    c = WukongClient(spark)
    try:
        a = c.submit(gated, pure=False)
        b = c.submit(_inc, a)
        d = c.submit(_inc, b)
        assert b.cancel()
        gate.write_text("")
        assert a.result(60) == 1
        with pytest.raises(CancelledError):
            d.result(timeout=30)
        with pytest.raises(CancelledError):
            b.result(timeout=1)
    finally:
        gate.write_text("")
        c.close()


def test_fan_in_count_survives_concurrent_parents(spark):
    """Many parents finishing at once on their own threads each decrement
    the child's pending-parent count under its lock; a lost update would
    leave the child waiting forever.  A short switch interval makes
    interleavings inside the count likely."""
    import sys

    c = WukongClient(spark)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        parents = [c.submit(_inc, i, with_client=True, pure=False) for i in range(64)]
        total = c.submit(sum, parents, with_client=True)
        assert total.result(timeout=120) == sum(range(1, 65))
    finally:
        sys.setswitchinterval(old)
        c.close()


def test_map_resolves_future_items(client):
    """Futures among map's items are parents, as in submit: the batch waits
    for them and the mapped function sees their values, in any of the
    zipped iterables.  Element futures stay non-retryable."""
    futs = client.map(_inc, [client.submit(_inc, 1), 5])
    assert client.gather(futs) == [3, 6]
    assert client.gather(client.map(_add, [1, 2], [client.submit(_inc, 10), 20])) == [12, 22]
    with pytest.raises(ValueError, match="not retryable"):
        futs[0].retry()


def test_map_costs_one_job(spark):
    """A map is one Spark job however many elements it has; its element
    futures index the batch result without a job of their own.  A Future
    item adds only its own task's job."""
    c = WukongClient(spark)
    try:
        sc = spark.sparkContext
        before = _jobs_since(sc)
        assert c.gather(c.map(_inc, range(5600, 5608))) == list(range(5601, 5609))
        assert _jobs_since(sc, before) == 1
        before = _jobs_since(sc)
        assert c.gather(c.map(_inc, [c.submit(_inc, 5700), 5800])) == [5702, 5801]
        assert _jobs_since(sc, before) == 2
    finally:
        c.close()


def test_cancel_running_compute(spark, tmp_path):
    """compute() collects in its own job group, so cancel() on a running
    plan interrupts its Spark job (A28) and result() raises
    CancelledError."""
    import time
    from concurrent.futures import CancelledError

    from pyspark.sql import functions as F

    started, gate = tmp_path / "started", tmp_path / "gate"

    def wait(x, s=str(started), g=str(gate)):
        import os
        import time as _t

        open(s, "w").close()
        while not os.path.exists(g):
            _t.sleep(0.05)
        return x

    df = spark.range(1, numPartitions=1).select(F.udf(wait, "long")("id").alias("x"))
    c = WukongClient(spark)
    try:
        f = c.compute(df)
        deadline = time.time() + 60
        while not started.exists() and time.time() < deadline:
            time.sleep(0.05)
        assert started.exists()
        assert f.cancel()
        with pytest.raises(CancelledError):
            f.result(timeout=30)
    finally:
        gate.write_text("")
        c.close()


def test_futures_client_launches_in_one_place():
    """Every futures entry point (submit, retry, map, compute) starts its
    work through `WukongClient._launch`: in taskgraph.py,
    `self._pool.submit(` and `threading.Thread(` are called only there."""
    import ast
    import pathlib

    import wukong_spark.taskgraph as tg

    tree = ast.parse(pathlib.Path(tg.__file__).read_text())

    def launches(node) -> set[int]:
        return {
            n.lineno
            for n in ast.walk(node)
            if isinstance(n, ast.Call)
            and ast.unparse(n.func) in ("self._pool.submit", "threading.Thread")
        }

    (launch,) = [
        f
        for c in tree.body
        if isinstance(c, ast.ClassDef) and c.name == "WukongClient"
        for f in c.body
        if isinstance(f, ast.FunctionDef) and f.name == "_launch"
    ]
    assert len(launches(launch)) == 2
    assert launches(tree) == launches(launch)


def test_cancel_finished_future_returns_false(spark):
    """The stdlib contract: cancel() on a finished future returns False,
    and the future keeps its result — for a submit future, a map element
    and a compute future alike."""
    c = WukongClient(spark)
    try:
        futures = {
            "submit": (c.submit(_add, 6100, 1), 6101),
            "map": (c.map(_inc, [6200, 6300])[1], 6301),
            "compute": (c.compute(spark.range(6400, 6403)), [6400, 6401, 6402]),
        }
        for name, (f, want) in futures.items():
            value = lambda: f.result() if name != "compute" else [r.id for r in f.result()]
            assert value() == want
            assert f.cancel() is False, name
            assert value() == want
    finally:
        c.close()
