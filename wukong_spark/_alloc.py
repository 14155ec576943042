"""Runtime tuning for hosts with a slow kernel memory path (r17 opt round),
plus the Python workers' import path (``use_installed_pyspark``, last
section).

Three independent pathologies measured on this host, each fixed here (or
in ``session.get_spark`` for the JVM side); every knob is standard
practice for numeric workloads and benign on ordinary hosts:

1. glibc mmap/trim thresholds (``tune_malloc`` below, landed earlier this
   round) — large NumPy buffers otherwise re-fault every page on every
   allocation.
2. OpenBLAS spin-wait threads (``tune_blas``): each Python process's
   OpenBLAS pool busy-waits in a ``sched_yield`` loop after every BLAS
   call.  With 33 Python processes (driver + 32 workers) the yield storm
   measured 130-400 core-seconds of pure KERNEL time per la_* bench pass
   (kernel-stack sampling: ``do_sched_yield``; the driver process alone
   burned 132 s sys in one 50 s pass).  One data-parallel task per core
   is already the right parallelism — intra-task BLAS threads only
   oversubscribe — so pin OpenBLAS to 1 thread per process.  OpenBLAS
   dgemm results are bitwise identical across thread counts (K-loop
   accumulation order is fixed), so seeded literal oracles are
   unaffected (re-verified via driver_mimic after the change).
3. PyArrow's default memory pool (``tune_arrow_pool``): jemalloc decay
   returns batch buffers to the OS between passes, re-faulting ~0.4 GB
   per worker set per bench pass on this host's slow fault path.
   Routing the default pool to "system" (glibc malloc) lands Arrow
   buffers in the same retained arenas as NumPy — measured worker
   refaults drop to ~0.1 GB/pass.

Malloc details (the original finding, kept verbatim):

Measured on the r17 optimization-round host (Firecracker kernel
6.18.5-fc): glibc's default M_MMAP_THRESHOLD (128 KB, dynamic) services
every NumPy buffer larger than ~128 KB through a fresh mmap and returns
it with munmap on free, so each large temporary re-faults all of its
pages on every call — and this host's first-touch fault path costs
orders of magnitude more than normal (a one-shot 50 MB
``default_rng().random()`` measured 1-22 s vs 0.04 s when the buffer
comes from already-faulted arena memory; a plain ``np.zeros`` +
streaming fill of the same 50 MB costs 0.18 s).  The block-matrix
workloads allocate hundreds of such temporaries per query (seeded block
generation, GEMM outputs, ``tobytes`` copies, Arrow buffers), so the
fault path dominated entire stages: the la_svd_ts_ref gramian stage
spent ~5.7 s/task on a 0.3 s/task dgemm.

Raising M_MMAP_THRESHOLD and M_TRIM_THRESHOLD keeps freed large buffers
inside the malloc arena for reuse, paying first-touch once per worker
process instead of once per allocation.  On ordinary hosts the change
is benign (slightly higher steady-state RSS, standard practice for
numeric workloads).  Scale note: this is a per-process allocator knob —
it ships to real clusters unchanged via ``spark.executorEnv`` (set in
``session.get_spark``) and via this module running at import time in
every Python worker that deserializes one of our functions.

``tune_malloc`` is called from ``wukong_spark/__init__``:

- env vars (``MALLOC_MMAP_THRESHOLD_``/``MALLOC_TRIM_THRESHOLD_``) are
  set (if unset) so child processes — the driver JVM and the Python
  worker daemons it forks — inherit the thresholds at startup;
- ``mallopt`` applies them to the CURRENT process (the driver script
  doing driver-side numpy work, or a Python worker importing this
  package when it unpickles a task function).
"""

from __future__ import annotations

import ctypes
import os
import re
import sys

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3
_THRESHOLD_BYTES = 1 << 30


def thp_available() -> bool:
    """True when the kernel honors MADV_HUGEPAGE (THP 'madvise'/'always').

    Measured on the r18 bench host: first-touch of fresh anon memory runs
    at 0.10 GB/s 4 KB-paged vs 1.45 GB/s under MADV_HUGEPAGE (x14), and
    the page-fault path COLLAPSES under concurrency (32 processes
    faulting together aggregate 0.17 GB/s paged / 0.32 GB/s THP — slower
    than one process alone).  Huge pages cut the number of fault events
    512x, which is the only lever that helps inside a 32-task wave."""
    try:
        with open("/sys/kernel/mm/transparent_hugepage/enabled") as f:
            mode = f.read()
        return "[madvise]" in mode or "[always]" in mode
    except OSError:
        return False


def _opted_out() -> bool:
    """WUKONG_NO_ALLOC_TUNING=1 turns every tune_* call into a no-op
    (r18, ADVICE r17: importing the package must not silently reconfigure
    an embedding application's allocator/BLAS/Arrow state when the host
    does not need it).  The env var is inherited by the driver JVM and
    its Python worker daemons, so one setting covers the whole tree."""
    return os.environ.get("WUKONG_NO_ALLOC_TUNING", "") == "1"


_done = False


def tune_malloc() -> None:
    """Idempotently raise glibc's mmap/trim thresholds (see module doc)."""
    global _done
    if _done or _opted_out():
        return
    _done = True
    for key in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(key, str(_THRESHOLD_BYTES))
    # r18: back malloc arenas with transparent huge pages (glibc 2.35+
    # tunable — madvise(MADV_HUGEPAGE) on arena mmap/sbrk growth).  Read
    # at process START, so this covers CHILDREN (the driver JVM and the
    # Python worker daemons it forks), which is where the task-side
    # allocations live; see thp_available() for the measured fault-path
    # numbers that motivate it.  Appends rather than clobbers a caller's
    # own GLIBC_TUNABLES; skipped when the kernel has THP off.
    if thp_available():
        tun = os.environ.get("GLIBC_TUNABLES", "")
        if "glibc.malloc.hugetlb" not in tun:
            os.environ["GLIBC_TUNABLES"] = (
                (tun + ":" if tun else "") + "glibc.malloc.hugetlb=1"
            )
    try:
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(_M_MMAP_THRESHOLD, _THRESHOLD_BYTES)
        libc.mallopt(_M_TRIM_THRESHOLD, _THRESHOLD_BYTES)
    except Exception:
        pass  # non-glibc platform: the env vars still cover children


_blas_done = False


def tune_blas() -> None:
    """Pin OpenBLAS to one thread per process (see module doc §2).

    Env var covers processes that have not loaded BLAS yet (Python
    workers unpickling our task functions import this package before
    their first numpy import); the ctypes call covers a process where
    numpy is already loaded (pytest, notebooks).  Honors a pre-set
    OPENBLAS_NUM_THREADS so operators running on a dedicated many-core
    driver can opt back into threaded BLAS."""
    global _blas_done
    if _blas_done or _opted_out():
        return
    _blas_done = True
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    n = os.environ["OPENBLAS_NUM_THREADS"]
    if not n.isdigit() or "numpy" not in __import__("sys").modules:
        return
    try:
        with open("/proc/self/maps") as f:
            libs = {
                line.split()[-1]
                for line in f
                if "openblas" in line and line.rstrip().endswith(".so")
            }
        for path in libs:
            lib = ctypes.CDLL(path)
            for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                fn = getattr(lib, sym, None)
                if fn is not None:
                    fn(int(n))
                    break
    except Exception:
        pass


_arrow_done = False


def tune_arrow_pool() -> None:
    """Route PyArrow's default memory pool to glibc malloc (module doc §3).

    The env var is read at pyarrow import; the runtime call covers a
    process that already imported pyarrow.  Honors a pre-set
    ARROW_DEFAULT_MEMORY_POOL (so jemalloc can be re-chosen where the
    host's fault path is healthy)."""
    global _arrow_done
    if _arrow_done or _opted_out():
        return
    _arrow_done = True
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if "pyarrow" not in __import__("sys").modules:
        return
    try:
        import pyarrow as pa

        if os.environ["ARROW_DEFAULT_MEMORY_POOL"] == "system":
            pa.set_memory_pool(pa.system_memory_pool())
    except Exception:
        pass


# -- Spark's bundled archives on the Python worker path -------------------
#
# Spark starts its Python worker daemon with three archives at the front of
# PYTHONPATH ($SPARK_HOME/python/lib/pyspark.zip, py4j-*-src.zip and the
# spark-core jar: PythonUtils.sparkPythonPath), so workers import pyspark
# from the zip.  pyspark's worker calls importlib.invalidate_caches() at
# the start of EVERY task (worker_util.setup_spark_files), and on Python
# 3.11 a zipimporter's invalidate_caches() re-reads the archive's whole
# central directory in pure Python — once per cached importer, i.e. for
# each pyspark subpackage imported from the 1,328-entry zip and twice for
# the 5,359-entry jar.  Measured on a 4-core host: 200-350 ms of every
# Python task, before any user code runs.  When the same pyspark release
# is installed in a directory on the path, the daemon
# (wukong_spark._pydaemon, set by get_spark) imports that copy instead and
# its forked workers inherit the archive-free path.

_SPARK_ARCHIVE = re.compile(
    r"^(?:(?P<pyspark>pyspark\.zip)|(?P<py4j>py4j-.*-src\.zip)"
    r"|(?P<jar>spark-core_.*\.jar))$"
)


def _archive_kind(entry: str) -> str | None:
    """"pyspark", "py4j" or "jar" for one of Spark's own archives, else
    None (directories and user archives)."""
    m = _SPARK_ARCHIVE.match(os.path.basename(entry))
    return m.lastgroup if m else None


def spark_archives_to_drop(
    path: list[str],
    installed: dict[str, bytes | None],
    bundled: dict[str, bytes | None],
) -> list[str]:
    """The entries of ``path`` to take off so an installed pyspark is used.

    ``installed``/``bundled`` map "pyspark" and "py4j" to the bytes of
    ``<pkg>/version.py`` of the copy a directory on the path provides and
    of the copy in Spark's archive (None when absent).  Nothing is dropped
    unless the installed pyspark is byte-for-byte the bundled release; the
    py4j zip is dropped only when its installed copy matches as well.
    Only Spark's own archives are ever returned, never a user's."""

    def same(pkg: str) -> bool:
        return installed.get(pkg) is not None and installed[pkg] == bundled.get(pkg)

    if not same("pyspark"):
        return []
    py4j_ok = same("py4j")
    return [
        p
        for p in path
        if (kind := _archive_kind(p)) is not None and (kind != "py4j" or py4j_ok)
    ]


def _installed_version(dirs: list[str], pkg: str) -> bytes | None:
    """``pkg/version.py`` of the copy the first providing directory holds."""
    for d in dirs:
        root = os.path.join(d or os.curdir, pkg)
        if os.path.isfile(os.path.join(root, "__init__.py")):
            try:
                with open(os.path.join(root, "version.py"), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def _bundled_version(archive: str | None, pkg: str) -> bytes | None:
    if archive is None:
        return None
    import zipfile

    try:
        with zipfile.ZipFile(archive) as z:
            return z.read(f"{pkg}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def use_installed_pyspark() -> None:
    """Take Spark's bundled archives off ``sys.path`` (module doc, last
    section) before pyspark is first imported.  A no-op once pyspark is
    imported, and in any process whose path carries no pyspark.zip — a
    driver started with plain ``python`` or pytest."""
    if "pyspark" in sys.modules:
        return
    archives: dict[str, str] = {}
    for p in sys.path:
        kind = _archive_kind(p)
        if kind is not None:
            archives.setdefault(kind, p)
    if "pyspark" not in archives:
        return
    dirs = [p for p in sys.path if os.path.isdir(p or os.curdir)]
    pkgs = ("pyspark", "py4j")
    drop = spark_archives_to_drop(
        sys.path,
        {pkg: _installed_version(dirs, pkg) for pkg in pkgs},
        {pkg: _bundled_version(archives.get(pkg), pkg) for pkg in pkgs},
    )
    for archive in drop:
        sys.path.remove(archive)
        for key in list(sys.path_importer_cache):
            if key == archive or key.startswith(archive + os.sep):
                del sys.path_importer_cache[key]
