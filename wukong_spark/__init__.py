"""wukong_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ds2-lab/Wukong (reference surveyed in
SURVEY.md), rebuilt Spark-first.

Layers (SURVEY.md §7):
  session      — SparkSession factory + table catalog + plan-fingerprint cache
  queries      — the declarative operator/query library (DuckDB-oracle checked)
  taskgraph    — futures-style submit/map/scatter/gather/persist surface
  blockmatrix  — chunked-ndarray linear algebra (GEMM/TSQR/SVD/Cholesky)
  operators    — skew / graph / multimodal pipeline operators
  functions    — consolidated Catalyst-visible column-expression library
  sources      — format-dispatched scans/sinks, partitioned + bucketed writes
  streaming    — Structured Streaming surface (windows, sessions, state)
  plans        — physical-plan introspection (the 100 TB discipline checks)
"""

from wukong_spark._alloc import (
    tune_arrow_pool,
    tune_blas,
    tune_malloc,
    use_installed_pyspark,
)

# before the first pyspark import (session, below): in a Python worker
# daemon, import the installed pyspark rather than Spark's bundled zip
# (see _alloc.py, last section)
use_installed_pyspark()
# before any numpy/pyarrow work or JVM launch (see _alloc.py): malloc
# thresholds, single-threaded OpenBLAS, glibc-backed Arrow pool
tune_malloc()
tune_blas()
tune_arrow_pool()

from wukong_spark.session import PlanCache, TABLES, get_spark, load_table
from wukong_spark.taskgraph import (
    ClientExecutor,
    Future,
    WukongClient,
    get_client,
    worker_client,
)

__all__ = [
    "get_spark",
    "load_table",
    "TABLES",
    "PlanCache",
    "WukongClient",
    "Future",
    "get_client",
    "ClientExecutor",
    "worker_client",
]
__version__ = "0.1.0"
