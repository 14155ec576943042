"""Python worker daemon of ``get_spark`` sessions.

Spark starts it as ``python -m wukong_spark._pydaemon pyspark.worker``
(``spark.python.daemon.module``).  Importing the package first runs
``_alloc.use_installed_pyspark``, which takes Spark's bundled pyspark.zip,
py4j zip and core jar off ``sys.path`` when the installed pyspark is the
same release; then this is pyspark's stock daemon, and the workers it forks
inherit the archive-free path.
"""

from pyspark import daemon

if __name__ == "__main__":
    daemon.manager()
