"""SparkSession factory.

Defaults follow the reference's semantics (SURVEY.md §4.2):
- ANSI mode OFF so ``cast`` yields null on bad input, matching pandas
  ``pd.to_numeric(errors='coerce')`` (reference report_processor.py:145-147
  semantics; we still prefer ``try_cast`` explicitly in cleaning code).
- Session timezone pinned to UTC so timestamp semantics are stable and
  comparable against the DuckDB oracle (naive-UTC timestamps).
- AQE on: runtime partition coalescing + skew-join handling are the
  100 TB-scale levers we want on by default.

Python workers: for single-JVM local masters the factory starts Spark's
Python worker daemon through ``blspark.pyworker``. Before every Python
task, pyspark's worker calls ``importlib.invalidate_caches()``; on
CPython < 3.13 that re-reads the directory of every zip archive on the
worker path (``pyspark.zip``, the spark-core jar) once per importer,
about 0.25 CPU s per task before user code runs. ``blspark.pyworker``
re-reads an archive only when its mtime or size changed, then runs
``pyspark.daemon.manager()`` unchanged. The same gate puts blspark's
package root on ``spark.executorEnv.PYTHONPATH`` (Spark merges it into
the worker path), so the daemon and blspark's Python kernels import
whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "blspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the blspark SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback all
    cores). ``shuffle_partitions`` defaults to the local core count — the
    right size for local mode; on a real cluster callers pass a value
    sized to executors × cores (or rely on AQE coalescing from a higher
    initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BLSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime Bloom-filter pruning for semi-join shapes: the optimizer
        # plants bloom_filter_agg/might_contain on shuffle joins whose
        # build side carries a selective filter, so the fact scan drops
        # non-joining rows before the shuffle (tests/test_bloom.py asserts
        # the injection; blspark.ext.bloom has the explicit operator for
        # key sets beyond broadcast size).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    # Local-mode parallelism floor for the zero-shuffle map-side
    # pass of ext/similarity._cell_assign's fold: the test parquet
    # files are single-row-group, so a pure map-side pipeline would
    # run its whole downstream stage in the scan's one task. Locally
    # we round-robin the compact projection across the cores first.
    # Gated on a single-JVM local master ("local", "local[N]"), so
    # neither a cluster nor a multi-JVM "local-cluster[...]" session
    # built through this factory silently pays the repartition
    # exchange — at scale the scan's own row-group parallelism
    # suffices and the pass performs no exchange at all, which is
    # the point of the fold. Cluster callers can still opt in via
    # extra_conf. The same gate selects the worker daemon that keeps
    # its zip caches (module docstring): on a cluster the executors'
    # Python environment is the deployment's, not this checkout.
    if master == "local" or master.startswith("local["):
        builder = (
            builder.config(
                "blspark.assign.localParallelism", str(shuffle_partitions)
            )
            .config("spark.python.daemon.module", "blspark.pyworker")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
