"""SparkSession construction tuned for the HTML→text extraction workload.

Scale rationale (100 TB / 1000 executors):
- AQE on: runtime coalescing of shuffle partitions + skew-split of any
  oversized partition after the url-hash repartition.
- Arrow batches kept small (`maxRecordsPerBatch`): HTML rows are ~10 KB-10 MB;
  the default 10k rows/batch would hold up to tens of GB per Python worker.
  512 rows/batch bounds worker memory at ~0.5-5 GB worst case while keeping
  Arrow transfer vectorized.
- `files.maxPartitionBytes` left at 128 MB so a 100 TB scan yields ~800k
  input splits — fine for 1000 executors.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rust-html2text-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with the workload's settings.  `master=None` keeps
    spark-submit's `--master`, else runs `local[SPARK_GRAFT_CPUS]`.

    The one deployment rule: the Python workers import the package from
    the directory that holds it (`spark.executorEnv.PYTHONPATH`), so a
    session on any local master works from any cwd, and never from the
    cwd (`PYTHONSAFEPATH`), even when the cwd holds another copy of the
    package.  A shipped `--py-files` zip still wins on every worker:
    PySpark puts it ahead of PYTHONPATH."""
    if master is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:  # launched by spark-submit
            SparkContext._ensure_initialized()
            master = SparkConf().get("spark.master")
        else:
            master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None and master.startswith("local"):
        # local mode: one shuffle partition per core keeps all cores busy
        # without tiny-task overhead; on a real cluster this is set to
        # ~2-3x total executor cores by the job submitter.  The count is
        # the first in the brackets: local[4,2] (task retries) → 4.
        n = master.partition("[")[2].split(",")[0].rstrip("]") or "1"
        shuffle_partitions = 32 if n == "*" else int(n)
    package_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", package_root)
        # `python -m pyspark.daemon` would put the worker's cwd ahead of
        # PYTHONPATH: a cwd holding another package tree must not win
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
