"""SparkSession factory tuned for the engine.

Local mode here; on a real cluster the same builder args ship via
``spark-submit --py-files geetiles_spark.zip`` (north rule).  AQE is on so
skewed cell joins re-plan at runtime; Arrow is on because every geospatial
kernel runs in Arrow-batched pandas UDFs.

Python workers run from zip archives (``pyspark.zip``, Spark's jars, a
``--py-files`` zip), and PySpark calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark/worker_util.py:144``,
``setup_spark_files``).  On CPython 3.11 each zip importer answers by
re-parsing its archive's whole central directory
(``zipimport.py:329-336``, ``zipimporter.invalidate_caches``): 0.1-0.3 s
per task before its first row, for the ~14 importers of a reused worker.
Importing :mod:`geetiles_spark` installs :mod:`geetiles_spark._zipimport`,
which re-reads an archive only when its mtime or size changed; engine
closures import the package, so every worker that runs one is guarded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geetiles-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # one BLAS thread per python worker: with k workers on k cores, default
    # OpenBLAS threading (ncpu threads per process) oversubscribes k*ncpu
    # threads and collapses throughput at local[32]
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled-hash joins (optimization guide §3.1/§9): the pair
        # self-joins probe far more rows than they build, and SMJ's per-
        # partition sorts buy nothing there.  Scale-safe: AQE only converts
        # when every post-shuffle partition is under the 128m local-map
        # threshold, so giant build sides keep sort-merge's graceful spill.
        # Measured: ngram_jaccard 17.2 -> 14.9s min and far tighter spread
        # (14.9-16.2 vs 17.2-29.8) at sf1.0/local[32]; q3 -0.1s; others flat.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # shuffle/spill to tmpfs: the sandbox disk is ~100 MB/s with high
        # variance; on a real cluster this corresponds to NVMe-local shuffle
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    return b.getOrCreate()
