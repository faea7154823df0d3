"""SparkSession factory with the engine's standard configuration.

Local mode stands in for a multi-executor cluster (the sandbox has no real
cluster); partitioning/shuffle settings are chosen as they would be on a
1000-executor deployment:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (all geometry kernels run as vectorized pandas UDFs);
- shuffle partitions sized to cores (overridable; on a real cluster this
  would be ~2-3x total executor cores or left to AQE);
- broadcast threshold left at default — the polygon side of the spatial join
  is broadcast explicitly with ``F.broadcast`` when small;
- the directory (or zip) this package was imported from is appended to the
  Python workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so the
  engine's UDFs import on the workers even when the driver found the
  package only through ``sys.path`` from another working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "grandine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # moderate Arrow batch default: the session serves BOTH ~24-byte PIP
        # rows and KB-scale text/binary rows (media features, tile feature
        # arrays) — a 512k-row batch of the latter is hundreds of MB per
        # Python worker. run_pipeline keeps it for every stage; a session
        # that runs only narrow rows may raise it through extra_conf, as
        # bench.py does (PIP_ARROW_BATCH).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # batch-throughput GC: this engine's hot loops are allocation-heavy
        # (string parse, Arrow buffers); ParallelGC beats G1 for short-lived
        # garbage and keeps multi-threaded stages from anti-scaling on GC
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _add_worker_path(spark.sparkContext)
    return spark


def _add_worker_path(sc) -> None:
    """Append this package's import root to the workers' ``PYTHONPATH``,
    after any value the user set (``extra_conf``, ``--conf``,
    spark-defaults). The context's ``environment`` is what each Python
    function ships to the workers; it mirrors ``spark.executorEnv.*``, so
    both are updated. A repeat call finds the root already there and
    changes nothing (a changed worker environment would start a second
    worker pool)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root in paths:
        return
    merged = os.pathsep.join(paths + [root])
    sc.environment["PYTHONPATH"] = merged
    sc._conf.set("spark.executorEnv.PYTHONPATH", merged)
