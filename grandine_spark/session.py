"""SparkSession factory with the engine's standard configuration, and the
one place that decides how wide a job runs.

Local mode stands in for a multi-executor cluster (the sandbox has no real
cluster); partitioning/shuffle settings are chosen as they would be on a
1000-executor deployment:

- master: the one ``spark-submit --master`` set, else
  ``local[<usable CPUs>]`` (:func:`local_cores`);
- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (all geometry kernels run as vectorized pandas UDFs);
- shuffle width ``max(defaultParallelism, 8)`` unless given, read back
  by every operator through :func:`shuffle_width` / :func:`pin_width`;
- broadcast threshold left at default — the polygon side of the spatial join
  is broadcast explicitly with ``F.broadcast`` when small;
- the directory (or zip) this package was imported from is appended to the
  Python workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so the
  engine's UDFs import on the workers even when the driver found the
  package only through ``sys.path`` from another working directory;
- driver data becomes a frame only through :func:`local_frame` (one Arrow
  ``LocalRelation``), so no PythonRDD starts a second worker pool.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_cores() -> int:
    """N of the ``local[N]`` master: ``SPARK_GRAFT_CPUS``, else the CPUs
    this process may run on (its affinity mask, which ``taskset`` or a
    container narrows below ``os.cpu_count()``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _launcher_master() -> str | None:
    """The master ``spark-submit`` gave the JVM it hands this driver
    through ``PYSPARK_GATEWAY_PORT``; ``None`` without a launcher or for
    its implicit ``local[*]``."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    master = SparkConf().get("spark.master", "local[*]")
    return None if master == "local[*]" else master


def get_spark(
    app_name: str = "grandine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """``cores`` is N of ``local[N]`` when no launcher set a master."""
    builder = SparkSession.builder.appName(app_name)
    if _launcher_master() is None:
        builder = builder.master(f"local[{cores or local_cores()}]")
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
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
    width = shuffle_partitions or max(spark.sparkContext.defaultParallelism, 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    _add_worker_path(spark.sparkContext)
    return spark


def shuffle_width(spark: SparkSession) -> int:
    """The width :func:`get_spark` set: every stage an operator sizes."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def pin_width(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` in exactly :func:`shuffle_width` partitions, hashed on
    ``keys`` (round-robin without). A stage feeding Python runs at that
    width, no wider: each Python task pays a fixed start-up cost at the
    UDF boundary (~0.2 s CPU on a reused worker — PySpark 4.1 calls
    ``importlib.invalidate_caches()`` per task, so every zipimporter
    re-reads its archive; a trivial UDF took 1.9 s over 320 tasks, 0.3 s
    over 32). And no narrower: AQE coalesces post-shuffle partitions by
    BYTES, and groups small on the wire but costly in Python (tiles,
    ways) fell to 3 of 32 cores. The exchange is REPARTITION_BY_NUM, which
    AQE leaves whole; keyed, it is also the following groupBy's."""
    return df.repartition(shuffle_width(df.sparkSession), *keys)


def local_frame(spark: SparkSession, parts, schema) -> DataFrame:
    """Driver data as a frame: ONE Arrow table, which Spark plans as a
    ``LocalRelation`` and scans with no Python worker. (A frame made from
    Python rows plans a ``LogicalRDD`` over a PythonRDD, whose first action
    forks a second worker pool for the rest of the session.) ``parts`` are
    row blocks, each a tuple in ``schema`` column order: a numpy array is a
    column of its block, any other value fills it, so a Python row is a
    block of one. ``schema`` is a ``StructType`` or a DDL string that Spark
    parses; each column is built as its Arrow type, so maps, arrays, binary
    and ints come out as declared."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = [[] for _ in arrow]
    for part in parts:
        n = max((len(v) for v in part if isinstance(v, np.ndarray)), default=1)
        for col, v in zip(cols, part):
            num = isinstance(v, (int, float, np.number))
            col.append(v if isinstance(v, np.ndarray) else np.full(n, v) if num else [v] * n)

    def column(blocks, typ):
        if blocks and all(isinstance(b, np.ndarray) for b in blocks):
            return pa.array(np.concatenate(blocks), typ)
        return pa.array([v for b in blocks for v in b], typ)

    columns = [column(c, f.type) for c, f in zip(cols, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


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
