"""End-to-end benchmark of ``grandine_spark.plans.pipeline.run_pipeline``.

    python3 perfbench/run.py --workload geo_cold --seed 1 --seconds 10 --trace 0

Run from the repository root. One run generates the seeded inputs
(``inputs.py``), starts a ``local[nproc]`` session through the engine's
``get_spark`` (``setup_s``), then times, one call at a time:

1. a cold ``run_pipeline`` call on an empty warehouse, the first of the
   session, as in a batch job (``cpu_s``; its wall time is printed with the
   run's record and is the per-layer ``pipeline.wall_s``);
2. ``run_pipeline`` calls on that warehouse, which resume every stage, each
   followed by a full read of the five returned tables: row count and an
   order-independent content digest of each. They repeat until ``--seconds``
   have passed since the cold call began, at least once (four times when
   traced).

Every read's digests must equal the stored golden for the workload and seed
(``goldens.json``; for a seed without one, the first read's) and pass the
row-count invariants. The digest read of the resumed tables checks the cold
call's output and resume byte-identity at once.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the Spark
event log, traces the cold call and the resumed calls in the order traced,
untraced, untraced, traced, and prints the per-layer table (``eventlog.py``)
plus ``trace.overhead_frac``: the traced resumed calls' mean over the
untraced ones', minus 1. The resume path is still warming up over these
calls; the symmetric order cancels a steady trend. The event log is on for
both kinds, so the fraction is the cost of the span wrappers and job tags.
The last stdout line is one JSON object: correct, attempted, failed, metrics.
The command exits 1 on any correctness failure, 2 when the engine cannot be
imported.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from statistics import mean

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
GOLDENS = os.path.join(HERE, "goldens.json")
DRIVER_MEM = "2g"
# traced runs compare traced and untraced resumed calls in this order
TRACE_ORDER = (True, False, False, True)

sys.path.insert(0, HERE)

import meter as meter_mod  # noqa: E402
from inputs import Shape, dir_bytes, generate  # noqa: E402
from spans import STAGES  # noqa: E402


@dataclass(frozen=True)
class Workload:
    shape: Shape
    zooms: tuple[int, ...]
    join_zoom: int


WORKLOADS = {
    # many pages, the default feature set, shallow zooms: page-side layers
    "geo_cold": Workload(Shape(pages=60_000, polygons=200, roads=100, pois=200), (2, 7, 10), 7),
    # few pages, twice the features, deeper zooms: the tiler
    "tiles_cold": Workload(Shape(pages=2_000, polygons=400, roads=200, pois=400), (2, 5, 8, 11), 7),
}

END_TO_END = {
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "B/B",
    "setup_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, with its unit."""
    from eventlog import EXECUTOR_METRICS, PY_METRICS, PY_NODES

    units = {}
    for S in STAGES:
        for k in ("plan_s", "wall_s", "write_s", "lineage_s", "resume_plan_s", "read_s"):
            units[f"{S}.{k}"] = "s"
        units[f"{S}.bytes_written"] = "B"
        units[f"{S}.rows"] = "count"
        for k in EXECUTOR_METRICS:
            units[f"{S}.{k}"] = _unit(k)
    for name in PY_NODES.values():
        for k in PY_METRICS.values():
            units[f"{name}.{k}"] = _unit(k)
    units["join_rows.pip_hit_ratio"] = "ratio"
    for k in ("pipeline.wall_s", "pipeline.unattributed_s", "resume.wall_s", "resume.unattributed_s",
              "consumer.read_s", "session.start_s", "session.inputs_s"):
        units[k] = "s"
    units["trace.overhead_frac"] = "ratio"
    return units


def _unit(k: str) -> str:
    if k.endswith("_s"):
        return "s"
    if "bytes" in k:
        return "B"
    if k == "task_skew":
        return "ratio"
    return "count"


# -- environment ---------------------------------------------------------------


def pin_environment(cpus: int) -> dict:
    """Set the variables the session and its Python workers read; return the
    record printed with every result."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the py4j gateway's handshake file goes here
    # spark-submit's launcher JVM: no perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the engine's default collector; the heap grows up to DRIVER_MEM
    os.environ["SPARK_GRAFT_JVM_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    import pyarrow
    import pyspark

    return {
        "cpus": cpus,
        "driver_mem": DRIVER_MEM,
        "spark_local_dirs": os.path.relpath(local, ROOT),
        "pythonpath": os.environ["PYTHONPATH"],
        "commit": _git_commit(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg": os.getloadavg(),
    }


def _git_commit(git: str = os.path.join(ROOT, ".git")) -> str:
    """HEAD's commit, read from ``.git`` without running git: a loose ref
    file, else its line in ``packed-refs``. "unknown" outside a checkout."""
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head  # detached
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                sha, _, name = line.strip().partition(" ")
                if name == ref:
                    return sha
    except OSError:
        pass
    return "unknown"


def start_session(cpus: int, eventlog_dir: str | None):
    from grandine_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + eventlog_dir,
        })
    spark = get_spark("perfbench", cores=cpus, shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait for every process it started."""
    from pyspark import SparkContext

    pids = set(meter_mod.tree_pids(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if meter_mod.alive(p)}
        time.sleep(0.1)
    for p in pids:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


# -- correctness ---------------------------------------------------------------


def digest(df) -> str:
    """``rows:sum:xor`` of per-row xxhash64 over all columns, sorted by name.
    Independent of row order and partitioning, and of the engine's lineage
    digest, whose definition may change."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    rows, total, xor = df.agg(
        F.count(F.lit(1)), F.sum(F.pmod(h, F.lit(1 << 32))), F.bit_xor(h)
    ).first()
    return f"{rows}:{(total or 0):x}:{(xor or 0) & ((1 << 64) - 1):016x}"


def invariant_errors(digests: dict[str, str], geotagged: int, zooms) -> list[str]:
    rows = {k: int(v.split(":")[0]) for k, v in digests.items()}
    errors = []
    if rows["geocoded"] != geotagged:
        errors.append(f"geocoded rows {rows['geocoded']} != geotagged pages {geotagged}")
    if rows["assignments"] != rows["geocoded"] * len(zooms):
        errors.append(f"assignments rows {rows['assignments']} != geocoded x zooms")
    errors += [f"{k} is empty" for k, n in rows.items() if n == 0]
    return errors


def load_golden(workload: str, seed: int) -> dict[str, str] | None:
    with open(GOLDENS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def warehouse_stats(root: str) -> dict[str, float]:
    """Per stage: rows (parquet footers) and bytes on disk of the stage table
    plus its lineage sidecar."""
    import pyarrow.parquet as pq

    out = {}
    for S in STAGES:
        table = os.path.join(root, S)
        out[f"{S}.rows"] = sum(
            pq.ParquetFile(os.path.join(table, f)).metadata.num_rows
            for f in os.listdir(table) if f.endswith(".parquet")
        )
        out[f"{S}.bytes_written"] = dir_bytes(table) + dir_bytes(f"{table}__lineage")
    return out


# -- timed calls ---------------------------------------------------------------


@dataclass
class Cold:
    run_s: float
    cpu_s: float
    stored_ratio: float
    warehouse: dict[str, float]


class Runner:
    def __init__(self, spark, workload: Workload, inputs, meter):
        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.meter = meter
        self.pages = spark.read.parquet(inputs.pages_path)
        self.features = spark.read.parquet(inputs.features_path)
        self.warehouse = os.path.join(WORK, "warehouse")

    def _pipeline(self):
        from grandine_spark.plans.pipeline import run_pipeline

        return run_pipeline(
            self.spark, self.pages, self.features, self.warehouse,
            zooms=list(self.workload.zooms), join_zoom=self.workload.join_zoom,
        )

    def cold(self, span=contextlib.nullcontext) -> Cold:
        """One ``run_pipeline`` call on an empty warehouse."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        cpu0 = self.meter.cpu_s()
        t0 = time.perf_counter()
        with span("pipeline"):
            self._pipeline()
        run_s = time.perf_counter() - t0
        cpu_s = self.meter.cpu_s() - cpu0
        stats = warehouse_stats(self.warehouse)
        stored = sum(stats[f"{S}.bytes_written"] for S in STAGES) / self.inputs.input_bytes
        return Cold(run_s=run_s, cpu_s=cpu_s, stored_ratio=stored, warehouse=stats)

    def resume(self, span=contextlib.nullcontext) -> tuple[float, dict[str, str]]:
        """One ``run_pipeline`` call on the built warehouse, then a full read
        of the five returned tables: (seconds, digest per table)."""
        t = time.perf_counter()
        with span("resume"):
            out = self._pipeline()
        with span("consumer"):
            digests = {S: digest(out[S]) for S in STAGES}
        return time.perf_counter() - t, digests


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import grandine_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    env = pin_environment(cpus)
    eventlog_dir = os.path.join(WORK, "eventlog") if args.trace else None
    if eventlog_dir:
        os.makedirs(eventlog_dir)

    golden = load_golden(args.workload, args.seed)
    expected = golden
    attempted = failed = 0
    cold = None
    resumes: list[tuple[bool, float]] = []  # (traced, seconds)

    def check(digests: dict[str, str]) -> bool:
        nonlocal expected
        errors = invariant_errors(digests, inputs.geotagged, workload.zooms)
        if not errors:
            if expected is None:
                expected = digests  # no stored golden: later reads must match
            if digests != expected:
                errors.append(f"digests {digests} != expected {expected}")
        for e in errors:
            print(f"perfbench: {e}", file=sys.stderr)
        return not errors

    with meter_mod.TreeMeter() as meter:
        t_setup = time.perf_counter()
        steal0 = meter_mod.host_steal_s()
        inputs = generate(args.seed, workload.shape, os.path.join(WORK, "inputs"))
        inputs_s = time.perf_counter() - t_setup
        spark = start_session(cpus, eventlog_dir)
        setup_s = time.perf_counter() - t_setup
        try:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.iteration = 0
            runner = Runner(spark, workload, inputs, meter)
            meter.reset_peak()
            t_end = time.perf_counter() + args.seconds
            attempted += 1
            try:
                if args.trace:
                    with tracer.install():
                        cold = runner.cold(lambda name: tracer.span(None, name))
                else:
                    cold = runner.cold()
            except Exception:
                traceback.print_exc()
                failed += 1
            order = TRACE_ORDER if args.trace else (False,)
            while cold is not None and (
                len(resumes) < len(order) or time.perf_counter() < t_end
            ):
                traced_call = order[len(resumes) % len(order)]
                attempted += 1
                try:
                    if traced_call:
                        with tracer.install():
                            seconds, digests = runner.resume(lambda n: tracer.span(None, n))
                    else:
                        seconds, digests = runner.resume()
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    break
                if not check(digests):
                    failed += 1
                resumes.append((traced_call, seconds))
            peak_rss_mb = meter.peak_pss_bytes / 2**20
            # share of the CPUs co-tenants took: what the time metrics' noise
            # on a shared host mostly follows
            env["steal_frac"] = (meter_mod.host_steal_s() - steal0) / (
                (time.perf_counter() - t_setup) * cpus
            )
        finally:
            stop_session(spark)

    print(json.dumps({"env": env, "workload": args.workload, "seed": args.seed,
                      "golden": "stored" if golden else "first read",
                      "run_s": cold and round(cold.run_s, 3),
                      "resume_s": [round(s, 3) for _, s in resumes]}))
    correct = failed == 0
    metrics: dict[str, dict] = {}
    if correct and args.trace:
        layer = traced_layers(tracer.spans, eventlog_dir, cold)
        layer["session.start_s"] = setup_s - inputs_s
        layer["session.inputs_s"] = inputs_s
        layer["trace.overhead_frac"] = (
            mean(s for t, s in resumes if t) / mean(s for t, s in resumes if not t) - 1
        )
        with open(os.path.join(WORK, "spans.json"), "w") as f:
            json.dump([dataclasses.asdict(s) for s in tracer.spans], f)
        units = per_layer_units()
        for name, unit in units.items():
            print(f"{name:40s} {layer[name]:14.6g} {unit}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    elif correct:
        values = {
            "cpu_s": cold.cpu_s,
            "peak_rss_mb": peak_rss_mb,
            "stored_bytes_per_input_byte": cold.stored_ratio,
            "setup_s": setup_s,
        }
        for name, unit in END_TO_END.items():
            print(f"{name:30s} {values[name]:12.6g} {unit}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def traced_layers(spans, eventlog_dir: str, cold: Cold) -> dict[str, float]:
    """The per-layer table of the traced cold call and resumed calls."""
    import eventlog

    (log_file,) = os.listdir(eventlog_dir)
    table = eventlog.layer_table(spans, eventlog.read(os.path.join(eventlog_dir, log_file)), 0)
    table.update(cold.warehouse)
    table["pipeline.wall_s"] = cold.run_s
    pip_rows = table["join_rows.pip.rows"]
    table["join_rows.pip_hit_ratio"] = table["join_rows.rows"] / pip_rows if pip_rows else 0.0
    return table


if __name__ == "__main__":
    sys.exit(main())
