"""North-rule shipping contract: the job runs via ``spark-submit
--py-files`` with the engine shipped as a zip/wheel, NOT via the repo
checkout on the driver's sys.path.

The test stages ``scripts/run_pipeline.py`` into a temp directory (so the
repo root is NOT importable from the script's location), zips
``grandine_spark`` the way ``pip wheel`` would package it, and submits with
``spark-submit --py-files <zip>``. If any import fell back to the checkout,
the staged copy would fail — this genuinely exercises the --py-files
distribution path the north rule names. A second submit against the same
warehouse must resume from the checkpoints and report identical counts.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_pyfiles_zip(dest: str) -> str:
    """Package grandine_spark as the artifact spark-submit distributes to
    executors (equivalent to the wheel from ``pip wheel . -w dist/``)."""
    zpath = os.path.join(dest, "grandine_spark.zip")
    pkg = os.path.join(REPO, "grandine_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(script: str, zpath: str, warehouse: str, cores: int = 4) -> dict:
    env = dict(os.environ)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    env["SPARK_DRIVER_MEM"] = "4g"
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", f"local[{cores}]",
            "--py-files", zpath,
            script,
            "--n-pages", "1500",
            "--cores", str(cores),
            "--zooms", "2,5",
            "--warehouse", warehouse,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=os.path.dirname(script),  # neutral cwd: repo not importable
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats_line = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    ][-1]
    return json.loads(stats_line)


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this image"
)
def test_spark_submit_pyfiles_and_resume(tmp_path):
    zpath = _build_pyfiles_zip(str(tmp_path))
    # stage the entry script OUTSIDE the repo: its sys.path bootstrap then
    # points at tmp_path, so grandine_spark can only come from --py-files
    staged = tmp_path / "stage" / "run_pipeline.py"
    staged.parent.mkdir()
    shutil.copy(os.path.join(REPO, "scripts", "run_pipeline.py"), staged)
    wh = str(tmp_path / "wh")

    stats = _submit(str(staged), zpath, wh)
    assert stats["tiles"] > 0
    assert stats["join_rows"] > 0
    assert stats["geocoded"] > 0

    # lineage sidecars exist for every stage (resumability evidence)
    stages = {d for d in os.listdir(wh) if not d.startswith("_")}
    assert {"geocoded", "join_rows", "tiles"} <= stages

    # second submit against the same warehouse AND at 4x the parallelism
    # (local[16] vs local[4] — the north rule's N vs 4N executors): the
    # same wheel artifact runs at both cluster sizes, resumes from the
    # checkpoints, and reports identical counts (byte-identity of a
    # resumed run is covered in test_checkpoint_resume at the API level)
    stats2 = _submit(str(staged), zpath, wh, cores=16)
    for k in ("geocoded", "join_rows", "assignments", "tiles"):
        assert stats2[k] == stats[k], k


# Run from a temp cwd with the engine on sys.path only. Inputs are parquet
# and the JVM page generator, so no Python-list frame starts a worker pool
# of its own: after the engine's UDFs (PIP refine, tile classifier, tile
# encoder) exactly one pyspark.daemon may run under the driver's JVM.
_FOREIGN_CWD_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema
from grandine_spark.operators.spatial_join import geocode_pages, spatial_join
from grandine_spark.operators.tiling import build_tiles
from grandine_spark.session import get_spark
from grandine_spark.sources import synth

spark = get_spark("foreign-cwd", cores=2, shuffle_partitions=4)
schema = to_arrow_schema(synth.FEATURE_SCHEMA)
rows = synth._feature_rows(n_polygons=40, n_roads=10, n_pois=10)
pq.write_table(pa.Table.from_pylist(
    [dict(zip(schema.names, r)) for r in rows], schema=schema), "features.parquet")
features = spark.read.parquet("features.parquet")
points = geocode_pages(synth.pages(spark, 2000, partitions=2))
bcast = sorted(map(tuple, spatial_join(points, features).collect()))
shuffle = sorted(
    map(tuple, spatial_join(points, features, max_dim_features=0).collect()))
tiles = build_tiles(features, [2, 6]).count()
print(json.dumps({"join": len(bcast), "same": bcast == shuffle,
                  "tiles": tiles, "daemons": daemons(spark)}))
"""

# defines daemons(spark): the pyspark.daemon processes whose parent is the
# driver's JVM, one per Python worker pool
_DAEMONS = r"""
def daemons(spark):
    jvm, n = spark.sparkContext._gateway.proc.pid, 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        n += ppid == jvm and b"pyspark.daemon" in cmd
    return n
"""


def _run_script(tmp_path, body: str) -> dict:
    """Run ``body`` (after the ``daemons`` helper) as a fresh driver from
    ``tmp_path``, with the repo root as its argv[1]; its last stdout line."""
    script = tmp_path / "job.py"
    script.write_text("import os\n" + _DAEMONS + body)
    env = dict(os.environ, SPARK_DRIVER_MEM="2g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=tmp_path,  # the repo root is not the workers' cwd
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(
    not os.path.isdir("/proc"), reason="counts processes through /proc"
)
def test_foreign_cwd_udfs_import_engine_one_worker_pool(tmp_path):
    out = _run_script(tmp_path, _FOREIGN_CWD_SCRIPT)
    assert out["join"] > 0 and out["same"], out
    assert out["tiles"] > 0, out
    assert out["daemons"] == 1, out


# The library's own driver-built frames: synthetic features and a PBF's
# blob spans become Arrow LocalRelations, so tiling them and decoding the
# file (mapInArrow) share the UDFs' one worker pool.
_LIBRARY_FRAMES_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from grandine_spark.operators.tiling import build_tiles
from grandine_spark.session import get_spark
from grandine_spark.sources import synth
from grandine_spark.sources.pbf import features_from_pbf, write_pbf

spark = get_spark("library-frames", cores=2)
nodes = [(1, 10.0, 50.0, {}), (2, 10.1, 50.0, {}), (3, 10.1, 50.1, {}),
         (4, 10.0, 50.1, {})]
write_pbf("f.osm.pbf", nodes, ways=[(7, [1, 2, 3, 4, 1], {"building": "yes"}),
                                    (8, [1, 3], {"highway": "primary"})])
feats = synth.features(spark, n_polygons=20, n_roads=10, n_pois=10)
tiles = build_tiles(feats, [2, 5]).count()
pbf = features_from_pbf(spark, "f.osm.pbf").count()
print(json.dumps({"tiles": tiles, "pbf": pbf, "daemons": daemons(spark)}))
"""


@pytest.mark.skipif(
    not os.path.isdir("/proc"), reason="counts processes through /proc"
)
def test_library_driver_frames_one_worker_pool(tmp_path):
    """``synth.features`` and ``read_pbf`` start no Python worker pool of
    their own: one ``pyspark.daemon`` runs under the JVM after both."""
    out = _run_script(tmp_path, _LIBRARY_FRAMES_SCRIPT)
    assert out["tiles"] > 0 and out["pbf"] == 2, out
    assert out["daemons"] == 1, out


_MASTER_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from grandine_spark.session import get_spark

spark = get_spark("launcher-master", cores=3)
print(json.dumps({"master": spark.sparkContext.master,
                  "width": int(spark.conf.get("spark.sql.shuffle.partitions"))}))
spark.stop()
"""


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this image"
)
def test_spark_submit_master_wins_over_cores(tmp_path):
    """The launcher decides how wide a submitted job runs: ``--master
    local[2]`` stays local[2] though the script asks for ``cores=3``
    (``cores`` sizes only the master of a driver nothing launched), and
    the shuffle width follows that master (max(2, 8))."""
    script = tmp_path / "job.py"
    script.write_text(_MASTER_SCRIPT)
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", str(script), REPO],
        capture_output=True, text=True, timeout=300, env=env, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"master": "local[2]", "width": 8}, out


def test_local_cores_default_is_usable_cpus(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the local master's core count is the
    CPUs this process may run on, not a fixed figure; the variable still
    overrides it."""
    from grandine_spark.session import local_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert local_cores() == 5
