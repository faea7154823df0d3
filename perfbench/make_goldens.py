"""Record the golden output digests ``run.py`` checks against.

    python3 perfbench/make_goldens.py geo_cold tiles_cold --seeds 0-11

For each workload and seed: generate the inputs, make one cold call and
one resumed call with its digest read, and store the five digests in
``goldens.json``, after the row-count invariants pass. Run it only on a
commit whose outputs are known good; a later change must reproduce them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="+", choices=sorted(run.WORKLOADS))
    ap.add_argument("--seeds", default="0-11", help="inclusive range, e.g. 0-11")
    args = ap.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))

    sys.path.insert(0, run.ROOT)
    cpus = len(os.sched_getaffinity(0))
    shutil.rmtree(run.WORK, ignore_errors=True)
    os.makedirs(run.WORK)
    run.pin_environment(cpus)
    with open(run.GOLDENS) as f:
        goldens = json.load(f)

    with run.meter_mod.TreeMeter() as meter:
        spark = run.start_session(cpus, None)
        try:
            for name in args.workloads:
                workload = run.WORKLOADS[name]
                for seed in range(lo, hi + 1):
                    inputs_dir = os.path.join(run.WORK, "inputs")
                    shutil.rmtree(inputs_dir, ignore_errors=True)
                    inputs = run.generate(seed, workload.shape, inputs_dir)
                    runner = run.Runner(spark, workload, inputs, meter)
                    runner.cold()
                    _, digests = runner.resume()
                    errors = run.invariant_errors(digests, inputs.geotagged, workload.zooms)
                    if errors:
                        print(f"{name} seed {seed}: {errors}", file=sys.stderr)
                        return 1
                    goldens.setdefault(name, {})[str(seed)] = digests
                    print(name, seed, digests, flush=True)
        finally:
            run.stop_session(spark)

    with open(run.GOLDENS, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
