"""Benchmark entry point: one run of one workload, one JSON line out.

    python3 perfbench/run.py --workload ccgp_pipelines --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run generates its tables from
``--seed`` under ``.perfbench/run-<pid>/``, then starts ``child.py`` in
its own process (and process group) with ``TMPDIR`` and
``SPARK_LOCAL_DIRS`` pointed inside that directory and the directory as
its working directory. After the child and its JVM have exited it
records the bytes left under the two temporary directories (which must
be 0), deletes the run directory and prints, as the last line of
stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones, and also writes the per-query record to
``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CHILD_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # the work of a run is fixed (Workload.warm_passes), so that a slower
    # host does not sample a different point of the JIT warm-up curve;
    # the timed passes last about 30 s on a 4-vCPU host
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks below, which stop the
    # child's process group and delete the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from child import disk_bytes, log
    from datagen import write_tables
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
        return 2
    if not (ROOT / "ccgp_data_wrangling_spark" / "queries" / "__init__.py").is_file():
        log(f"no ccgp_data_wrangling_spark package under {ROOT}")
        return 2

    base = ROOT / ".perfbench"
    run_dir = base / f"run-{os.getpid()}"
    tmp, local, data = run_dir / "tmp", run_dir / "spark-local", run_dir / "data"
    small_data = run_dir / "data-sf0.01"
    shutil.rmtree(run_dir, ignore_errors=True)  # a stale run with the same pid
    for d in (tmp, local):
        d.mkdir(parents=True)
    try:
        wl = WORKLOADS[args.workload]
        write_tables(data, args.seed, wl.scale)
        if wl.small_checks:
            write_tables(small_data, args.seed, 1.0)
        out = run_dir / "result.json"
        # MALLOC_ARENA_MAX: few glibc arenas, so native memory (the JIT
        # compiler's, Arrow's) does not spread over per-thread arenas
        # whose resident size depends on thread timing
        env = dict(os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local), MALLOC_ARENA_MAX="2",
                   SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        cmd = [sys.executable, str(HERE / "child.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--trace", str(args.trace), "--data", str(data),
               "--small-data", str(small_data), "--tmp", str(tmp), "--out", str(out)]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            try:  # the JVM, Python workers, anything the child left running
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if rc != 0 or not out.is_file():
            log(f"run failed (exit {rc})")
            return 1
        left = disk_bytes(tmp, local)
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        metrics = result["layers"]
        trace = base / f"trace-{args.workload}-seed{args.seed}.json"
        trace.write_text(json.dumps({"layers": metrics, "queries": result["detail"],
                                     "output_rows": result["rows"], "raw": result["raw"]}, indent=1))
    else:
        metrics = result["e2e"]
    if left:
        log(f"{left} bytes left under TMPDIR/SPARK_LOCAL_DIRS")
    print(json.dumps({
        "correct": result["failed"] == 0 and left == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
