"""Executor scaling, measured fresh: the ``batch_kg`` job on
``local-cluster[1,1,…]`` against ``local-cluster[4,1,…]`` — one versus
four single-core executors, each a separate JVM with its own Python
workers — over the same seeded corpus.

    python3 perfbench/scaling.py --seed 1

``scaling_eff_1_4`` is (docs/s at 4 executors ÷ docs/s at 1) ÷ 4, the
BASELINE N→4N gate.  Each level is timed best of three after a
warm-up job.  The result is printed and written, dated and with its
provenance, to ``.bench_work/scaling/``.  This is a separate mode: the
per-commit runs of ``run.py`` never include it.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import session as sess_mod, workloads as wl  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

EXECUTOR_MB = 1024
REPEATS = 3


def level(n_exec: int, seed: int, work_root: str) -> dict:
    run_dir = os.path.join(work_root, f"scaling-{os.getpid()}-{n_exec}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sess = sess_mod.Session(
        run_dir, False, n_exec,
        master=f"local-cluster[{n_exec},1,{EXECUTOR_MB}]")
    try:
        sess.start()
        run = wl.Run(Tracer(), run_dir, os.path.join(work_root, "corpus"),
                     seed, wl.FULL)
        run.spark = sess.spark
        job = wl.BatchKG()
        job.prepare(run)
        walls = []
        for _ in range(REPEATS + 1):   # the first job warms every executor
            run.iteration += 1
            t0 = time.perf_counter()
            job._job(run)
            walls.append(time.perf_counter() - t0)
        best = min(walls[1:])
        return {"executors": n_exec, "cores_per_executor": 1,
                "walls_s": walls, "best_s": best,
                "docs_per_s": job.docs / best, "failed": run.failed}
    finally:
        sess.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    work_root = os.path.join(os.getcwd(), ".bench_work")
    low = level(1, args.seed, work_root)
    high = level(4, args.seed, work_root)
    result = {
        "mode": "scaling", "scaling_eff_1_4":
            high["docs_per_s"] / low["docs_per_s"] / 4.0,
        "low": low, "high": high,
        "provenance": sess_mod.provenance(seed=args.seed, docs=wl.FULL.docs,
                                          repeats=REPEATS,
                                          executor_mb=EXECUTOR_MB)}
    out_dir = os.path.join(work_root, "scaling")
    os.makedirs(out_dir, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc) \
        .strftime("%Y%m%dT%H%M%SZ")
    with open(os.path.join(out_dir, f"scaling-{stamp}.json"), "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result))
    return 0 if low["failed"] == high["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
