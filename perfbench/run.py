"""Benchmark of legal_ner_spark's KG construction.

    python3 perfbench/run.py --workload resume_kg --seed 1 --seconds 24 \
        --trace 0

Runs one workload (``batch_kg``, ``resume_kg`` or ``incremental_kg``, see
workloads.py) on ``local[nproc]`` from this single driver process,
repeating fixed iterations of it while the next still fits in
``--seconds`` (two at least), then checks the outputs.  ``--trace 0``
reports the end-to-end metrics named in BENCHMARK.json; ``--trace 1``
turns on the event log and the Python UDF profiler and reports the
per-layer metrics, with a ``layers`` block that splits the traced wall
time by layer.  ``--smoke`` shrinks every input to a few docs; with
``--workload all`` it runs every workload and every check.

Standard output: one JSON report line (provenance, sample counts,
checks, triples digest and, traced, the layers block), then as the last
line ``{"correct", "attempted", "failed", "metrics"}``.  Everything the
run writes stays under ``.bench_work/`` in the current directory; seeded
corpora are cached there per (seed, size) and reused.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Setup is timed from interpreter start, so the package imports below
# count towards it.
try:
    from legal_ner_spark import synth
    from legal_ner_spark.core.extract import extract_document
    from legal_ner_spark.sources import corpus as sources
    from perfbench import session as sess_mod, workloads as wl
    from perfbench.corpus import first_docs
    from perfbench.trace import (EventLog, Tracer, extract_task_stats,
                                 layer_block, profile_split)
except ImportError as e:   # run outside a checkout of the repository
    print(f"perfbench: cannot import the package under test: {e}",
          file=sys.stderr)
    sys.exit(2)

MIN_ITERATIONS = 2   # so every per-run median has two samples or more


def timing(samples: list[float]) -> dict:
    """Median with its sample count and the samples in the order taken,
    plus the highest of p90/p95/p99 that has at least ten samples beyond
    it."""
    xs = sorted(samples)
    out = {"p50": statistics.median(xs), "n": len(xs),
           "samples": [round(x, 4) for x in samples]}
    for p in (99, 95, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = xs[min(len(xs) - 1, int(len(xs) * p / 100))]
            break
    return out


def single_process_docs_per_s(n_docs: int) -> float:
    """Ceiling of one core: ``extract_document`` over a fixed sample
    (ids 0..n, the same on every seed) in this process."""
    docs = [synth.gen_doc(i) for i in range(n_docs)]
    texts = [(d["doc_id"], synth.assemble_text(d["spans"])) for d in docs]
    t0 = time.perf_counter()
    for doc_id, text in texts:
        extract_document(doc_id, text)
    return n_docs / (time.perf_counter() - t0)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 sizes: wl.Sizes, work_root: str, t_proc: float) -> dict:
    run_dir = os.path.join(work_root, f"run-{os.getpid()}-{name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cache_dir = os.path.join(work_root, "corpus")
    os.makedirs(cache_dir, exist_ok=True)
    cores = sess_mod.nproc()
    sess = sess_mod.Session(run_dir, trace, cores)
    tracer = Tracer()
    run = wl.Run(tracer, run_dir, cache_dir, seed, sizes)
    workload = wl.WORKLOADS[name]()
    phases = {}
    try:
        # corpora first: their generation is not part of set-up
        t = time.time()
        workload.prepare(run)
        sample = first_docs(workload.sample_path, sizes.sample)
        phases["prepare_s"] = time.time() - t
        with sess_mod.WorkerMemory() as mem:
            # set-up: process start (less the corpus generation) → session
            # up → one whole iteration, closed as a run is, which forks the
            # Python workers, imports the package in them and compiles the
            # JVM code paths the timed iterations take.  A smaller one left
            # the first timed iterations 10-25% slower than the later ones.
            sess.start()
            t_up = time.time()
            run.spark = sess.spark
            _iterate(run, workload, False)
            workload.close(run)
            setup = {"start_s": t_up - t_proc - phases["prepare_s"],
                     "worker_warm_s": time.time() - t_up}
            setup["setup_s"] = setup["start_s"] + setup["worker_warm_s"]
            iters = []   # (root span, samples, traced)
            t_loop = time.time()
            if trace:
                sess.profile(True)
            while True:
                iters.append(_iterate(run, workload, trace))
                # untraced: at least MIN_ITERATIONS, then stop before an
                # iteration that would overrun the budget
                if (trace or len(iters) >= MIN_ITERATIONS) and \
                        time.time() - t_loop + iters[-1][1]["wall_s"] \
                        > seconds:
                    break
            phases["measure_s"] = time.time() - t_loop
            profiles, extra = {}, {}
            if trace:
                # an untraced iteration after the traced ones is the
                # reference for the tracing overhead
                profiles = sess.perf_profiles()
                sess.profile(False)
                iters.append(_iterate(run, workload, False))
                extra = _untimed_probes(run, workload, sizes)
            t = time.time()
            workload.close(run)
            phases["close_s"] = time.time() - t
            t = time.time()
            workload.check(run, sample)
            phases["check_s"] = time.time() - t
        sess.stop()
        result = {"workload": name, "iterations": len(iters),
                  "attempted": run.attempted, "failed": run.failed,
                  "checks": run.checks,
                  "triples_digest": workload.digest,
                  "setup": setup, "phases": phases}
        untraced = [it for it in iters if not it[2]]
        traced = [it for it in iters if it[2]]
        result["end_to_end"] = _end_to_end(untraced or traced, setup,
                                           mem.peak_mb, run)
        if trace:
            log = EventLog.latest(sess.event_dir)
            result.update(_per_layer(run, workload, log, traced,
                                     untraced, profiles, extra, setup,
                                     cores))
            tracer.dump(os.path.join(work_root,
                                     f"spans-{name}-seed{seed}.json"))
        return result
    finally:
        sess.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def _iterate(run: wl.Run, workload, traced: bool):
    run.iteration += 1
    with run.tracer.span(f"{workload.name}.iteration", "workload") as root:
        samples = workload.iteration(run)
    samples["wall_s"] = root["end"] - root["start"]
    return root, samples, traced


def _untimed_probes(run: wl.Run, workload, sizes: wl.Sizes) -> dict:
    """Traced-run extras outside the timed iterations: a corpus scan
    into a noop sink, and the single-process ceiling."""
    paths = getattr(workload, "batch_paths", None) or [workload.corpus_path]
    df = sources.read_corpus(run.spark, paths[0])
    for p in paths[1:]:
        df = df.unionByName(sources.read_corpus(run.spark, p))
    with run.tracer.span("sources.corpus.scan_noop", "sources.corpus") as s:
        df.write.format("noop").mode("overwrite").save()
    return {"scan_span": s,
            "single_docs_per_s": single_process_docs_per_s(
                sizes.ceiling_docs)}


def _pool(iters, key: str) -> list[float]:
    return [x for _, samples, _ in iters for x in samples[key]]


def _end_to_end(iters, setup, peak_mb, run) -> dict:
    return {
        "setup_s": {"p50": setup["setup_s"], "n": 1},
        "docs_per_s": timing([s["docs"] / s["wall_s"]
                              for _, s, _ in iters]),
        "publish_p50_s": timing(_pool(iters, "publish_s")),
        "resume_s": timing(_pool(iters, "resume_s")),
        "read_p50_s": timing(_pool(iters, "read_s")),
        "peak_worker_rss_mb": {"p50": peak_mb, "n": 1},
        "ok_share": {"p50": 1.0 - run.failed / max(1, run.attempted),
                     "n": run.attempted},
    }


def _per_layer(run, workload, log, traced, untraced, profiles, extra, setup,
               cores) -> dict:
    roots = [r for r, _, _ in traced]
    n = len(roots)
    docs = sum(s["docs"] for _, s, _ in traced)
    tasks = [t for r in roots for t in log.tasks_in(r["start"], r["end"])]
    ex = extract_task_stats(tasks)
    prof = profile_split(profiles)
    layers = layer_block(run.tracer, [r["id"] for r in roots], log, prof)
    scan = extra["scan_span"]
    ref = untraced[-1][1]
    traced_wall = statistics.median(s["wall_s"] for _, s, _ in traced)
    m = {
        "session.start_s": setup["start_s"],
        "session.worker_warm_s": setup["worker_warm_s"],
        "corpus.scan_s": scan["end"] - scan["start"],
        "corpus.splits": len(log.tasks_in(scan["start"], scan["end"])),
        "extract.wall_s": ex.get("wall_s", 0.0) / n,
        "extract.tasks": ex["tasks"] / n,
        "extract.task_p50_s": ex.get("task_p50_s", 0.0),
        "extract.task_skew": ex.get("task_skew", 0.0),
        "extract.gc_s": ex.get("gc_s", 0.0) / n,
        "extract.rows_out": ex.get("rows_out", 0) / n,
        "extract.docs_in_per_doc": prof["docs_in"] / docs,
        "core.single_docs_per_s": extra["single_docs_per_s"],
        "extract.engine_efficiency":
            ref["docs"] / ref["wall_s"]
            / (cores * extra["single_docs_per_s"]),
        "spark.shuffle_write_mb": layers["shuffle_write_bytes"] / 2**20 / n,
        "spark.spill_mb": layers["spill_bytes"] / 2**20 / n,
        "trace.overhead_share": traced_wall / ref["wall_s"] - 1.0,
        "trace.unaccounted_share": layers["unaccounted_share"],
    }
    for k in ("python_total_s", "python_boot_s", "python_init_s",
              "arrow_in_mb", "arrow_out_mb"):
        m[f"extract.{k}"] = ex.get(k, 0.0) / n
    for k, v in prof.items():
        if k.startswith(("extract.", "core.")) and k != "docs_in":
            m[k] = v / n
    m.update(workload.layer_metrics(run, log,
                                    [(r, s) for r, s, _ in traced]))
    layers["per_doc_ms"] = {k: 1000.0 * prof[k] / docs for k in prof
                            if k.startswith("core.")}
    return {"per_layer": m, "layers": layers}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def contract_line(results: list[dict], trace: bool) -> dict:
    """The last stdout line: every metric BENCHMARK.json names for this
    mode, from the first workload's result (the only one unless
    ``--workload all``).  A per-layer metric of a layer the workload does
    not touch reads 0."""
    spec = _spec()
    res = results[0]
    if trace:
        unknown = set(res["per_layer"]) - {m["name"]
                                           for m in spec["per_layer"]}
        if unknown:
            raise ValueError(f"metrics missing from BENCHMARK.json: "
                             f"{sorted(unknown)}")
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if trace:
            value = res["per_layer"].get(m["name"], 0)
        else:
            value = res["end_to_end"][m["name"]]["p50"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": all(r["failed"] == 0
                           and all(c["ok"] for c in r["checks"])
                           for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": metrics}


def main() -> int:
    t_proc = sess_mod.process_start_epoch()
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=[*wl.WORKLOADS, "all"],
                    default="batch_kg")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; with --workload all, every workload "
                         "and every check")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found", file=sys.stderr)
        return 2
    sizes = wl.SMOKE if args.smoke else wl.FULL
    names = list(wl.WORKLOADS) if args.workload == "all" else [args.workload]
    work_root = os.path.join(os.getcwd(), ".bench_work")
    results = []
    for name in names:
        results.append(run_workload(name, args.seed, args.seconds,
                                    bool(args.trace), sizes, work_root,
                                    t_proc))
        t_proc = time.time()   # later workloads start from here
    report = {"provenance": sess_mod.provenance(
        seed=args.seed, seconds=args.seconds, trace=args.trace,
        smoke=args.smoke, sizes=dataclasses.asdict(sizes)), "results": results}
    print(json.dumps(report, default=str))
    print(json.dumps(contract_line(results, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
