"""The three workloads.  Each drives the package only through its public
entry points, the way the repository's jobs do, and each iteration is a
fixed amount of work so that runs of different length stay comparable.

* ``batch_kg``: read corpus → extract → write records → read records →
  triples → write triples, one job over the whole corpus
  (``jobs/run_pipeline.py`` without the ledger).
* ``resume_kg``: a corpus through ``plans.ledger.run_with_resume`` in
  256-doc buckets, killed after half the buckets, resumed, then the
  triples projection of all buckets.
* ``incremental_kg``: small arriving batches through
  ``jobs.incremental_kg.ingest_batch``, each batch after the first
  replayed once (a crash after its flip), a fixed reader query after
  each batch; one compaction and a final read close the run.

Every workload ends in the same reader query over its published
triples: the count per predicate and the top nodes by degree.
"""

from __future__ import annotations

import os
import statistics
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobs import incremental_kg
from legal_ner_spark import pipeline
from legal_ner_spark.operators import extract as ops
from legal_ner_spark.plans import ledger, publish
from legal_ner_spark.sources import corpus as sources

from . import checks, corpus
from .trace import EventLog, Tracer


@dataclass(frozen=True)
class Sizes:
    docs: int           # batch_kg corpus size
    files: int          # parquet files a corpus is written as
    resume_docs: int    # resume_kg corpus size
    bucket_docs: int    # resume_kg: docs per ledger bucket
    batches: int        # incremental_kg: arriving batches per iteration
    batch_docs: int     # incremental_kg: docs per batch
    sample: int         # docs in the single-process oracle sample
    ceiling_docs: int   # docs in the single-process ceiling measurement


FULL = Sizes(docs=2048, files=16, resume_docs=512, bucket_docs=256,
             batches=3, batch_docs=64, sample=32, ceiling_docs=128)
SMOKE = Sizes(docs=64, files=4, resume_docs=64, bucket_docs=32, batches=2,
              batch_docs=16, sample=8, ceiling_docs=8)

TOP_K = 10
READS = 3            # reader queries after a batch or resume job
TASKS_PER_CORE = 6   # jobs/run_pipeline.py's default


class Run:
    """State of one benchmark run: the session, the spans, the operation
    counters and the check results."""

    def __init__(self, tracer: Tracer, run_dir: str, cache_dir: str,
                 seed: int, sizes: Sizes):
        self.spark: SparkSession | None = None
        self.tracer = tracer
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.seed = seed
        self.sizes = sizes
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.iteration = 0

    @contextmanager
    def op(self, name: str, layer: str):
        """One operation (a job, bucket run, batch or read) in a span."""
        self.attempted += 1
        try:
            with self.tracer.span(name, layer) as s:
                yield s
        except Exception:
            self.failed += 1
            raise

    def out(self, name: str) -> str:
        return os.path.join(self.run_dir, f"it{self.iteration:03d}", name)

    def check(self, result: tuple) -> None:
        name, ok, detail = result
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append({"check": name, "ok": bool(ok),
                            "detail": detail})


def reader_query(triples: DataFrame, degrees: DataFrame) -> None:
    """The fixed reader query: triples per predicate, top nodes by
    total degree.  Both answers are collected to the driver."""
    triples.groupBy("pred").count().collect()
    (degrees.orderBy(F.desc(F.col("out_degree") + F.col("in_degree")),
                     "node")
     .limit(TOP_K).collect())


class BatchKG:
    name = "batch_kg"

    def prepare(self, run: Run) -> None:
        self._prepare(run, run.sizes.docs)

    def _prepare(self, run: Run, docs: int) -> None:
        self.corpus_path = corpus.batch_corpus(run.cache_dir, run.seed,
                                               docs, run.sizes.files)
        self.sample_path = self.corpus_path
        self.docs = docs

    def _job(self, run: Run) -> tuple[str, str]:
        spark = run.spark
        rec_path, tri_path = run.out("records"), run.out("triples")
        with run.op("sources.corpus.write_records", "sources.corpus"):
            sources.write_records(
                ops.extract_records(sources.read_corpus(spark,
                                                        self.corpus_path)),
                rec_path)
        with run.op("sources.corpus.write_triples", "sources.corpus"):
            sources.write_triples(
                ops.triples(pipeline.read_records(spark, rec_path)), tri_path)
        return rec_path, tri_path

    def iteration(self, run: Run) -> dict:
        with run.tracer.span("batch_kg.job", "workload") as job:
            self.rec_path, self.tri_path = self._job(run)
        wall = job["end"] - job["start"]
        # no checkpoint: recovering from a crash re-runs the whole job
        return {"docs": self.docs, "publish_s": [wall], "resume_s": [wall],
                "read_s": self._reads(run, self.tri_path)}

    def close(self, run: Run) -> None:
        """Work that closes a run, after the timed iterations."""

    def _reads(self, run: Run, tri_path: str) -> list[float]:
        out = []
        for _ in range(READS):
            with run.op("reader_query", "reader") as s:
                tri = run.spark.read.parquet(tri_path)
                reader_query(tri, incremental_kg.triple_degrees(tri))
            out.append(s["end"] - s["start"])
        return out

    def check(self, run: Run, sample: list[dict]) -> None:
        spark = run.spark
        records = pipeline.read_records(spark, self.rec_path)
        tri = spark.read.parquet(self.tri_path)
        crp = sources.read_corpus(spark, self.corpus_path)
        run.check(checks.sample_triples(tri, sample))
        for r in checks.doc_rows(records, crp, self.docs):
            run.check(r)
        self.digest = checks.triples_digest(tri)

    def layer_metrics(self, run: Run, log: EventLog, traced: list
                      ) -> dict:
        """Metrics of this workload's own layers over the traced
        iterations, given as (root span, samples) pairs."""
        roots = [r for r, _ in traced]
        return {"records.write_s": _median_span(
                    run, roots, "sources.corpus.write_records"),
                "triples.write_s": _median_span(
                    run, roots, "sources.corpus.write_triples"),
                **_dir_stats(self.rec_path, "records")}


class ResumeKG(BatchKG):
    name = "resume_kg"

    def prepare(self, run: Run) -> None:
        self._prepare(run, run.sizes.resume_docs)
        self.buckets = max(2, self.docs // run.sizes.bucket_docs)
        self.recomputed = 0   # finished buckets run again, all iterations

    def _run_with_resume(self, run: Run, out: str, fail_after=None):
        # called as jobs/run_pipeline.py calls it: a plain parquet read
        # of the corpus, no size hint, so the ledger sizes by count()
        crp = run.spark.read.parquet(self.corpus_path)
        return ledger.run_with_resume(crp, out, n_buckets=self.buckets,
                                      tasks_per_core=TASKS_PER_CORE,
                                      fail_after=fail_after)

    def iteration(self, run: Run) -> dict:
        out = run.out("ledger")
        half = self.buckets // 2
        with run.op("plans.ledger.run_with_resume.crash", "plans.ledger"):
            try:
                self._run_with_resume(run, out, fail_after=half)
                raise AssertionError("injected failure did not fire")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        done_before = set(ledger.completed_buckets(out))
        with run.tracer.span("resume_kg.resume_leg", "workload") as leg:
            with run.op("plans.ledger.run_with_resume.resume",
                        "plans.ledger"):
                processed = self._run_with_resume(run, out)
            self.tri_path = run.out("triples")
            with run.op("sources.corpus.write_triples", "sources.corpus"):
                sources.write_triples(
                    ops.triples(ledger.read_all_records(run.spark, out)),
                    self.tri_path)
        self.ledger_out = out
        self.skipped = len(done_before)
        self.recomputed += len(done_before & set(processed))
        rows = ledger.completed_buckets(out).values()
        return {"docs": self.docs,
                "publish_s": [r["wall_ms"] / 1000.0 for r in rows],
                "resume_s": [leg["end"] - leg["start"]],
                "read_s": self._reads(run, self.tri_path)}

    def check(self, run: Run, sample: list[dict]) -> None:
        spark = run.spark
        records = ledger.read_all_records(spark, self.ledger_out) \
            .drop("bucket")
        tri = spark.read.parquet(self.tri_path)
        crp = sources.read_corpus(spark, self.corpus_path)
        run.check(checks.sample_triples(tri, sample))
        for r in checks.doc_rows(records, crp, self.docs):
            run.check(r)
        run.check(("no_bucket_recomputed_on_resume", self.recomputed == 0,
                   f"{self.recomputed} of {self.skipped} finished buckets "
                   "ran again"))
        # the batch_kg job over the same corpus, after the timed
        # iterations, is the reference the resumed output must equal
        run.iteration += 1
        rec_path, tri_path = self._job(run)
        run.check(checks.summaries_equal(
            checks.records_summary(records, tri),
            checks.records_summary(pipeline.read_records(spark, rec_path),
                                   spark.read.parquet(tri_path))))
        self.digest = checks.triples_digest(tri)

    def layer_metrics(self, run: Run, log: EventLog, traced: list
                      ) -> dict:
        roots = [r for r, _ in traced]
        sizing, stats, tasks = [], [], []
        spans = _spans_under(run, roots, "plans.ledger.run_with_resume")
        for s in spans:
            execs = log.executions_in(s["start"], s["end"])
            first_bucket = next((i for i, e in enumerate(execs)
                                 if "MapInArrow" in e["plan"]), len(execs))
            sizing += [e["end"] - e["start"] for e in execs[:first_bucket]]
            stats += [e["end"] - e["start"] for e in execs
                      if "approx_count_distinct" in e["plan"]]
            tasks += log.tasks_in(s["start"], s["end"])
        n = len(roots)
        return {"ledger.sizing_s": sum(sizing) / n,
                "ledger.bucket_p50_s": statistics.median(
                    x for _, samples in traced for x in samples["publish_s"]),
                "ledger.stats_s": sum(stats) / n,
                "ledger.shuffle_mb": sum(t["shuffle_write_bytes"]
                                         for t in tasks) / 2**20 / n,
                "ledger.buckets_skipped": self.skipped,
                "ledger.recomputed_buckets": self.recomputed,
                "triples.write_s": _median_span(
                    run, roots, "sources.corpus.write_triples"),
                **_dir_stats(os.path.join(self.ledger_out, "records"),
                             "records")}


class IncrementalKG:
    name = "incremental_kg"

    def prepare(self, run: Run) -> None:
        s = run.sizes
        self.batch_paths = corpus.batch_series(run.cache_dir, run.seed,
                                               s.batches, s.batch_docs)
        self.sample_path = self.batch_paths[0]
        # every batch once, and every batch but the first replayed
        self.docs = (2 * s.batches - 1) * s.batch_docs

    def _ingest(self, run: Run, root: str, i: int, name: str) -> float:
        with run.op(name, "jobs.incremental_kg") as s:
            incremental_kg.ingest_batch(
                run.spark, root,
                sources.read_corpus(run.spark, self.batch_paths[i]),
                f"s{i:04d}")
        return s["end"] - s["start"]

    def _read(self, run: Run, root: str, name: str) -> float:
        with run.op(name, "reader") as s:
            reader_query(
                incremental_kg.read_triples(run.spark, root),
                publish.read_published(run.spark, root, "kg_degrees"))
        return s["end"] - s["start"]

    def iteration(self, run: Run) -> dict:
        root = run.out("kg")
        publish_s, resume_s, read_s = [], [], []
        for i in range(len(self.batch_paths)):
            publish_s.append(self._ingest(run, root, i,
                                          "jobs.incremental_kg.ingest_batch"))
            if i > 0:
                # crash after the flip: re-running the same snapshot id
                # is the documented recovery.  The first batch is not
                # replayed: with nothing carried its replay skips the
                # degrees fold, so it would be a cheaper, different
                # sample.
                resume_s.append(self._ingest(
                    run, root, i, "jobs.incremental_kg.ingest_batch.replay"))
            man = publish.current_manifest(root)
            self.tables_unioned = sum(t.startswith("triples_b")
                                      for t in man["tables"])
            self.files_scanned = sum(
                _dir_stats(p, "t")["t.files"]
                for t, p in man["tables"].items() if t.startswith("triples_b"))
            read_s.append(self._read(run, root, "reader_query"))
        self.root = root
        return {"docs": self.docs, "publish_s": publish_s,
                "resume_s": resume_s, "read_s": read_s}

    def close(self, run: Run) -> None:
        """One compaction of the last iteration's KG and a final read."""
        with run.op("jobs.incremental_kg.compact",
                    "jobs.incremental_kg") as self.compact_span:
            incremental_kg.compact(run.spark, self.root, "compacted")
        self.final_read_s = self._read(run, self.root,
                                       "reader_query.after_compact")

    def check(self, run: Run, sample: list[dict]) -> None:
        spark = run.spark
        tri = incremental_kg.read_triples(spark, self.root)
        run.check(checks.sample_triples(tri, sample))
        run.check(checks.degrees_equal(
            publish.read_published(spark, self.root, "kg_degrees"),
            incremental_kg.triple_degrees(tri)))
        self.digest = checks.triples_digest(tri)

    def layer_metrics(self, run: Run, log: EventLog, traced: list
                      ) -> dict:
        roots = [r for r, _ in traced]
        tri_w, deg_w, flip = [], [], []
        for s in _spans_under(run, roots, "jobs.incremental_kg.ingest_batch"):
            writes = [e for e in log.executions_in(s["start"], s["end"])
                      if "InsertIntoHadoopFsRelationCommand" in e["plan"]]
            tri_w += [e["end"] - e["start"] for e in writes
                      if f"{os.sep}triples_b" in e["plan"]]
            deg_w += [e["end"] - e["start"] for e in writes
                      if f"{os.sep}kg_degrees" in e["plan"]]
            if writes:
                flip.append(s["end"] - max(e["end"] for e in writes))
        return {"publish.triples_write_s": _median(tri_w),
                "publish.degrees_write_s": _median(deg_w),
                "publish.flip_s": _median(flip),
                "read.tables_unioned": self.tables_unioned,
                "read.files_scanned": self.files_scanned,
                "compact_s": self.compact_span["end"]
                - self.compact_span["start"],
                "read_after_compact_s": self.final_read_s}


WORKLOADS = {w.name: w for w in (BatchKG, ResumeKG, IncrementalKG)}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _spans_under(run: Run, roots: list[dict], prefix: str) -> list[dict]:
    ids = {r["id"] for r in roots}
    out = []
    for s in run.tracer.spans:
        p = s["parent"]
        while p is not None and p not in ids:
            p = run.tracer.spans[p]["parent"]
        if p is not None and s["name"].startswith(prefix) \
                and s["end"] is not None:
            out.append(s)
    return out


def _median_span(run: Run, roots: list[dict], name: str) -> float:
    return _median([s["end"] - s["start"]
                    for s in _spans_under(run, roots, name)
                    if s["name"] == name])


def _dir_stats(path: str, label: str) -> dict:
    """Parquet files and bytes under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return {f"{label}.files": files, f"{label}.bytes": size}
