"""Output checks.  Each returns ``(name, ok, detail)``; a failed check
counts as a failed operation of the run."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from legal_ner_spark import synth
from legal_ner_spark.core.extract import extract_document


def triples_digest(triples: DataFrame) -> str:
    """Order-independent digest of a triples table: row count and the
    sum of per-row CRC32s, so two commits' outputs can be compared."""
    row = triples.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("\u001f", "subj", "pred", "obj",
                                  "doc_id"))).alias("h")).collect()[0]
    return f"{row.n}:{(row.h or 0):x}"


def span_checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, sum of CRC32 over doc_id + JSON spans) of a (doc_id, spans)
    frame — equal on both sides iff the span sequences survived."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.crc32(F.concat(F.col("doc_id"), F.lit("\u001f"),
                                        F.to_json("spans")))).alias("h")
                 ).collect()[0]
    return int(row.n), int(row.h or 0)


def sample_triples(triples: DataFrame, sample: list[dict]) -> tuple:
    """Spark's triples for the sample docs equal single-process
    ``extract_document`` on the same docs, as multisets."""
    ids = [d["doc_id"] for d in sample]
    got = sorted(tuple(r) for r in triples.filter(F.col("doc_id").isin(ids))
                 .select("doc_id", "subj", "pred", "obj").collect())
    want = sorted((d["doc_id"], s, p, o) for d in sample
                  for (s, p, o) in extract_document(
                      d["doc_id"], synth.assemble_text(d["spans"])).triples)
    return ("sample_triples_equal_single_process", got == want,
            f"{len(got)} spark vs {len(want)} single-process triples over "
            f"{len(sample)} docs")


def doc_rows(records: DataFrame, corpus: DataFrame,
             n_docs: int) -> list[tuple]:
    """Doc rows keep the input's span sequences, and there is one per
    corpus doc."""
    got = span_checksum(records.filter(F.col("rec_type") == "doc")
                        .select("doc_id", "spans"))
    want = span_checksum(corpus.select("doc_id", "spans"))
    return [("doc_rows_span_sequence_equal", got == want,
             f"records {got} vs corpus {want}"),
            ("doc_row_count_equals_corpus", got[0] == n_docs,
             f"{got[0]} doc rows for {n_docs} docs")]


def records_summary(records: DataFrame, triples: DataFrame) -> dict:
    n, h = span_checksum(records.filter(F.col("rec_type") == "doc")
                         .select("doc_id", "spans"))
    return {"n_records": records.count(), "doc_rows": n, "span_crc": h,
            "triples_digest": triples_digest(triples)}


def summaries_equal(resumed: dict, batch: dict) -> tuple:
    """Records of the resumed ledger run equal the batch job's on the
    same corpus, by record count, span checksum and triples digest."""
    return ("records_match_batch", resumed == batch,
            f"resumed {resumed} vs batch {batch}")


def degrees_equal(published: DataFrame, recomputed: DataFrame) -> tuple:
    cols = ["node", "out_degree", "in_degree"]
    a, b = published.select(cols), recomputed.select(cols)
    extra = a.exceptAll(b).count()
    missing = b.exceptAll(a).count()
    return ("kg_degrees_equal_recomputed", extra == 0 and missing == 0,
            f"{extra} published rows not recomputed, {missing} missing")
