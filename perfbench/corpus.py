"""Seeded corpora, written once per (seed, shape) and reused.

The seed shifts the ``synth.gen_doc`` id range, so every seed gives a
different but reproducible doc mix (media spans, statute skew, doc
lengths all come from the per-id generator).  One property is fixed
instead of sampled: the share of mega-documents.  The generator makes
about 2% of docs twenty times longer, and those carry about 30% of the
extraction work, so a binomial draw of them would swing a corpus's total
work by ~6% from seed to seed.  Each corpus (and each arriving batch)
therefore takes exactly ``round(2% × size)`` mega-docs, in id order from
the seed's range, with the ordinary docs around them; where they land in
the corpus stays the seed's.

Generation runs in the driver with pyarrow, before any timed region, and
lands in a cache directory that a later run with the same seed and shape
reads back without regenerating.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from legal_ner_spark import synth

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
CORPUS_ARROW = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                          pa.field("spans", pa.list_(_SPAN))])

# Seeds map to disjoint id ranges as long as no corpus draws more ids.
SEED_STRIDE = 1_000_000
MEGA_SHARE = 0.02
# synth.gen_text's ordinary docs have at most 24 sentences (< 4k chars);
# its mega-docs have at least 160
MEGA_CHARS = 8000


def _draw(start: int, n_docs: int) -> tuple[list[int], int]:
    """``n_docs`` ids from ``start`` on, with exactly the mega-doc share;
    returns them and the next unused id."""
    n_mega = round(MEGA_SHARE * n_docs)
    ids, mega, i = [], 0, start
    while len(ids) < n_docs:
        is_mega = len(synth.gen_text(i)) > MEGA_CHARS
        room = (mega < n_mega if is_mega
                else len(ids) - mega < n_docs - n_mega)
        if room:
            ids.append(i)
            mega += is_mega
        i += 1
    if i - start > SEED_STRIDE:
        raise ValueError(f"{n_docs} docs overrun the per-seed id range")
    return ids, i


def _write_parts(path: str, ids: list[int], n_files: int) -> None:
    os.makedirs(path)
    for f in range(n_files):
        chunk = ids[f * len(ids) // n_files:(f + 1) * len(ids) // n_files]
        table = pa.Table.from_pylist([synth.gen_doc(i) for i in chunk],
                                     schema=CORPUS_ARROW)
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def _cached(cache_dir: str, name: str, build) -> str:
    """Return ``cache_dir/name``, building it first if absent.  The build
    writes into a temporary sibling that is renamed into place, so an
    interrupted build never leaves a half corpus behind."""
    final = os.path.join(cache_dir, name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, final)
    return final


def batch_corpus(cache_dir: str, seed: int, n_docs: int,
                 n_files: int) -> str:
    """One parquet directory of ``n_docs`` docs in ``n_files`` files."""
    return _cached(
        cache_dir, f"seed{seed}-n{n_docs}-f{n_files}",
        lambda p: _write_parts(p, _draw(seed * SEED_STRIDE, n_docs)[0],
                               n_files))


def batch_series(cache_dir: str, seed: int, n_batches: int,
                 batch_docs: int) -> list[str]:
    """``n_batches`` parquet directories of ``batch_docs`` docs each, one
    per arriving batch, drawn one after another from the seed's ids."""
    def build(path: str) -> None:
        os.makedirs(path)
        start = seed * SEED_STRIDE
        for b in range(n_batches):
            ids, start = _draw(start, batch_docs)
            _write_parts(os.path.join(path, f"batch-{b:03d}"), ids, 1)

    root = _cached(cache_dir, f"seed{seed}-b{n_batches}x{batch_docs}", build)
    return [os.path.join(root, f"batch-{b:03d}") for b in range(n_batches)]


def first_docs(path: str, k: int) -> list[dict]:
    """The first ``k`` docs of a corpus directory's first file — the
    fixed sample the single-process oracle checks against."""
    first = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    return pq.read_table(os.path.join(path, first)).slice(0, k).to_pylist()
