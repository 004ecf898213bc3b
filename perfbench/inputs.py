"""Seeded inputs.

Every input is a pure function of the seed: regular documents come from
``synth.generate_batch`` (all six token profiles, log-normal lengths),
and a seeded handful of documents longer than the 1M-token chunk budget
tops the table up to an exact token count, so the encoder's split path
and the decoder's stitch path run.
An oversized document is the concatenation of ``generate_batch`` rows
drawn from an id range no regular document uses, cut to a seeded
length of at least 1.05 chunk budgets.

The source table is written once, by Spark's default parquet writer:
the same files are the encode source and the size reference that
``size_vs_ref`` divides by.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tokencodec.spark import synth
from tokencodec.spark.partition import MAX_CHUNK_TOKENS

# oversized documents: mostly 1.05-1.55 chunk budgets long, together
# topping the source up to an exact token count, so every seed of a size
# hands the engine the same amount of work
BIG_MIN = int(1.05 * MAX_CHUNK_TOKENS)
BIG_MAX = int(1.55 * MAX_CHUNK_TOKENS)
# regular documents never use ids at or above this base
_BIG_ID_BASE = 1 << 40
# files the regular documents are written to: the encode source's splits
SOURCE_FILES = 8


def _gen_docs(seed: int):
    def gen(it):
        for batch in it:
            yield synth.generate_batch(
                seed, batch.column(0).to_numpy(zero_copy_only=False))
    return gen


def docs_frame(spark, seed: int, start: int, count: int, partitions: int):
    """Regular documents ``doc-{start:012d}`` .. as a Spark DataFrame."""
    return (spark.range(start, start + count, 1, partitions)
            .mapInArrow(_gen_docs(seed), synth.SCHEMA_DDL))


def docs_batch(seed: int, start: int, count: int) -> pa.RecordBatch:
    """The same rows as ``docs_frame``, built in-process."""
    return synth.generate_batch(seed, np.arange(start, start + count,
                                                dtype=np.int64))


def big_doc_lengths(seed: int, total: int) -> list[int]:
    """Seeded lengths of oversized documents summing to ``total`` (or to
    BIG_MIN when ``total`` is smaller: there is always one)."""
    rng = np.random.default_rng([seed, 0xB16])
    total = max(total, BIG_MIN)
    count = max(1, min(round(total / ((BIG_MIN + BIG_MAX) / 2)),
                       total // BIG_MIN))
    w = rng.uniform(0.8, 1.2, count)
    lengths = np.maximum(np.floor(total * w / w.sum()), BIG_MIN).astype(np.int64)
    lengths[-1] += total - int(lengths.sum())
    return [int(x) for x in lengths]


def big_doc(seed: int, j: int, doc_no: int, length: int) -> pa.RecordBatch:
    """Oversized document ``j``: generate_batch rows concatenated."""
    parts = []
    got = 0
    lo = _BIG_ID_BASE + j * (1 << 24)
    while got < length:
        b = synth.generate_batch(seed, np.arange(lo, lo + 4096, dtype=np.int64))
        vals = b.column(1).values.to_numpy(zero_copy_only=False)
        parts.append(vals[:length - got])
        got += len(parts[-1])
        lo += 4096
    values = np.concatenate(parts).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [pa.array([f"doc-{doc_no:012d}"]),
         pa.ListArray.from_arrays(pa.array([0, length], type=pa.int32()),
                                  pa.array(values)),
         pa.array([length], type=pa.int32()),
         pa.array(["books"])],
        names=["doc_id", "tokens", "n_tok", "source"])


def _gen_big(seed: int, first_no: int, lengths: list[int]):
    def gen(it):
        for batch in it:
            for j in batch.column(0).to_pylist():
                yield big_doc(seed, j, first_no + j, lengths[j])
    return gen


@dataclass
class Source:
    path: str
    n_docs: int  # regular + oversized
    n_tokens: int
    ref_bytes: int  # Spark default-writer parquet bytes of these rows
    n_split_docs: int
    docs: dict  # doc_id -> (n_tok, source)


def build_source(spark, path: str, seed: int, n_docs: int,
                 n_tokens: int) -> Source:
    """Write the seeded token table at ``path`` with Spark's default
    parquet writer: ``n_docs`` regular documents, then oversized ones
    topping the table up to ``n_tokens`` tokens. Return what the checks
    need to know about it."""
    docs_frame(spark, seed, 0, n_docs, SOURCE_FILES).write.parquet(path)
    regular = pq.read_table(path, columns=["n_tok"]).column("n_tok")
    lengths = big_doc_lengths(seed, n_tokens - int(pc.sum(regular).as_py()))
    (spark.range(0, len(lengths), 1, len(lengths))
     .mapInArrow(_gen_big(seed, n_docs, lengths), synth.SCHEMA_DDL)
     .write.mode("append").parquet(path))
    meta = pq.read_table(path, columns=["doc_id", "n_tok", "source"])
    ids = meta.column("doc_id").to_pylist()
    ntok = meta.column("n_tok").to_pylist()
    src = meta.column("source").to_pylist()
    ref_bytes = sum(os.path.getsize(os.path.join(path, f))
                    for f in os.listdir(path) if f.endswith(".parquet"))
    return Source(path=path, n_docs=len(ids), n_tokens=int(sum(ntok)),
                  ref_bytes=ref_bytes,
                  n_split_docs=sum(1 for n in ntok if n > MAX_CHUNK_TOKENS),
                  docs={d: (n, s) for d, n, s in zip(ids, ntok, src)})
