"""Explicit partitioning: salt + length-range bucketing + chunk slicing.

North-rule requirement: "sequences are salted and range-partitioned on
n_tok to defuse long-document skew, encoding shuffles are bounded by
mapInArrow over pre-bucketed chunks".

Design (deterministic — chunk identity must be a pure function of data,
never of Spark partition boundaries, cf. SURVEY.md §7.4):

- ``bucket``  = bit_length(n_tok)  — fixed log2 ranges of document
  length; computed JVM-side as length(bin(n_tok)). Unlike
  repartitionByRange (whose sampled boundaries differ run-to-run),
  these boundaries are content-only, so re-runs/resume produce
  byte-identical chunks.
- ``salt``    = crc32(doc_id) % n_salts — spreads each length class
  over many reducers so one hot length range cannot stall an executor.
- shuffle     = hash repartition on (bucket, salt): all rows of a
  (bucket, salt) group land in one task, deterministically; a source
  of one partition already holds every group and is not shuffled.
- order       = sortWithinPartitions(bucket, salt, n_tok, doc_id):
  deterministic row order inside each group.
- chunks      = inside mapInArrow, rows of one (bucket, salt) group are
  sliced greedily so each chunk holds <= max_chunk_tokens values
  (bounded Arrow batch / UDF memory); a single oversized document
  becomes its own chunk (it can exceed the budget but never merges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 64
MAX_CHUNK_TOKENS = 1 << 20  # 1M token values per chunk (~4 MB int32)
CORE_COLS = ("doc_id", "tokens", "n_tok", "source")


def salts_for(n_rows: int) -> int:
    """Deterministic salt count from table size: enough (bucket, salt)
    groups for parallelism, but groups big enough (~budget tokens at
    ~700 tokens/doc over ~3 hot length buckets) that chunks reach the
    token budget — oversalting fragments chunks and starves the
    dictionary/FSST selectors."""
    target = max(n_rows // 4096, 4)
    return min(1 << (target - 1).bit_length(), 65536)


def bucketed(df: DataFrame, n_salts: int = DEFAULT_SALTS,
             partitions: int | None = None,
             extra_cols: tuple = ()) -> DataFrame:
    """The encode kernel's input in one projection: the core columns,
    the ``extra_cols`` ((name, type) pairs), ``bucket`` and ``salt``,
    each (bucket, salt) group in one task in (bucket, salt, n_tok,
    doc_id) order. Rows are hash-repartitioned on (bucket, salt) into
    ``partitions`` tasks; when None, into as many as adaptive execution
    coalesces from the shuffled bytes, or not at all when the source's
    physical plan reports one partition: its one task holds every
    group already (and a large frame in it encodes in that task)."""
    out = df.select(
        *map(F.col, CORE_COLS), *(F.col(n) for n, _ in extra_cols),
        F.length(F.bin("n_tok")).cast("int").alias("bucket"),
        F.pmod(F.crc32("doc_id"), F.lit(n_salts)).cast("int").alias("salt"))
    if partitions:
        out = out.repartition(partitions, "bucket", "salt")
    elif df._jdf.queryExecution().executedPlan().outputPartitioning() \
            .numPartitions() != 1:
        out = out.repartition("bucket", "salt")
    return out.sortWithinPartitions("bucket", "salt", "n_tok", "doc_id")
