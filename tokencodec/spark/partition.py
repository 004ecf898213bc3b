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
  (bucket, salt) group land in one task, deterministically.
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


def salts_for(n_rows: int) -> int:
    """Deterministic salt count from table size: enough (bucket, salt)
    groups for parallelism, but groups big enough (~budget tokens at
    ~700 tokens/doc over ~3 hot length buckets) that chunks reach the
    token budget — oversalting fragments chunks and starves the
    dictionary/FSST selectors."""
    target = max(n_rows // 4096, 4)
    return min(1 << (target - 1).bit_length(), 65536)


def bucketed(df: DataFrame, n_salts: int = DEFAULT_SALTS,
             partitions: int | None = None) -> DataFrame:
    """Add (bucket, salt) and shuffle so each group is co-located.
    ``partitions`` fixes the shuffle's task count; None leaves it to
    adaptive execution, which coalesces whole hash partitions from the
    shuffled bytes."""
    out = (df
           .withColumn("bucket", F.length(F.bin(F.col("n_tok"))).cast("int"))
           .withColumn("salt", F.pmod(F.crc32(F.col("doc_id")), F.lit(n_salts)).cast("int")))
    if partitions:
        out = out.repartition(partitions, "bucket", "salt")
    else:
        out = out.repartition("bucket", "salt")
    return out.sortWithinPartitions("bucket", "salt", "n_tok", "doc_id")
