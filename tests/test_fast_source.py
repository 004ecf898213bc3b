"""The file-split/binary-blob fast source must produce a byte-identical
encoded table to the generic DataFrame path on the same data."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, synth


def _fingerprint(spark, root):
    pages = encode_job.read_pages(spark, root)
    rows = (pages.withColumn("h", F.md5(F.concat("page_tokens", "page_doc_id",
                                                 "page_n_tok", "page_source")))
            .select("chunk_uid", "h").collect())
    return sorted((r.chunk_uid, r.h) for r in rows)


def test_fast_source_bit_identical_to_df_path(spark, tmp_path):
    src = str(tmp_path / "src")
    df = synth.token_table(spark, 800, seed=21)
    df.write.mode("overwrite").parquet(src)

    root_a = str(tmp_path / "df_path")
    root_b = str(tmp_path / "fast_path")
    n_salts = 4
    encode_job.encode(spark, spark.read.parquet(src), root_a,
                      commit_groups=1, n_salts=n_salts, max_chunk_tokens=1 << 17)
    encode_job.encode_from_parquet(spark, src, root_b, commit_groups=1,
                                   n_salts=n_salts, max_chunk_tokens=1 << 17)
    assert _fingerprint(spark, root_a) == _fingerprint(spark, root_b)


@pytest.mark.parametrize("row_group_size", [
    400,  # one file, 2 splits: fewer splits than cores
    16,   # one file, 50 splits: more splits than source tasks
])
def test_fast_source_bit_identical_per_split_layout(spark, tmp_path,
                                                   row_group_size):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.Table.from_batches([synth.generate_batch(
        23, np.arange(800))]), str(src / "part-0.parquet"),
        row_group_size=row_group_size)
    src = str(src)
    n_splits = len(encode_job.parquet_splits(src))
    n_tasks = len(encode_job.assign_splits(
        encode_job.parquet_splits(src, return_stats=True)[0],
        spark.sparkContext.defaultParallelism))
    assert (n_splits < spark.sparkContext.defaultParallelism
            if row_group_size == 400 else n_splits > n_tasks)

    root_a = str(tmp_path / "df_path")
    root_b = str(tmp_path / "fast_path")
    kw = dict(commit_groups=2, n_salts=4, max_chunk_tokens=1 << 17)
    encode_job.encode(spark, spark.read.parquet(src), root_a, **kw)
    encode_job.encode_from_parquet(spark, src, root_b, **kw)
    assert _fingerprint(spark, root_a) == _fingerprint(spark, root_b)


def test_fast_source_roundtrip(spark, tmp_path):
    src = str(tmp_path / "src")
    df = synth.token_table(spark, 500, seed=22)
    df.write.mode("overwrite").parquet(src)
    root = str(tmp_path / "enc")
    encode_job.encode_from_parquet(spark, src, root, commit_groups=2)
    decoded = decode_job.decode(spark, root)
    assert decode_job.audit(spark.read.parquet(src), decoded) == {
        "missing": 0, "extra": 0, "ok": True}


def test_read_and_pack_slices_oversized_row_groups(spark, tmp_path, monkeypatch):
    """Row groups whose token bytes exceed the int32 blob-offset limit
    must be sliced on row boundaries (not silently wrapped); a single
    over-limit document must raise."""
    import pyarrow as pa
    import pytest as _pytest
    from tokencodec.spark import encode_job

    def _pack(src):
        splits = encode_job.parquet_splits(src)
        return list(encode_job._read_and_pack(iter([
            pa.RecordBatch.from_arrays(
                [pa.array([p for p, _ in splits]),
                 pa.array([rg for _, rg in splits], pa.int32())],
                names=["path", "rg"])])))

    monkeypatch.setattr(encode_job, "_MAX_BLOB_BYTES", 4096)
    df = synth.token_table(spark, 300, seed=4)

    small = str(tmp_path / "small")
    df.filter((F.col("n_tok") * 4) <= 4096).coalesce(1).write.mode("overwrite").parquet(small)
    n_small = df.filter((F.col("n_tok") * 4) <= 4096).count()
    batches = _pack(small)
    assert len(batches) > 1  # sliced on row boundaries
    for b in batches:
        assert b.column(1).buffers()[2].size <= 4096
    assert sum(b.num_rows for b in batches) == n_small

    big = str(tmp_path / "big")
    df.coalesce(1).write.mode("overwrite").parquet(big)
    assert df.filter((F.col("n_tok") * 4) > 4096).count() > 0
    with _pytest.raises(ValueError, match="binary transport limit"):
        _pack(big)
