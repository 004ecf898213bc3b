"""Scans as range tasks over committed files: every full decode, range
scan and incremental read runs the chunk reader in spark.range tasks,
each task stitching the split parts of its own files."""

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.test_plans import _formatted, assert_range_scan, spy_scan_tasks
from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.table import SnapshotTable

OK = {"missing": 0, "extra": 0, "ok": True}


@pytest.fixture(scope="module")
def split_table(spark, tmp_path_factory):
    """A two-file direct-written table whose two longest documents are
    cut into parts, rewritten with one chunk per row group so that
    every split document spans several row groups of its file."""
    root = str(tmp_path_factory.mktemp("range_scan") / "t")
    df = synth.token_table(spark, 300, seed=61).cache()
    lens = sorted(r.n_tok for r in df.select("n_tok").collect())
    assert lens[-2] > lens[-3]
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=lens[-3], direct_write=True)
    for f in glob.glob(f"{root}/data/run-*/*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t, f, row_group_size=1, compression="zstd")
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return df, root


def _tasks(spark, root):
    tbl = SnapshotTable(root)
    snap = tbl.current_snapshot()
    return decode_job._scan_tasks(
        snap, decode_job.lookup_report(root),
        len(decode_job._data_paths(tbl, snap)),
        spark.sparkContext.defaultParallelism)


def test_split_parts_across_row_groups_decode_bit_identical(spark,
                                                            split_table):
    df, root = split_table
    spanning = 0
    for f in glob.glob(f"{root}/data/run-*/*.parquet"):
        pf = pq.ParquetFile(f)
        parts = pf.read(columns=["doc_parts"]).column(0).to_pylist()
        assert pf.num_row_groups == len(parts)
        spanning += sum(1 for n in parts if n > 1)
    assert spanning >= 4  # two documents, at least two parts each
    assert len(_tasks(spark, root)) >= 2
    assert decode_job.audit(df, decode_job.decode(spark, root),
                            strict=True) == OK
    want = {r.doc_id: np.asarray(r.tokens, np.int32).tobytes()
            for r in df.orderBy(F.desc("n_tok")).limit(2).collect()}
    got = {r.doc_id: r.tokens for r in decode_job.decode(
        spark, root, packed=True).filter(
            F.col("doc_id").isin(list(want))).collect()}
    assert got == want
    # a projection without tokens or n_tok reads part 0 only
    assert decode_job.audit(
        df.select("doc_id", "source"),
        decode_job.decode(spark, root, columns=["doc_id", "source"]),
        strict=True) == OK


def test_pending_delete_masks_split_document_whole(spark, tmp_path):
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 200, seed=62).cache()
    lens = sorted(r.n_tok for r in df.select("n_tok").collect())
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=lens[-2], direct_write=True)
    big = df.orderBy(F.desc("n_tok")).first().doc_id
    maintenance.delete_docs(spark, root, [big])
    out = decode_job.decode(spark, root)
    assert_range_scan(_formatted(out, spark))
    assert decode_job.audit(df.filter(F.col("doc_id") != big), out,
                            strict=True) == OK
    # the split document's n_tok alone is masked too
    assert decode_job.decode(
        spark, root, columns=["doc_id", "n_tok"],
        n_tok_min=lens[-1]).count() == 0


def test_decode_changes_uses_range_source(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    a = synth.token_table(spark, 120, seed=63)
    b = (synth.token_table(spark, 150, seed=64)
         .withColumn("doc_id", F.concat(F.lit("b-"), "doc_id")).cache())
    encode_job.encode(spark, a, root, commit_groups=2, direct_write=True)
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    encode_job.encode(spark, b, root, commit_groups=2, group_prefix="b",
                      max_chunk_tokens=512, direct_write=True)
    planned = spy_scan_tasks(monkeypatch)
    ch = decode_job.decode_changes(spark, root, sid)
    assert_range_scan(_formatted(ch, spark))
    (tasks,) = planned
    assert sorted(p for t in tasks for p, _ in t) \
        == sorted(decode_job.changed_paths(root, sid))
    assert decode_job.audit(b, ch, strict=True) == OK


def test_full_decode_plan_is_map_in_arrow_over_range(spark, split_table):
    df, root = split_table
    out = decode_job.decode(spark, root, packed=True)
    plan = _formatted(out, spark)
    assert_range_scan(plan)
    k = len(_tasks(spark, root))
    assert f"Range (0, {k}, step=1, splits=Some({k}))" in plan, plan
