"""Packed (binary-blob) decode output, split-safe duplicate doc_ids,
hash-based audit, and the one-pass multi-group encode write."""

import os

import pytest

from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, synth
from tokencodec.spark.table import SnapshotTable


@pytest.fixture(scope="module")
def enc_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("packed") / "enc")
    df = synth.token_table(spark, 400, seed=11)
    encode_job.encode(spark, df, root, commit_groups=2, max_chunk_tokens=1 << 16)
    return root


def test_packed_decode_matches_list_decode(spark, enc_root):
    """packed=True must carry byte-for-byte the same tokens as the
    list<int32> output (LE-int32 blob == array)."""
    packed = decode_job.decode(spark, enc_root, packed=True)
    listed = decode_job.decode(spark, enc_root)
    a = packed.select("doc_id", F.length("tokens").alias("nb"), "n_tok",
                      F.xxhash64("tokens").alias("h"))
    b = listed.select(
        "doc_id", (F.size("tokens") * 4).alias("nb"), "n_tok",
        F.xxhash64(F.aggregate(F.transform("tokens", _le4),
                               F.lit(b""), lambda x, y: F.concat(x, y))).alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_packed_roundtrip_audit_with_splits(spark, tmp_path):
    """Oversized docs are split at encode; packed decode must reassemble
    the blob parts in order and audit bit-identical vs the packed source."""
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 200, seed=23)
    # force splits: budget below the median doc length (~700)
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=1 << 9)
    pages = encode_job.read_pages(spark, root)
    assert pages.filter(F.col("doc_parts") > 1).count() > 0
    packed = decode_job.decode(spark, root, packed=True)
    # pack the original identically (LE int32 blob)
    src = df.select(
        "doc_id",
        F.aggregate(F.transform("tokens", lambda x: _le4(x)),
                    F.lit(b""), lambda a, x: F.concat(a, x)).alias("tokens"),
        "n_tok", "source")
    assert decode_job.audit(src, packed) == {"missing": 0, "extra": 0, "ok": True}


def _le4(x):
    """int32 column -> 4-byte little-endian binary."""
    h = F.lpad(F.hex(x.cast("bigint") % F.lit(4294967296)), 8, "0")
    # h is big-endian hex of the uint32; reverse byte order via substrings
    return F.unhex(F.concat(F.substring(h, 7, 2), F.substring(h, 5, 2),
                            F.substring(h, 3, 2), F.substring(h, 1, 2)))


def test_duplicate_docid_split_roundtrip(spark, tmp_path):
    """A duplicated doc_id whose doc is oversized must decode back to
    TWO identical rows (split parts grouped on split_uid, never merged
    across copies)."""
    root = str(tmp_path / "enc")
    base = synth.token_table(spark, 40, seed=31)
    big = base.orderBy(F.desc("n_tok")).limit(1)
    df = base.unionAll(big)  # one doc duplicated
    n_big = big.collect()[0].n_tok
    assert n_big > (1 << 9)  # will split at this budget
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=1 << 9)
    decoded = decode_job.decode(spark, root)
    assert decoded.count() == 41
    assert decode_job.audit(df, decoded) == {"missing": 0, "extra": 0, "ok": True}
    dup = decoded.groupBy("doc_id").count().filter(F.col("count") == 2).count()
    assert dup == 1


def test_audit_detects_mismatch(spark, enc_root):
    original = synth.token_table(spark, 400, seed=11)
    decoded = decode_job.decode(spark, enc_root)
    res = decode_job.audit(original.limit(399), decoded)
    assert res["ok"] is False and res["extra"] == 1
    res2 = decode_job.audit(
        original.withColumn("n_tok", F.col("n_tok") + 1), decoded)
    assert res2["ok"] is False


def test_multi_group_encode_is_one_pass(spark, enc_root):
    """All commit groups of one encode() call share a single run dir
    (written by one job over one source read), committed in order."""
    tbl = SnapshotTable(enc_root)
    groups = tbl.committed_groups()
    assert sorted(groups) == ["g0", "g1"]
    run_dirs = {os.path.dirname(p) for ps in groups.values() for p in ps}
    assert len(run_dirs) == 1
    snaps = tbl.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [0, 1]


def test_chunk_uids_table_unique(spark, enc_root):
    pages = encode_job.read_pages(spark, enc_root)
    n = pages.count()
    assert pages.select("chunk_uid").distinct().count() == n


def test_decode_legacy_pages_without_split_columns(spark, tmp_path,
                                                   set_format):
    """Pages written before split_uid existed (NULL split_uid, committed
    as a run directory) only ever sat in chains without the format
    stamp: decode refuses such a chain. Committed into a current table
    by hand, they break invariants the readers assume, and fsck reports
    the directory and every chunk without a split_uid."""
    from tokencodec.spark import fsck

    root = str(tmp_path / "legacy")
    df_old = synth.token_table(spark, 120, seed=17)
    # splits in the legacy data: budget below the median doc length
    encode_job.encode(spark, df_old, root, commit_groups=1, max_chunk_tokens=1 << 9)
    tbl = SnapshotTable(root)
    legacy = (spark.read.parquet(*tbl.data_paths())
              .drop("split_uid"))
    assert legacy.filter(F.col("doc_parts") > 1).count() > 1
    legacy_dir = str(tmp_path / "legacy_run")
    legacy.write.mode("overwrite").parquet(legacy_dir)

    set_format(root)
    for packed in (False, True):
        with pytest.raises(ValueError, match="re-encode"):
            decode_job.decode(spark, root, packed=packed)

    mixed_root = str(tmp_path / "mixed")
    SnapshotTable(mixed_root).commit({"legacy": [legacy_dir]},
                                     metrics={"max_doc_parts": 8})
    bad = fsck.fsck(spark, mixed_root).filter(~F.col("ok")).collect()
    assert legacy_dir in {r.chunk_uid for r in bad}
    assert sum("NULL split_uid" in r.error for r in bad) == legacy.count()
