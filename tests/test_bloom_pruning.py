"""Per-chunk doc-id Bloom filters: build/probe kernel, point-lookup
pruning beyond salt+range, legacy-NULL tolerance, compaction
propagation, and the fsck no-false-negative invariant.

Parquet/Iceberg attach Bloom filters to column chunks; the reference
has no such surface (its Statistics parse stops at min/max,
/root/reference/src/Parquet/Types/ColumnChunk.hs:19-30) — this is
engine-added pruning for exact doc_id lookups.
"""

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from tokencodec import bloom
from tokencodec.spark import decode_job, encode_job, fsck, synth


# ------------------------------------------------------------- kernel

def test_bloom_never_false_negative():
    ids = [f"doc-{i:012d}" for i in range(5000)]
    blob = bloom.build(ids)
    assert all(bloom.might_contain(blob, d) for d in ids)
    assert bloom.contains_all(blob, ids)


def test_bloom_fpr_reasonable():
    blob = bloom.build([f"doc-{i:012d}" for i in range(2000)])
    others = [f"other-{i}" for i in range(20000)]
    fpr = sum(bloom.might_contain(blob, d) for d in others) / len(others)
    assert fpr < 0.05, fpr


def test_bloom_size_capped_and_null_tolerated():
    # a degenerate 200k-doc chunk caps at 64 KiB + header
    assert len(bloom.build([str(i) for i in range(200_000)])) <= (1 << 16) + 8
    # NULL / malformed blobs always KEEP (unknown), never prune
    keep = bloom.series_might_contain(
        np.array([None, b"", b"bogus", b"\x00" * 64], dtype=object), "x")
    assert keep.tolist() == [True, True, True, True]
    assert bloom.might_contain(None, "x")


def test_series_agrees_with_scalar():
    blobs = [bloom.build([f"d{i}", f"e{i}"]) for i in range(50)]
    arr = np.array(blobs, dtype=object)
    for probe in ("d7", "e33", "nope"):
        got = bloom.series_might_contain(arr, probe)
        want = [bloom.might_contain(b, probe) for b in blobs]
        assert got.tolist() == want


# ---------------------------------------------------------------- e2e

@pytest.fixture(scope="module")
def enc_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bloomtab"))
    df = synth.token_table(spark, 800, seed=37).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=1 << 15)
    return df, root


def test_point_lookup_bloom_prunes_beyond_salt(spark, enc_root):
    """Within the target's salt the chunk doc_id ranges all cover a
    hash-spread point, so only the Bloom bits can skip chunks: the
    Bloom probe must keep strictly fewer chunks than salt+range."""
    import zlib
    df, root = enc_root
    target = "doc-000000000123"
    out = decode_job.decode(spark, root, doc_id_min=target,
                            doc_id_max=target)
    expected = df.filter(F.col("doc_id") == target)
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}
    s = zlib.crc32(target.encode()) % 4
    pages = encode_job.read_pages(spark, root).filter(
        (F.col("doc_id_max") >= target) & (F.col("doc_id_min") <= target)
        & (F.col("salt") == s))
    rows = pages.select("doc_bloom").collect()
    assert all(r.doc_bloom is not None for r in rows)
    kept = bloom.series_might_contain(
        np.array([bytes(r.doc_bloom) for r in rows], dtype=object), target)
    assert kept.sum() < len(rows), "bloom should prune within the salt"
    assert kept.sum() >= 1


def test_batch_lookup_exact_rows(spark, enc_root):
    """decode(doc_ids=[...]): exact multi-id lookup (the takedown-
    verification shape) returns precisely the requested rows — absent
    ids contribute nothing, present ids come back bit-identical."""
    df, root = enc_root
    targets = ["doc-000000000003", "doc-000000000123",
               "doc-000000000799", "doc-ffffffffffff"]  # last one absent
    out = decode_job.decode(spark, root, doc_ids=targets)
    expected = df.filter(F.col("doc_id").isin(targets))
    assert expected.count() == 3
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}


def test_batch_lookup_prunes_chunks(spark, enc_root):
    """The batch path must keep fewer chunks than the range envelope:
    salt-union + any-of Bloom filtering both apply."""
    import zlib
    df, root = enc_root
    targets = ["doc-000000000003", "doc-000000000123"]
    pages = encode_job.read_pages(spark, root)
    total = pages.count()
    salts = {zlib.crc32(t.encode()) % 4 for t in targets}
    in_salt = pages.filter(F.col("salt").isin(list(salts)))
    rows = in_salt.select("doc_bloom").collect()
    kept = bloom.series_might_contain_any(
        np.array([bytes(r.doc_bloom) for r in rows], dtype=object), targets)
    assert in_salt.count() < total
    assert kept.sum() < len(rows)
    assert kept.sum() >= 1


def test_batch_lookup_empty_and_exclusive(spark, enc_root):
    df, root = enc_root
    assert decode_job.decode(spark, root, doc_ids=[]).count() == 0
    with pytest.raises(ValueError, match="not both"):
        decode_job.decode(spark, root, doc_ids=["x"],
                          doc_id_min="a")


def test_batch_lookup_split_doc(spark, tmp_path):
    """Batch lookup of an oversized (split) doc reassembles all parts."""
    df = synth.token_table(spark, 60, seed=13).cache()
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=8,
                      max_chunk_tokens=64)
    big = df.orderBy(F.desc("n_tok")).select("doc_id").first()[0]
    small = df.orderBy("n_tok").select("doc_id").first()[0]
    out = decode_job.decode(spark, root, doc_ids=[big, small])
    expected = df.filter(F.col("doc_id").isin([big, small]))
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}


def test_legacy_null_bloom_never_prunes(spark, tmp_path):
    """Files written before the doc_bloom column (simulated by nulling
    the column in place) decode point lookups exactly — NULL = keep."""
    df = synth.token_table(spark, 200, seed=5).cache()
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    for f in glob.glob(f"{root}/data/run-*/*.parquet"):
        t = pq.read_table(f)
        i = t.column_names.index("doc_bloom")
        t = t.set_column(i, "doc_bloom",
                         pa.array([None] * t.num_rows, type=pa.binary()))
        pq.write_table(t, f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    target = "doc-000000000042"
    out = decode_job.decode(spark, root, doc_id_min=target,
                            doc_id_max=target)
    expected = df.filter(F.col("doc_id") == target)
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}
    # fsck treats the NULL column as legitimate (pre-bloom files)
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_compaction_rebuilds_blooms(spark, tmp_path):
    from tokencodec.spark import maintenance
    df = synth.token_table(spark, 300, seed=8).cache()
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=2000)
    maintenance.compact(spark, root)
    pages = encode_job.read_pages(spark, root)
    assert pages.filter(F.col("doc_bloom").isNull()).count() == 0
    target = df.select("doc_id").orderBy("doc_id").first()[0]
    out = decode_job.decode(spark, root, doc_id_min=target,
                            doc_id_max=target)
    expected = df.filter(F.col("doc_id") == target)
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}


def test_fsck_catches_wrong_bloom(spark, tmp_path):
    """A bloom that misses a stored doc_id is an integrity defect (the
    point-lookup path would silently drop rows): fsck must flag it."""
    df = synth.token_table(spark, 200, seed=9)
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    f = next(p for p in sorted(glob.glob(f"{root}/data/run-*/*.parquet"))
             if pq.ParquetFile(p).metadata.num_rows > 0)
    t = pq.read_table(f)
    wrong = bloom.build(["not-a-real-doc"])
    blobs = t.column("doc_bloom").to_pylist()
    blobs[0] = wrong
    t = t.set_column(t.column_names.index("doc_bloom"), "doc_bloom", [blobs])
    pq.write_table(t, f)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    bad = fsck.fsck(spark, root).filter(~F.col("ok")).collect()
    assert len(bad) == 1
    assert "bloom" in bad[0].error


def test_blob_scheme_dispatch_never_false_negatives():
    """ADVICE r5 #2: probes may say 'no' only for blobs whose hashing
    this build provably reproduces. A schemeless blob (the round-5
    layout, never written since) and an unknown scheme id degrade to
    keep; fsck's contains_all conversely FAILS on what it cannot
    validate."""
    import numpy as np
    from tokencodec import bloom

    ids = np.array([f"doc-{i:012d}" for i in range(50)], dtype=object)
    blob = bloom.build(ids)
    # v2 layout: scheme byte present and probes exact
    scheme_at = bloom._HEADER_V2.size - 1
    assert blob[scheme_at] == bloom._SCHEME_PANDAS_SIPHASH13
    assert bloom.might_contain(blob, "doc-000000000007")
    assert bloom.contains_all(blob, ids)
    absent = next(f"absent-{i}" for i in range(1000)
                  if not bloom.might_contain(blob, f"absent-{i}"))
    # schemeless blob (round-5 layout): keep, and fsck refuses to vouch
    legacy = blob[:scheme_at] + blob[bloom._HEADER_V2.size:]
    assert bloom.might_contain(legacy, absent)
    assert (bloom.series_might_contain(np.array([legacy, blob], dtype=object),
                                       absent) == [True, False]).all()
    assert bloom.series_might_contain_any([legacy], [absent]).all()
    assert not bloom.contains_all(legacy, ids)
    # unknown scheme: probes keep, fsck refuses to vouch
    alien = blob[:scheme_at] + b"\xfe" + blob[bloom._HEADER_V2.size:]
    assert bloom.might_contain(alien, "definitely-not-there")
    assert not bloom.contains_all(alien, ids)
