"""Vector table: bit-exact embedding storage on float pages, id-range
pruning, codec selection, and commit semantics."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tokencodec.spark import vectors
from tokencodec.spark.table import SnapshotTable

SF = "/root/testdata/sf0.01"


def _bits(rows):
    return sorted(
        (r.vec_id, r.label,
         np.asarray(r.embedding, dtype=np.float32).view(np.uint32).tobytes())
        for r in rows)


def test_vectors_roundtrip_bit_exact_on_testdata(spark, tmp_path):
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, src, root, chunk_rows=64)
    pages = vectors.read_vector_pages(spark, root)
    assert pages.count() > 1
    # every chunk's encoded bytes beat raw (float pages compress or
    # break even; the envelope overhead is amortized at 64 rows/chunk)
    out = vectors.decode_vectors(spark, root)
    assert _bits(out.collect()) == _bits(src.collect())


def test_vectors_id_range_pruning_skips_chunks(spark, tmp_path):
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, src, root, chunk_rows=32)
    lo, hi = 100, 199
    out = vectors.decode_vectors(spark, root, vec_id_min=lo, vec_id_max=hi)
    exp = src.filter((F.col("vec_id") >= lo) & (F.col("vec_id") <= hi))
    assert _bits(out.collect()) == _bits(exp.collect())
    # range partitioning + sorted ids => tight stats => chunks pruned
    pages = vectors.read_vector_pages(spark, root)
    total = pages.count()
    touched = pages.filter((F.col("vec_id_max") >= lo)
                           & (F.col("vec_id_min") <= hi)).count()
    assert touched < total


def test_vectors_codec_selection(spark, tmp_path):
    """Quantized embeddings pick ALP; random normals pick byte-shuffle;
    both decode bit-identically."""
    rng = np.random.default_rng(5)
    rows_q = [(i, (rng.integers(-999, 999, 16) / 100.0).astype("float32").tolist(), 0)
              for i in range(300)]
    rows_n = [(i, rng.standard_normal(16).astype("float32").tolist(), 1)
              for i in range(300, 600)]
    df = spark.createDataFrame(rows_q + rows_n,
                               "vec_id bigint, embedding array<float>, label int")
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, df, root, chunk_rows=128)
    pages = vectors.read_vector_pages(spark, root)
    codecs_seen = {r.emb_codec for r in pages.select("emb_codec").collect()}
    assert "alp" in codecs_seen and "fpshuf" in codecs_seen
    out = vectors.decode_vectors(spark, root)
    assert _bits(out.collect()) == _bits(df.collect())


def test_vectors_idempotent_commit_and_time_travel(spark, tmp_path):
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).limit(100)
    root = str(tmp_path / "v")
    first = vectors.encode_vectors(spark, src, root)
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    assert first["snapshot_id"] == sid  # the commit's snapshot
    # a re-run is a no-op (the group is committed) and returns the
    # current snapshot
    assert vectors.encode_vectors(spark, src, root)["snapshot_id"] == sid
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] == sid
    snap = SnapshotTable(root).current_snapshot()
    m = snap["metrics"]
    assert m["n_rows"] == 100 and m["op"] == "encode_vectors"
    assert snap["kind"] == "vectors"


def test_vectors_rejects_nulls_and_handles_mixed_dims(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [0.1, 0.2], 0), (2, None, 0)],
        "vec_id bigint, embedding array<float>, label int")
    with pytest.raises(Exception, match="non-null"):
        vectors.encode_vectors(spark, df, str(tmp_path / "v1"))
    # mixed dimensions segment into uniform-dim chunks and round-trip
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(4 if i % 3 else 7)
             .astype("float32").tolist(), i % 2) for i in range(200)]
    df2 = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    root = str(tmp_path / "v2")
    vectors.encode_vectors(spark, df2, root, chunk_rows=16)
    pages = vectors.read_vector_pages(spark, root)
    assert {r.dim for r in pages.select("dim").collect()} == {4, 7}
    out = vectors.decode_vectors(spark, root)
    assert _bits(out.collect()) == _bits(df2.collect())


def test_vectors_fsck_clean_and_detects_corruption(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from tokencodec.spark import fsck

    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).limit(200)
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, src, root, chunk_rows=32)
    rep = fsck.fsck(spark, root)
    assert rep.filter("not ok").count() == 0
    assert rep.count() > 1

    # flip one byte inside a committed embedding page -> CRC failure
    import pyarrow as pa
    f = sorted(glob.glob(os.path.join(root, "data", "run-*", "*.parquet")))[0]
    t = pq.read_table(f)
    blobs = t.column("page_emb").to_pylist()
    blob = bytearray(blobs[0])
    blob[-1] ^= 0xFF
    blobs[0] = bytes(blob)
    t = t.set_column(t.schema.get_field_index("page_emb"), "page_emb",
                     pa.array(blobs, type=pa.binary()))
    os.chmod(f, 0o644)
    pq.write_table(t, f, compression="zstd")
    # remove Hadoop's checksum sidecar so OUR page CRC layer is what
    # detects the corruption (on object stores there is no sidecar)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    bad = fsck.fsck(spark, root).filter("not ok")
    assert bad.count() == 1
    assert "crc" in bad.collect()[0].error.lower()


def test_vectors_append_groups_and_incremental_read(spark, tmp_path):
    """Incremental vector ingestion: a second batch appends under a new
    group; readers see the union, and decode_vector_changes returns
    exactly the new batch (compaction-free manifest-walk semantics of
    decode_changes)."""
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    a = src.filter("vec_id < 250")
    b = src.filter("vec_id >= 250")
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, a, root, chunk_rows=64)
    sid0 = SnapshotTable(root).current_snapshot()["snapshot_id"]
    vectors.encode_vectors(spark, b, root, chunk_rows=64, group="batch-2")

    assert _bits(vectors.decode_vectors(spark, root).collect()) \
        == _bits(src.collect())
    ch = vectors.decode_vector_changes(spark, root, sid0)
    assert _bits(ch.collect()) == _bits(b.collect())
    cur = SnapshotTable(root).current_snapshot()["snapshot_id"]
    assert vectors.decode_vector_changes(spark, root, cur).count() == 0


def test_vectors_appended_batches_have_unique_chunk_uids(spark, tmp_path):
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, src.filter("vec_id < 250"), root, chunk_rows=64)
    vectors.encode_vectors(spark, src.filter("vec_id >= 250"), root,
                           chunk_rows=64, group="batch-2")
    pages = vectors.read_vector_pages(spark, root)
    assert pages.count() == pages.select("chunk_uid").distinct().count()


def test_vectors_publish_staged_adopts_and_retires(spark, tmp_path):
    from tokencodec.spark import maintenance
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    main, stage = str(tmp_path / "main"), str(tmp_path / "stage")
    vectors.encode_vectors(spark, src.filter(F.col("vec_id") % 2 == 0),
                           main, chunk_rows=64)
    vectors.encode_vectors(spark, src.filter(F.col("vec_id") % 2 == 1),
                           stage, chunk_rows=64, group="odd")
    snap = maintenance.publish_staged(main, stage)
    assert set(snap["groups"]) == {"vectors", "odd"}
    assert snap["metrics"]["op"] == "publish_staged"
    assert snap["kind"] == "vectors"
    # bit-exact union after the metadata-only adoption
    out = vectors.decode_vectors(spark, main)
    assert _bits(out.collect()) == _bits(src.collect())
    # ownership transferred: staging manifests retired
    assert not os.path.exists(os.path.join(stage, "_manifest"))


def test_vectors_publish_refusals(spark, tmp_path):
    from tokencodec.spark import encode_job, maintenance
    from tokencodec.spark.synth import token_table
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    main, stage = str(tmp_path / "m2"), str(tmp_path / "s2")
    vectors.encode_vectors(spark, src, main, chunk_rows=64)
    # duplicate group key refused by the commit itself
    vectors.encode_vectors(spark, src, stage, chunk_rows=64)
    with pytest.raises(ValueError, match="already committed"):
        maintenance.publish_staged(main, stage)
    # a token table on either side is refused by the kind stamp
    tok = str(tmp_path / "tok")
    encode_job.encode(spark, token_table(spark, 60, seed=5), tok,
                      commit_groups=1)
    with pytest.raises(ValueError, match="is a vectors table"):
        maintenance.publish_staged(main, tok)
    with pytest.raises(ValueError, match="is a tokens table"):
        maintenance.publish_staged(tok, stage)
    # empty staging refused
    with pytest.raises(ValueError, match="no committed snapshot"):
        maintenance.publish_staged(main, str(tmp_path / "empty"))


def test_vectors_cli_fsck_detects_fresh_group_tables(spark, tmp_path, capsys):
    # regression: CLI fsck auto-detect used `groups == {"vectors"}`, so a
    # staged/appended vector table (fresh group name) fell into the
    # TOKEN fsck and reported every chunk bad
    import json
    from tokencodec.__main__ import main as cli
    src = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    stage = str(tmp_path / "s3")
    vectors.encode_vectors(spark, src, stage, chunk_rows=64, group="batch7")
    assert cli(["--cores", "8", "fsck", stage]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["bad"] == 0 and rep["chunks"] > 0
