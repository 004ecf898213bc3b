"""End-to-end Spark round-trip: synth token table -> encode (snapshot
commits) -> decode -> bit-identical equality; compressed size <=
reference parquet (Spark's own uncompressed parquet writer, the same
fixture method as /root/reference/tests/integration/gen_parquet.py:14,20-23).
Mirrors the reference's golden round-trip (tests/integration/Spec.hs:85-99).
"""

import glob
import os

import pytest

from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, synth

N_ROWS = 1200
SEED = 42


@pytest.fixture(scope="module")
def roundtrip(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("enc"))
    df = synth.token_table(spark, N_ROWS, seed=SEED).cache()
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=1 << 18)
    pages = encode_job.read_pages(spark, root)
    decoded = decode_job.decode(spark, root)
    return df, pages, decoded, root


def test_row_count_preserved(roundtrip):
    df, pages, decoded, _ = roundtrip
    assert decoded.count() == df.count() == N_ROWS


def test_roundtrip_bit_identical(roundtrip):
    df, _, decoded, _ = roundtrip
    res = decode_job.audit(df, decoded)
    assert res == {"missing": 0, "extra": 0, "ok": True}


def test_token_array_equality_by_key(roundtrip):
    """Explicit per-row token-array equality join (the reference's
    per-record JSON equality, Spec.hs:98, as a keyed check)."""
    df, _, decoded, _ = roundtrip
    j = df.alias("a").join(decoded.alias("b"), "doc_id", "full")
    bad = j.filter(
        (F.col("a.tokens") != F.col("b.tokens"))
        | F.col("a.tokens").isNull() | F.col("b.tokens").isNull()
        | (F.col("a.n_tok") != F.col("b.n_tok"))
        | (F.col("a.source") != F.col("b.source"))).count()
    assert bad == 0


def test_compression_beats_reference_parquet(roundtrip, spark, tmp_path):
    df, pages, _, _ = roundtrip
    ref_dir = str(tmp_path / "ref_parquet")
    (df.coalesce(4).write.mode("overwrite")
       .option("compression", "uncompressed").parquet(ref_dir))
    ref_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{ref_dir}/*.parquet"))
    enc_bytes = pages.agg(F.sum("enc_bytes")).collect()[0][0]
    assert enc_bytes <= ref_bytes, (enc_bytes, ref_bytes)


def test_codec_diversity(roundtrip):
    """The profile mixture must exercise several token codecs."""
    _, pages, _, _ = roundtrip
    used = {r[0] for r in pages.select("tokens_codec").distinct().collect()}
    assert len(used) >= 3, used


def test_lineage_columns(roundtrip):
    _, pages, _, _ = roundtrip
    row = pages.orderBy("bucket", "salt", "chunk_seq").first()
    # table-unique uid: commit-group prefix + (bucket, salt, seq)
    assert row.chunk_uid.startswith("g")
    assert f"-b{row.bucket:02d}-s{row.salt:04d}" in row.chunk_uid
    assert row.doc_id_min <= row.doc_id_max
    assert row.n_tokens > 0 and row.enc_bytes > 0


def test_chunk_budget_respected(roundtrip):
    _, pages, _, _ = roundtrip
    # a chunk may exceed the budget only when it is a single oversized doc
    bad = pages.filter((F.col("n_tokens") > (1 << 18)) & (F.col("n_rows") > 1)).count()
    assert bad == 0


def test_snapshot_metrics(roundtrip):
    from tokencodec.spark.table import SnapshotTable
    *_, root = roundtrip
    snaps = SnapshotTable(root).snapshots()
    assert len(snaps) == 2  # two commit groups
    for s in snaps:
        assert s["metrics"]["n_tokens"] > 0
        assert s["metrics"]["pass_wall_sec"] > 0
