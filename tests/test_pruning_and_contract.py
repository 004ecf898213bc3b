"""Lineage-based chunk pruning on decode + the non-null input contract."""

import pytest

from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, synth


@pytest.fixture(scope="module")
def enc_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("prune"))
    df = synth.token_table(spark, 800, seed=31).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=8,
                      max_chunk_tokens=1 << 16)
    return df, root


def test_doc_range_pruning_correct_and_skips_chunks(spark, enc_root):
    df, root = enc_root
    lo, hi = "doc-000000000100", "doc-000000000299"
    out = decode_job.decode(spark, root, doc_id_min=lo, doc_id_max=hi)
    expected = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}

    pages = encode_job.read_pages(spark, root)
    total = pages.count()
    touched = pages.filter((F.col("doc_id_max") >= lo)
                           & (F.col("doc_id_min") <= hi)).count()
    assert touched < total, "range predicate should prune some chunks"


def test_bucket_pruning(spark, enc_root):
    df, root = enc_root
    out = decode_job.decode(spark, root, buckets=[9])
    expected = df.filter(F.length(F.bin("n_tok")) == 9)
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}


def test_null_input_rejected(spark, tmp_path):
    df = synth.token_table(spark, 50, seed=32).withColumn(
        "source", F.when(F.col("n_tok") % 2 == 0, F.col("source")))
    with pytest.raises(Exception, match="null values in column 'source'"):
        encode_job.encode(spark, df, str(tmp_path / "x"), commit_groups=1,
                          n_salts=2)


def test_doc_range_pruning_packed(spark, enc_root):
    """Pruned + packed decode: row-level doc-id filters and blob output
    compose; blob lengths match the n_tok contract."""
    df, root = enc_root
    lo, hi = "doc-000000000100", "doc-000000000299"
    out = decode_job.decode(spark, root, doc_id_min=lo, doc_id_max=hi, packed=True)
    n_expected = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)).count()
    rows = out.select("doc_id",
                      (F.length("tokens") == F.col("n_tok") * 4).alias("len_ok"))
    got = rows.agg(F.count("*").alias("n"), F.min("len_ok").alias("ok")).collect()[0]
    assert got.n == n_expected and got.ok is True


def test_page_level_projection(spark, enc_root, monkeypatch):
    """columns= decodes only the requested pages: results match the
    projected full decode, and the chunk reader never asks for the
    tokens pages."""
    from tests.test_plans import decode_reads
    df, root = enc_root
    out, read = decode_reads(monkeypatch, spark, root,
                             columns=["doc_id", "n_tok"])
    expected = df.select("doc_id", "n_tok")
    assert out.columns == ["doc_id", "n_tok"]
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}
    assert "page_n_tok" in read and "page_doc_id" in read
    assert "page_tokens" not in read, read
    assert "page_source" not in read, read


def test_projection_with_splits(spark, tmp_path):
    """Projections over a table with split docs: n_tok re-sums parts,
    doc_id/source dedupe to one row per doc."""
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 150, seed=23)
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=1 << 9)
    pages = encode_job.read_pages(spark, root)
    assert pages.filter(F.col("doc_parts") > 1).count() > 0

    nt = decode_job.decode(spark, root, columns=["doc_id", "n_tok"])
    assert decode_job.audit(df.select("doc_id", "n_tok"), nt) == {
        "missing": 0, "extra": 0, "ok": True}
    ids = decode_job.decode(spark, root, columns=["source", "doc_id"])
    assert ids.columns == ["source", "doc_id"]
    assert decode_job.audit(df.select("source", "doc_id"), ids) == {
        "missing": 0, "extra": 0, "ok": True}
    # range filter without doc_id in the projection still works
    lo, hi = "doc-000000000010", "doc-000000000050"
    src_only = decode_job.decode(spark, root, doc_id_min=lo, doc_id_max=hi,
                                 columns=["source"])
    n_expected = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)).count()
    assert src_only.columns == ["source"] and src_only.count() == n_expected


def test_projection_packed_with_splits(spark, tmp_path):
    """tokens-only packed projection over a split table: parts concat in
    order; blob bytes equal 4x the true token count per doc."""
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 100, seed=29)
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=1 << 9)
    out = decode_job.decode(spark, root, columns=["doc_id", "tokens"], packed=True)
    j = out.join(df.select("doc_id", "n_tok"), "doc_id")
    bad = j.filter(F.length("tokens") != F.col("n_tok") * 4).count()
    assert bad == 0 and out.count() == 100
    # content equality via per-doc hash against the list form
    lst = decode_job.decode(spark, root, columns=["doc_id", "tokens"])
    import tests.test_packed_and_audit as tpa
    b = lst.select("doc_id", F.xxhash64(F.aggregate(
        F.transform("tokens", tpa._le4), F.lit(b""),
        lambda x, y: F.concat(x, y))).alias("h"))
    a = out.select("doc_id", F.xxhash64("tokens").alias("h"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_source_pruning_correct_and_skips_chunks(spark, enc_root):
    df, root = enc_root
    # salts spread doc_ids, so most chunks hold a mix; use a rare source
    srcs = [r.source for r in df.select("source").distinct().collect()]
    pick = [sorted(srcs)[0]]
    out = decode_job.decode(spark, root, sources=pick)
    expected = df.filter(F.col("source").isin(pick))
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}


def test_n_tok_range_pruning(spark, enc_root):
    df, root = enc_root
    out = decode_job.decode(spark, root, n_tok_min=400, n_tok_max=900)
    expected = df.filter((F.col("n_tok") >= 400) & (F.col("n_tok") <= 900))
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}

    pages = encode_job.read_pages(spark, root)
    total = pages.count()
    touched = pages.filter((F.col("n_tok_max") >= 400)
                           & (F.col("n_tok_min") <= 900)).count()
    assert touched < total, "n_tok range should prune some chunks"


def test_n_tok_pruning_never_drops_split_docs(spark, tmp_path):
    """A split document's chunk stats describe PART lengths; a filter on
    document length must still see the reassembled doc."""
    df = synth.token_table(spark, 60, seed=33)
    root = str(tmp_path / "split")
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=64)
    pages = encode_job.read_pages(spark, root)
    assert pages.filter("doc_parts > 1").count() > 0
    lo = 200  # every part is <= 64 tokens, so naive pruning would drop all
    out = decode_job.decode(spark, root, n_tok_min=lo)
    expected = df.filter(F.col("n_tok") >= lo)
    assert expected.count() > 0
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}


def test_stats_nulls_from_legacy_files_never_prune(spark, tmp_path):
    """The one stat a current writer leaves NULL is the source set of a
    chunk holding more than 8 sources (the recording cap); decode must
    keep such chunks. (Pages whose n_tok stats were NULL came only from
    engines before the table-format stamp, whose chains are refused.)"""
    df = (synth.token_table(spark, 600, seed=3)
          .withColumn("source", F.concat(F.lit("s"), F.pmod(
              F.xxhash64("doc_id"), F.lit(40)).cast("string")))
          .cache())
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=1)
    sets = [r.source_set for r in encode_job.read_pages(spark, root)
            .select("source_set").collect()]
    assert sum(s is None for s in sets) > len(sets) // 2
    out = decode_job.decode(spark, root, sources=["s3"], n_tok_min=500)
    expected = df.filter((F.col("source") == "s3") & (F.col("n_tok") >= 500))
    assert expected.count() > 0
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}


def test_source_pruning_with_comma_in_source_value(spark, tmp_path):
    """A source value containing the legacy join delimiter must neither
    be mis-pruned nor leak wrong set members (ADVICE r3: comma-joined
    source_set split 'a,b' into {'a','b'} and silently dropped its
    rows). source_set is now a JSON array."""
    from tokencodec.spark import decode_job, encode_job

    rows = [(f"doc-{i:04d}", [i % 7, 3, 5], 3,
             "cc,web" if i % 3 == 0 else "books") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, "
                                     "n_tok int, source string")
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=2)
    # recorded sets are JSON arrays
    ss = [r.source_set for r in encode_job.read_pages(spark, root)
          .select("source_set").collect() if r.source_set is not None]
    assert ss and all(s.startswith("[") for s in ss)
    out = decode_job.decode(spark, root, sources=["cc,web"])
    expected = df.filter(F.col("source") == "cc,web")
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0, "ok": True}
    # a filter value equal to one of the comma-halves matches nothing
    assert decode_job.decode(spark, root, sources=["cc"]).count() == 0


def test_point_lookup_salt_pruning(spark, enc_root):
    """Exact doc_id lookup prunes by salt = crc32(doc_id) % n_salts on
    top of the min/max range skipping (which a hash-spread layout
    barely narrows): correct rows, and strictly fewer chunks touched
    than the range predicate alone."""
    import zlib
    df, root = enc_root
    target = "doc-000000000123"
    out = decode_job.decode(spark, root, doc_id_min=target,
                            doc_id_max=target)
    expected = df.filter(F.col("doc_id") == target)
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}
    # python-side salt must agree with the JVM-side partitioner
    jvm_salt = (df.filter(F.col("doc_id") == target)
                .select(F.pmod(F.crc32(F.col("doc_id")), F.lit(8)))
                .collect()[0][0])
    assert zlib.crc32(target.encode()) % 8 == jvm_salt
    pages = encode_job.read_pages(spark, root)
    by_range = pages.filter((F.col("doc_id_max") >= target)
                            & (F.col("doc_id_min") <= target)).count()
    with_salt = pages.filter((F.col("doc_id_max") >= target)
                             & (F.col("doc_id_min") <= target)
                             & (F.col("salt") == jvm_salt)).count()
    assert with_salt < by_range, "salt should prune beyond the range"
    assert with_salt >= 1


def test_point_lookup_salt_pruning_split_doc(spark, tmp_path):
    """All split parts of a doc share its salt: an exact lookup of an
    oversized document still reassembles every part."""
    from tokencodec.spark import synth
    df = synth.token_table(spark, 60, seed=13).cache()
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=8,
                      max_chunk_tokens=64)  # forces doc splitting
    target = df.orderBy(F.desc("n_tok")).select("doc_id").first()[0]
    out = decode_job.decode(spark, root, doc_id_min=target,
                            doc_id_max=target)
    expected = df.filter(F.col("doc_id") == target)
    assert decode_job.audit(expected, out) == {"missing": 0, "extra": 0,
                                               "ok": True}
