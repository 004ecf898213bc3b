"""Structured Streaming encode: incremental catch-up runs commit new
source files only, and the decoded union matches the full input."""

import zlib

import pytest
from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, streaming, synth
from tokencodec.spark import partition as part
from tokencodec.spark.table import SnapshotTable


def test_stream_encode_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    root = str(tmp_path / "enc")

    df1 = synth.token_table(spark, 150, seed=11)
    df1.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root, max_chunk_tokens=1 << 16)
    snaps1 = SnapshotTable(root).snapshots()
    assert len(snaps1) >= 1

    # new files arrive; a second catch-up run encodes ONLY them
    df2 = synth.token_table(spark, 150, seed=12).withColumn(
        "doc_id", F.concat(F.lit("b-"), F.col("doc_id")))
    df2.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root, max_chunk_tokens=1 << 16)
    snaps2 = SnapshotTable(root).snapshots()
    assert len(snaps2) > len(snaps1)

    decoded = decode_job.decode(spark, root)
    full = df1.unionByName(df2)
    assert decode_job.audit(full, decoded) == {"missing": 0, "extra": 0, "ok": True}


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState dedup: first occurrence wins within a
    batch AND across restarts (state persisted in the checkpoint)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    base = synth.token_table(spark, 50, seed=3)
    dup = base.limit(10)
    base.unionAll(dup).write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out)
    first = spark.read.parquet(out)
    assert first.count() == 50
    assert first.select("doc_id").distinct().count() == 50

    # second drop: 40 already-seen docs + 30 new ones
    synth.token_table(spark, 80, seed=3).write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out)
    final = spark.read.parquet(out)
    assert final.count() == 80
    assert final.select("doc_id").distinct().count() == 80


def test_stateful_dedup_stream_ttl_suppresses_within_window(spark, tmp_path):
    """TTL variant, phase 1: a duplicate arriving well WITHIN the TTL
    is still suppressed (state alive), exactly like the permanent-state
    default."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    a = synth.token_table(spark, 5, seed=3)
    a.write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out, ttl_ms=120_000)
    assert spark.read.parquet(out).count() == 5
    a.limit(3).write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out, ttl_ms=120_000)
    assert spark.read.parquet(out).count() == 5


def test_stateful_dedup_stream_ttl_expiry_readmits(spark, tmp_path):
    """TTL variant, phase 2: state idle past the TTL is garbage-
    collected (ProcessingTimeTimeout — fires at the next micro-batch
    after the deadline, possibly in a later run via the checkpoint), so
    the same doc_id is re-admitted. This is what bounds total state for
    an unbounded key space."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    a = synth.token_table(spark, 5, seed=3)  # doc ids 0..4
    a.write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out, ttl_ms=1200)
    assert spark.read.parquet(out).count() == 5

    # idle past the TTL, then a batch with an unrelated doc lets the
    # due timers fire and GC the expired keys
    time.sleep(2.5)
    synth.token_table(spark, 6, seed=3).filter("doc_id > 'doc-000000000004'") \
        .write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out, ttl_ms=1200)
    assert spark.read.parquet(out).count() == 6

    # the original docs re-appear AFTER their state expired: re-admitted
    a.limit(2).write.mode("append").parquet(src)
    streaming.dedup_stream(spark, src, out, ttl_ms=1200)
    final = spark.read.parquet(out)
    assert final.count() == 8
    dup_ids = (final.groupBy("doc_id").agg(F.count("*").alias("k"))
               .filter("k = 2").count())
    assert dup_ids == 2


def test_stream_readd_after_delete_is_visible(spark, tmp_path):
    """Streaming micro-batch commits are sequence-attributed like any
    append: a doc deleted between catch-up runs and re-ingested by a
    LATER micro-batch is visible again (the delete masks only
    strictly-older rows), and purge then removes exactly the old copy."""
    from tokencodec.spark import maintenance
    src = str(tmp_path / "src")
    root = str(tmp_path / "enc")
    df1 = synth.token_table(spark, 120, seed=21).cache()
    df1.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root, max_chunk_tokens=1 << 16)

    gone = [r[0] for r in df1.select("doc_id").orderBy("doc_id")
            .limit(2).collect()]
    maintenance.delete_docs(spark, root, gone)
    assert (decode_job.decode(spark, root)
            .filter(F.col("doc_id").isin(gone)).count() == 0)

    # the same ids return in a later micro-batch with NEW token streams
    readd = (df1.filter(F.col("doc_id").isin(gone))
             .withColumn("tokens", F.reverse("tokens")))
    readd.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root, max_chunk_tokens=1 << 16)

    exp = (df1.filter(~F.col("doc_id").isin(gone))
           .unionByName(readd))
    out = decode_job.decode(spark, root)
    assert decode_job.audit(exp, out) == {"missing": 0, "extra": 0,
                                          "ok": True}
    maintenance.purge_deletes(spark, root)
    out2 = decode_job.decode(spark, root)
    assert decode_job.audit(exp, out2) == {"missing": 0, "extra": 0,
                                           "ok": True}


# ------------------------------------------------ salt scheme of streams
#
# Lookups derive a doc's salt from the one scheme the manifest chain
# records. A micro-batch salted under any other count would be pruned
# away by point and batch lookups while a full decode still shows it.


def _short_docs(spark, n, seed, prefix):
    """``n`` documents of at most 8 tokens: many rows (a large salt
    count) at a small token cost."""
    return (synth.token_table(spark, n, seed=seed)
            .withColumn("tokens", F.slice("tokens", 1, 8))
            .withColumn("n_tok", F.size("tokens"))
            .withColumn("doc_id", F.concat(F.lit(prefix), "doc_id")))


def _salt_differs(ids, a, b):
    """The ids whose salt under ``a`` salts differs from under ``b``:
    the ones a lookup misses when chunks and chain disagree."""
    return [d for d in ids
            if zlib.crc32(d.encode()) % a != zlib.crc32(d.encode()) % b]


def _assert_lookups(spark, root, point_ids, batch_ids):
    for d in point_ids:
        got = decode_job.decode(spark, root, doc_id_min=d, doc_id_max=d,
                                columns=["doc_id"]).collect()
        assert [r.doc_id for r in got] == [d]
    got = decode_job.decode(spark, root, doc_ids=batch_ids,
                            columns=["doc_id"]).collect()
    assert sorted(r.doc_id for r in got) == sorted(batch_ids)


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_stream_batch_adopts_table_n_salts(spark, tmp_path):
    """A 300-doc micro-batch (4 salts by its own size) appended to a
    table encoded with n_salts=8 is salted under 8 and stamped so."""
    src, root = str(tmp_path / "src"), str(tmp_path / "enc")
    base = synth.token_table(spark, 200, seed=31).cache()
    encode_job.encode(spark, base, root, commit_groups=1, n_salts=8,
                      direct_write=True)
    batch = synth.token_table(spark, 300, seed=32).withColumn(
        "doc_id", F.concat(F.lit("s-"), "doc_id")).cache()
    batch.write.parquet(src)
    streaming.encode_stream(spark, src, root, max_chunk_tokens=1 << 16)
    snap = SnapshotTable(root).current_snapshot()
    assert snap["metrics"]["scheme"]["n_salts"] == 8
    ids = _ids(batch)
    assert part.salts_for(len(ids)) == 4
    _assert_lookups(spark, root, _salt_differs(ids, 8, 4)[:12], ids[:60])
    assert decode_job.audit(base.unionByName(batch),
                            decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}


def test_stream_first_batch_stamps_scheme_for_appends(spark, tmp_path):
    """A stream-only table (one 40k-doc batch, 16 salts) stamps its
    scheme, so a 300-doc encode() append adopts 16 salts instead of
    stamping 4 over the streamed chunks."""
    src, root = str(tmp_path / "src"), str(tmp_path / "enc")
    batch = _short_docs(spark, 40000, seed=33, prefix="s-").cache()
    batch.write.parquet(src)
    streaming.encode_stream(spark, src, root)
    assert decode_job._scheme_from_manifest(root, None)["n_salts"] == 16
    app = synth.token_table(spark, 300, seed=34).cache()
    encode_job.encode(spark, app, root, commit_groups=1,
                      group_prefix="a", direct_write=True)
    assert decode_job._scheme_from_manifest(root, None)["n_salts"] == 16
    ids = _ids(batch)
    app_ids = _ids(app)
    _assert_lookups(spark, root, _salt_differs(ids, 16, 4)[:12],
                    ids[:50] + app_ids[:10])
    assert decode_job.audit(batch.unionByName(app),
                            decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}


def test_stream_stamps_table_after_empty_batch(spark, tmp_path):
    """The one unstamped table a writer leaves holds no data: an empty
    first micro-batch commits no scheme. The next batch stamps the salt
    count of its own size (16 for 40k docs), and lookups, salt-pruned
    under that scheme, find every document."""
    from tokencodec.spark.synth import SCHEMA_DDL
    src, root = str(tmp_path / "src"), str(tmp_path / "enc")
    spark.createDataFrame([], SCHEMA_DDL).write.parquet(src)
    streaming.encode_stream(spark, src, root)
    snaps = SnapshotTable(root).snapshots()
    assert len(snaps) == 1 and "scheme" not in snaps[0]["metrics"]
    batch = _short_docs(spark, 40000, seed=35, prefix="s-").cache()
    batch.write.mode("append").parquet(src)
    streaming.encode_stream(spark, src, root)
    assert decode_job._scheme_from_manifest(root, None)["n_salts"] == 16
    ids = _ids(batch)
    _assert_lookups(spark, root, _salt_differs(ids, 16, 4)[:6], ids[:30])


def test_encode_resumes_after_stream_commit(spark, tmp_path, monkeypatch):
    """A micro-batch committed between a crashed encode and its resume
    carries the table's scheme; the resume check still accepts the
    resumed run."""
    src, root = str(tmp_path / "src"), str(tmp_path / "enc")
    df = synth.token_table(spark, 300, seed=37).cache()
    real = SnapshotTable.commit

    def dying(self, groups, metrics=None, **kw):
        real(self, groups, metrics, **kw)
        raise RuntimeError("injected failure after first commit")

    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "commit", dying)
        with pytest.raises(RuntimeError, match="injected"):
            encode_job.encode(spark, df, root, commit_groups=2, n_salts=8,
                              direct_write=True)
    batch = synth.token_table(spark, 100, seed=38).withColumn(
        "doc_id", F.concat(F.lit("s-"), "doc_id")).cache()
    batch.write.parquet(src)
    streaming.encode_stream(spark, src, root)
    scheme = SnapshotTable(root).current_snapshot()["metrics"]["scheme"]
    assert scheme == {"group_scheme": "salt_mod", "n_salts": 8,
                      "commit_groups": 2}
    encode_job.encode(spark, df, root, commit_groups=2, direct_write=True)
    assert {"g0", "g1"} <= set(SnapshotTable(root).committed_groups())
    ids = _ids(batch)
    _assert_lookups(spark, root, _salt_differs(ids, 8, 4)[:6], ids[:30])
    assert decode_job.audit(df.unionByName(batch),
                            decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}
