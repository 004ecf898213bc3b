"""Partition evolution (maintenance.resalt): migrate a committed table
to a new salt count in one replace-commit — rows bit-identical, salt
pruning correct under the NEW scheme, time travel below the resalt
still resolving under the OLD scheme, and appends forced to match the
chain's n_salts (the encode-side guard that keeps salt-derived lookup
pruning sound).

Iceberg evolves partition specs lazily (new data under the new spec);
a salt that is DERIVED from the data and baked into chunk layout has
to migrate eagerly — O(table), the honest cost."""

import os
import sys
import zlib

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, fsck, maintenance, synth
from tokencodec.spark.table import SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 300, seed=77).cache()
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=4096, direct_write=True)
    return root, df


def test_resalt_roundtrip_and_new_scheme(spark, table):
    root, df = table
    pre = SnapshotTable(root).current_snapshot()["snapshot_id"]
    snap = maintenance.resalt(spark, root, 16, max_chunk_tokens=4096)
    assert snap["metrics"]["op"] == "resalt"
    assert snap["metrics"]["scheme"]["n_salts"] == 16
    assert snap["metrics"]["n_salts_before"] == 4
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0,
                                         "ok": True}
    # chunks really carry the NEW salts
    pages = encode_job.read_pages(spark, root)
    assert pages.agg(F.max("salt")).collect()[0][0] >= 4
    # point lookup under the new scheme: salt pruning must keep the
    # target's new salt and still return exactly the row
    t = "doc-000000000123"
    one = decode_job.decode(spark, root, doc_id_min=t, doc_id_max=t)
    assert decode_job.audit(df.filter(F.col("doc_id") == t), one) == {
        "missing": 0, "extra": 0, "ok": True}
    s_new = zlib.crc32(t.encode()) % 16
    assert pages.filter(F.col("salt") == s_new).count() >= 1
    # time travel BELOW the resalt: old chunks, old scheme, same rows
    old = decode_job.decode(spark, root, snapshot_id=pre)
    assert decode_job.audit(df, old) == {"missing": 0, "extra": 0,
                                         "ok": True}
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_resalt_purges_pending_deletes_first(spark, table):
    root, df = table
    doomed = [r[0] for r in df.select("doc_id").orderBy("doc_id")
              .limit(5).collect()]
    maintenance.delete_docs(spark, root, doomed)
    maintenance.resalt(spark, root, 8, max_chunk_tokens=4096)
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df.filter(~F.col("doc_id").isin(doomed)),
                            out) == {"missing": 0, "extra": 0, "ok": True}
    # the delete manifests were applied physically, not carried along
    tbl = SnapshotTable(root)
    assert all(not ps for k, ps in tbl.committed_groups().items()
               if k.startswith("del:"))


def test_resalt_preserves_extra_columns_and_splits(spark, tmp_path):
    df = (synth.token_table(spark, 60, seed=13)
          .withColumn("lang", F.lit("en")).cache())
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=64)  # oversized docs split
    maintenance.resalt(spark, root, 32, max_chunk_tokens=64)
    out = decode_job.decode(spark, root,
                            columns=["doc_id", "tokens", "n_tok",
                                     "source", "lang"])
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0,
                                         "ok": True}


def test_resalt_noop_and_refusals(spark, table):
    root, df = table
    before = SnapshotTable(root).current_snapshot()
    assert maintenance.resalt(spark, root, 4) == before  # same count
    with pytest.raises(ValueError, match="positive"):
        maintenance.resalt(spark, root, 0)


def test_append_adopts_and_guards_chain_n_salts(spark, table, tmp_path):
    """The encode-side guard resalt makes sanctioned: an append under a
    DIFFERENT n_salts would break salt-derived lookup pruning — refuse;
    an append with n_salts unset adopts the chain's scheme."""
    root, df = table
    more = synth.token_table(spark, 40, seed=99).withColumn(
        "doc_id", F.concat(F.lit("x"), "doc_id"))
    with pytest.raises(ValueError, match="resalt"):
        encode_job.encode(spark, more, root, commit_groups=1, n_salts=8,
                          group_prefix="b", direct_write=True)
    encode_job.encode(spark, more, root, commit_groups=1,
                      group_prefix="b", direct_write=True)  # adopts 4
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df.unionByName(more), out) == {
        "missing": 0, "extra": 0, "ok": True}
    # after a resalt, fresh appends adopt the NEW count
    maintenance.resalt(spark, root, 16, max_chunk_tokens=4096)
    more2 = synth.token_table(spark, 20, seed=101).withColumn(
        "doc_id", F.concat(F.lit("y"), "doc_id"))
    encode_job.encode(spark, more2, root, commit_groups=1,
                      group_prefix="c", direct_write=True)
    sch = decode_job._scheme_from_manifest(root, None)
    assert sch["n_salts"] == 16
    out2 = decode_job.decode(spark, root)
    assert decode_job.audit(df.unionByName(more).unionByName(more2),
                            out2) == {"missing": 0, "extra": 0, "ok": True}


def test_resalt_refuses_concurrent_append(spark, table, monkeypatch):
    """resalt's replace-commit validates the exact parent it planned
    from (commit(require_parent_id=...)): a racing append planned
    under the OLD n_salts must not be silently folded into the new
    scheme — its chunks would be mis-pruned by salt lookups."""
    root, df = table
    real = SnapshotTable.commit
    state = {"raced": False}

    def racy(self, groups, metrics=None, **kw):
        if kw.get("require_parent_id") is not None and not state["raced"]:
            state["raced"] = True  # an append lands between plan and commit
            real(self, {"race0": []}, metrics={})
        return real(self, groups, metrics=metrics, **kw)

    monkeypatch.setattr(SnapshotTable, "commit", racy)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        maintenance.resalt(spark, root, 8, max_chunk_tokens=4096)
    monkeypatch.setattr(SnapshotTable, "commit", real)
    # the table is untouched: old scheme, every row decodable
    assert decode_job._scheme_from_manifest(root, None)["n_salts"] == 4
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0,
                                         "ok": True}
    # and a re-run against the advanced table succeeds
    maintenance.resalt(spark, root, 8, max_chunk_tokens=4096)
    assert decode_job._scheme_from_manifest(root, None)["n_salts"] == 8


def _chunk_digests(pages):
    """(bucket, salt, page-bytes digest) of every chunk. Chunk uids are
    left out: a rewrite names its chunks in its own uid namespace."""
    h = F.md5(F.concat("page_tokens", "page_doc_id", "page_n_tok",
                       "page_source"))
    return sorted(tuple(r) for r in
                  pages.select("bucket", "salt", h.alias("h")).collect())


def test_resalt_chunks_match_fixed_count_encode(spark, table, tmp_path):
    """resalt leaves its shuffle to adaptive execution; the rewritten
    chunks are byte-identical to a fixed-count encode of the same rows
    under the new scheme."""
    root, df = table
    maintenance.resalt(spark, root, 16, max_chunk_tokens=4096)
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0,
                                         "ok": True}
    ref = str(tmp_path / "ref")
    encode_job.encode(spark, df, ref, commit_groups=1, n_salts=16,
                      max_chunk_tokens=4096, partitions=3)
    assert (_chunk_digests(encode_job.read_pages(spark, root))
            == _chunk_digests(encode_job.read_pages(spark, ref)))
