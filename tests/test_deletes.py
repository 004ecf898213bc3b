"""Row-level deletes / takedown (VERDICT r4 next #3, Iceberg v2
equality-delete semantics): delete manifests merge at read, time travel
preserves history, purge rewrites only affected files, compaction
purges pending deletes first, and GC removes the purged bytes."""

import os
import sys

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.table import SnapshotTable, is_delete_group

BUDGET = 2048


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 400, seed=91).cache()
    # a fixed task count gives each commit group several files, so a
    # purge has files to leave untouched (left unset, the small encode
    # coalesces to one task and one file per group)
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=BUDGET, direct_write=True,
                      partitions=8)
    return root, df


def _doomed(df, k=25):
    return [r[0] for r in df.select("doc_id").orderBy("doc_id")
            .limit(k).collect()]


def test_delete_is_applied_at_read(spark, table):
    root, df = table
    doomed = _doomed(df)
    pre_snap = SnapshotTable(root).current_snapshot()["snapshot_id"]
    snap = maintenance.delete_docs(spark, root, doomed)
    assert snap["metrics"]["op"] == "delete"
    assert snap["metrics"]["n_delete_ids"] == len(doomed)

    out = decode_job.decode(spark, root)
    assert out.filter(F.col("doc_id").isin(doomed)).count() == 0
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    assert decode_job.audit(survivors, out) == {
        "missing": 0, "extra": 0, "ok": True}
    # time travel to the pre-delete snapshot still shows every row
    old = decode_job.decode(spark, root, snapshot_id=pre_snap)
    assert decode_job.audit(df, old) == {"missing": 0, "extra": 0, "ok": True}
    # projection-only reads honor deletes too
    assert (decode_job.decode(spark, root, columns=["source"]).count()
            == survivors.count())


def test_delete_covers_split_docs_and_duplicates(spark, table):
    root, df = table
    # a split doc: encode used BUDGET, so the heaviest doc has parts
    pages = encode_job.read_pages(spark, root)
    split_doc = (pages.filter(F.col("doc_parts") > 1)
                 .select("doc_id_min").first())
    assert split_doc is not None
    did = split_doc[0]
    maintenance.delete_docs(spark, root, [did])
    out = decode_job.decode(spark, root)
    assert out.filter(F.col("doc_id") == did).count() == 0
    assert out.count() == df.count() - 1


def test_purge_rewrites_only_affected_files(spark, table):
    root, df = table
    doomed = _doomed(df)
    maintenance.delete_docs(spark, root, doomed)
    tbl = SnapshotTable(root)
    files_before = set(p for k, ps in tbl.current_snapshot()["groups"].items()
                       if not is_delete_group(k) for p in ps)

    snap = maintenance.purge_deletes(spark, root)
    assert snap["metrics"]["op"] == "purge"
    assert snap["metrics"]["n_purged_rows"] == len(doomed)
    assert 0 < snap["metrics"]["rewritten_files"] < len(files_before)
    # delete groups are emptied; some original files survive untouched
    groups = snap["groups"]
    assert all(not ps for k, ps in groups.items() if is_delete_group(k))
    files_after = set(p for k, ps in groups.items()
                      if not is_delete_group(k) for p in ps)
    assert files_before & files_after  # unaffected files kept verbatim

    # decoded rows identical to the logical-delete view
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    out = decode_job.decode(spark, root)
    assert decode_job.audit(survivors, out) == {
        "missing": 0, "extra": 0, "ok": True}
    # physically gone: no chunk's id range covers the deleted ids now
    pages = encode_job.read_pages(spark, root)
    hit = pages.filter(
        F.lit(doomed[0]).between(F.col("doc_id_min"), F.col("doc_id_max")))
    for r in hit.collect():  # any covering chunk must not CONTAIN it
        assert r["doc_id_min"] != doomed[0] and r["doc_id_max"] != doomed[0]
    # table_totals counts documents (a split doc once, in its first
    # part): must reconcile with the surviving files' metadata exactly
    first = F.coalesce(F.col("doc_part"), F.lit(0)) == 0
    assert snap["metrics"]["table_totals"]["n_rows"] == (
        pages.filter(first).agg(F.sum("n_rows")).collect()[0][0])


def test_purge_then_expire_gc_proof(spark, table):
    """After purge + expiry the superseded files are DELETED from disk
    and no retained snapshot references them — the takedown is
    physically complete."""
    root, df = table
    doomed = _doomed(df)
    maintenance.delete_docs(spark, root, doomed)
    tbl = SnapshotTable(root)
    pre = {p for k, ps in tbl.current_snapshot()["groups"].items()
           for p in ps}
    snap = maintenance.purge_deletes(spark, root)
    kept = {p for ps in snap["groups"].values() for p in ps}
    superseded = pre - kept
    assert superseded
    maintenance.expire_snapshots(root, keep_last=1)
    for p in superseded:
        assert not os.path.exists(p)
    chain_paths = {p for s in SnapshotTable(root).chain()
                   for ps in s["groups"].values() for p in ps}
    assert not (chain_paths & superseded)
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    assert decode_job.audit(survivors, decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}


def test_compact_purges_pending_deletes(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 300, seed=92).cache()
    # tiny chunks so compact has merge work AND deletes to purge
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=512)
    doomed = _doomed(df, k=10)
    maintenance.delete_docs(spark, root, doomed)
    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    assert snap["metrics"]["op"] == "compact"
    groups = snap["groups"]
    assert all(not ps for k, ps in groups.items() if is_delete_group(k))
    survivors = df.filter(~F.col("doc_id").isin(doomed))
    assert decode_job.audit(survivors, decode_job.decode(spark, root),
                            strict=True) == {
        "missing": 0, "extra": 0, "ok": True}


def test_delete_unknown_ids_is_noop(spark, table):
    root, df = table
    maintenance.delete_docs(spark, root, ["zzz-not-a-doc"])
    assert decode_job.audit(df, decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}
    snap = maintenance.purge_deletes(spark, root)
    assert snap["metrics"]["n_purged_rows"] == 0
    assert decode_job.audit(df, decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}


def test_incremental_changes_skip_delete_commits(spark, table):
    root, df = table
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    maintenance.delete_docs(spark, root, _doomed(df))
    # a delete commit contributes no changed rows
    assert decode_job.decode_changes(spark, root, sid).count() == 0
    maintenance.purge_deletes(spark, root)
    assert decode_job.decode_changes(spark, root, sid).count() == 0


def test_lookups_read_delete_ids_once(spark, tmp_path, monkeypatch):
    """Delete-id files are immutable and uniquely named: two point
    lookups on one snapshot with pending deletes open each delete file
    once between them."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 60, seed=12).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    ids = sorted(r.doc_id for r in df.select("doc_id").collect())
    maintenance.delete_docs(spark, root, ids[:2])
    maintenance.delete_docs(spark, root, ids[2:3])
    del_files = sorted(p for k, ps in SnapshotTable(root).committed_groups()
                       .items() if is_delete_group(k) for p in ps)
    assert len(del_files) == 2
    opened = []
    real = encode_job._open_parquet

    def spy(path):
        opened.append(path)
        return real(path)

    monkeypatch.setattr(encode_job, "_open_parquet", spy)
    got = [decode_job.decode(spark, root, doc_id_min=d,
                             doc_id_max=d).count() for d in (ids[0], ids[5])]
    assert got == [0, 1]
    assert sorted(p for p in opened if p in del_files) == del_files


@settings(max_examples=200, deadline=None)
@given(rows=st.lists(st.tuples(st.one_of(st.none(), st.text(max_size=3)),
                               st.integers(-3, 3)), max_size=30),
       docs=st.lists(st.text(max_size=3), max_size=20),
       seq=st.integers(-4, 4),
       bounds=st.tuples(st.text(max_size=3), st.text(max_size=3)))
def test_delete_mask_matches_the_per_row_rule(rows, docs, seq, bounds):
    """_Deletes' array masking against the rule row by row: a doc dies
    when the NEWEST delete of its id is strictly newer than its data;
    a NULL id counts as deleted but masks nothing. Pickling (how scan
    tasks receive it) keeps the answers."""
    import pickle

    import numpy as np
    import pyarrow as pa

    newest = {}
    for d, s in rows:
        newest[d] = max(s, newest.get(d, s))
    dels = decode_job._Deletes(pa.table({
        "doc_id": pa.array([d for d, _ in rows], pa.string()),
        "seq": pa.array([s for _, s in rows], pa.int64())}))
    lo, hi = sorted(bounds)
    want = np.array([d in newest and newest[d] > seq for d in docs], bool)
    for d_ in (dels, pickle.loads(pickle.dumps(dels)), dels.at({})):
        assert d_.n_ids == len(newest)
        assert d_.dead(pa.array(docs, pa.string()), seq).tolist() == \
            want.tolist()
        assert d_.may_hit(lo, hi) == any(
            d is not None and lo <= d <= hi for d in newest)
