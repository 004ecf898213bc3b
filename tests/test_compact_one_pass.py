"""One-pass compaction: pending deletes are purged inside the merge
kernel, the tasks write their own files (one salt per row group) and
the result lands in ONE replace-commit. Every compacted table is
strictly audited against the pre-compaction snapshot's decode."""

import os
import sys
import zlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.table import SnapshotTable, is_delete_group

OK = {"missing": 0, "extra": 0, "ok": True}


def _source(spark, n=240, seed=77):
    # an int extra column, so masked and merged chunks re-encode extras
    return (synth.token_table(spark, n, seed=seed)
            .withColumn("quality", (F.col("n_tok") % 97).cast("int"))
            .cache())


def _encode(spark, root, df, budget):
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=budget, direct_write=True,
                      partitions=4)


def _split_ids(spark, root):
    return sorted({r[0] for r in encode_job.read_pages(spark, root)
                   .filter(F.col("doc_parts") > 1)
                   .select("doc_id_min").collect()})


def _whole_ids(spark, root, k):
    split = set(_split_ids(spark, root))
    ids = [r[0] for r in decode_job.decode(spark, root, columns=["doc_id"])
           .orderBy("doc_id").collect()]
    return [d for d in ids if d not in split][:k]


def _data_files(root):
    out = set()
    for d, _, names in os.walk(os.path.join(root, "data")):
        out |= {os.path.join(d, n) for n in names}
    return out


def _assert_one_compact_snapshot(spark, root, pre_sid, snap, n_ids, purged):
    assert snap["snapshot_id"] == pre_sid + 1
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] == pre_sid + 1
    m = snap["metrics"]
    assert m["op"] == "compact"
    assert m["n_delete_ids"] == n_ids
    assert m["n_purged_rows"] == purged
    assert m["rewritten_files"] >= 1
    assert all(not ps for k, ps in snap["groups"].items()
               if is_delete_group(k))
    pages = encode_job.read_pages(spark, root)
    assert m["table_totals"]["n_chunks"] == pages.count()
    assert m["table_totals"]["enc_bytes"] == \
        pages.agg(F.sum("enc_bytes")).collect()[0][0]
    pre = decode_job.decode(spark, root, snapshot_id=pre_sid)
    assert decode_job.audit(pre, decode_job.decode(spark, root),
                            strict=True) == OK


@pytest.mark.parametrize("chain", ["legacy", "sequence"])
def test_compact_purges_deletes_in_one_snapshot(spark, tmp_path, monkeypatch,
                                                chain, file_state):
    """Whole docs and a split doc deleted, then one compaction: one new
    snapshot, delete groups emptied, purged rows recorded, merged chunks
    (extras included) and rows equal to the pre-compaction decode. On a
    chain whose delete manifests lost their sequence attribution
    ("legacy") compaction refuses, naming the group, and writes
    nothing."""
    root = str(tmp_path / "t")
    df = _source(spark)
    _encode(spark, root, df, 512)
    doomed = _whole_ids(spark, root, 6) + _split_ids(spark, root)[:1]
    maintenance.delete_docs(spark, root, doomed)
    pre_sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    if chain == "legacy":
        monkeypatch.setattr(SnapshotTable, "group_seqs",
                            lambda self, snap=None: {})
        before = file_state(root)
        with pytest.raises(RuntimeError, match="del:"):
            maintenance.compact(spark, root, max_chunk_tokens=4096)
        assert file_state(root) == before
        return
    n_before = encode_job.read_pages(spark, root).count()

    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    # purged rows count documents: the split doc's parts count once
    _assert_one_compact_snapshot(spark, root, pre_sid, snap, len(doomed),
                                 len(doomed))
    assert snap["metrics"]["compacted_chunks"] > 0
    assert encode_job.read_pages(spark, root).count() < n_before
    out = decode_job.decode(spark, root)
    assert out.filter(F.col("doc_id").isin(doomed)).count() == 0
    assert decode_job.audit(df.filter(~F.col("doc_id").isin(doomed)), out,
                            strict=True) == OK


def test_compact_keeps_upsert_readds(spark, tmp_path):
    """Sequence-aware chain: a deleted id re-added by a later upsert
    survives the compaction that purges its older copy."""
    root = str(tmp_path / "t")
    df = _source(spark)
    _encode(spark, root, df, 512)
    gone, back = _whole_ids(spark, root, 5)[:4], _whole_ids(spark, root, 5)[4]
    maintenance.delete_docs(spark, root, gone + [back])
    rep = (df.filter(F.col("doc_id") == back)
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep, max_chunk_tokens=512)
    pre_sid = SnapshotTable(root).current_snapshot()["snapshot_id"]

    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    # the upsert's own delete of `back` adds no distinct id; the purge
    # drops the 4 gone docs and `back`'s old copy
    _assert_one_compact_snapshot(spark, root, pre_sid, snap, 5, 5)
    want = df.filter(~F.col("doc_id").isin(gone + [back])).unionByName(rep)
    assert decode_job.audit(want, decode_job.decode(spark, root),
                            strict=True) == OK


def test_compact_deletes_with_split_rechunk(spark, tmp_path):
    """Deletes plus a shrinkable rechunk in the same pass: a deleted
    split doc disappears, and a split doc deleted then re-added by an
    upsert is re-sliced under the larger budget and survives (its parts
    keep their commit's sequence number through the resplit)."""
    root = str(tmp_path / "t")
    df = _source(spark, n=120, seed=5)
    _encode(spark, root, df, 64)
    split = _split_ids(spark, root)
    assert len(split) >= 3
    dead, readd = split[0], split[1]
    doomed = [dead, readd] + _whole_ids(spark, root, 2)
    maintenance.delete_docs(spark, root, doomed)
    rep = (df.filter(F.col("doc_id") == readd)
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep, max_chunk_tokens=64)
    pre_sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    parts_before = encode_job.read_pages(spark, root).filter(
        F.col("doc_parts") > 1).count()

    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    m = snap["metrics"]
    assert m["rechunked_split_groups"] > 0
    # `dead` and the old copy of `readd`, plus the two whole docs
    _assert_one_compact_snapshot(spark, root, pre_sid, snap, len(doomed),
                                 len(doomed))
    after = encode_job.read_pages(spark, root)
    assert after.filter(F.col("doc_parts") > 1).count() < parts_before
    want = (df.filter(~F.col("doc_id").isin(doomed)).unionByName(rep))
    assert decode_job.audit(want, decode_job.decode(spark, root),
                            strict=True) == OK


def test_compact_with_deletes_runs_few_jobs(spark, tmp_path):
    """Deletes pending on a table with split docs: the whole compaction
    runs at most 6 Spark jobs, and an id-list delete runs none."""
    root = str(tmp_path / "t")
    df = _source(spark)
    _encode(spark, root, df, 512)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("tc-delete", "delete")
        maintenance.delete_docs(spark, root, _whole_ids(spark, root, 5)
                                + _split_ids(spark, root)[:1])
        # _whole_ids/_split_ids ran before the group's delete itself
        sc.setJobGroup("tc-delete-only", "delete")
        maintenance.delete_docs(spark, root, ["doc-x", "doc-x", "doc-y"])
        n_delete = len(sc.statusTracker().getJobIdsForGroup("tc-delete-only"))
        sc.setJobGroup("tc-compact", "compact")
        snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
        n_compact = len(sc.statusTracker().getJobIdsForGroup("tc-compact"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert snap["metrics"]["op"] == "compact"
    assert snap["metrics"]["n_purged_rows"] > 0
    assert n_delete == 0
    assert 1 <= n_compact <= 6, n_compact


def test_delete_docs_writes_sorted_distinct_ids(spark, tmp_path):
    root = str(tmp_path / "t")
    _encode(spark, root, _source(spark, n=60), 4096)
    snap = maintenance.delete_docs(spark, root, ["b", "a", "b", "c", "a"])
    assert snap["metrics"]["n_delete_ids"] == 3
    (files,) = [ps for k, ps in snap["groups"].items() if is_delete_group(k)]
    assert len(files) == 1
    assert pq.read_table(files[0]).column("doc_id").to_pylist() == \
        ["a", "b", "c"]
    # a DataFrame argument is collected and written the same way (a
    # NULL id masks nothing)
    snap = maintenance.delete_docs(
        spark, root,
        spark.createDataFrame([("d",), ("d",), (None,)], "x string"))
    assert snap["metrics"]["n_delete_ids"] == 2
    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    assert snap["metrics"]["n_delete_ids"] == 5
    assert snap["metrics"]["n_purged_rows"] == 0


def test_compacted_row_groups_hold_one_salt(spark, tmp_path):
    """Each output row group holds one salt, and a point lookup keeps
    only the compacted files holding its salt."""
    root = str(tmp_path / "t")
    df = _source(spark, n=400, seed=11)
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=8,
                      max_chunk_tokens=512, direct_write=True, partitions=4)
    maintenance.delete_docs(spark, root, _whole_ids(spark, root, 3))
    # uncoalesced salt shuffle: several compaction tasks, several files
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    finally:
        spark.conf.set(key, old)
    files = SnapshotTable(root).data_paths()
    assert len(files) > 1
    salts_of = {}
    for p in files:
        md = pq.ParquetFile(p).metadata
        col = md.schema.names.index("salt")
        rg_salts = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            assert st.min == st.max, (p, i, st.min, st.max)
            rg_salts.append(st.min)
        salts_of[p] = set(rg_salts)
    assert snap["metrics"]["op"] == "compact"
    for d in [r[0] for r in decode_job.decode(spark, root, columns=["doc_id"])
              .orderBy("doc_id").limit(5).collect()]:
        s = zlib.crc32(d.encode()) % 8
        rep = decode_job.lookup_report(root, [d])
        assert rep["files_kept"] >= 1
        assert all(s in salts_of[p] for p in rep["paths"]), (d, s, rep)
        assert rep["files_kept"] < len(files)
        assert decode_job.decode(spark, root, doc_id_min=d,
                                 doc_id_max=d).count() == 1


def test_noop_compact_writes_nothing(spark, tmp_path):
    root = str(tmp_path / "t")
    _encode(spark, root, _source(spark, n=60), 4096)
    maintenance.compact(spark, root, max_chunk_tokens=4096)
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    before = _data_files(root)
    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    assert snap["snapshot_id"] == sid
    assert _data_files(root) == before


def _compact_jobs(spark, root, group, budget):
    """compact's snapshot and the Spark jobs it ran."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, "compact")
        snap = maintenance.compact(spark, root, max_chunk_tokens=budget)
        return snap, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_merge_check_runs_no_job(spark, tmp_path):
    """Without pending deletes or split groups to re-slice, whether a
    compaction merges is decided on the driver: a merging compaction
    runs only its salt-shuffled write (at most 2 jobs under AQE), and
    one that selects files but finds nothing to merge runs none."""
    root = str(tmp_path / "t")
    # no split document, and two appends leave two whole-document
    # chunks per (bucket, salt) to merge
    df = _source(spark, n=120)
    for k, prefix in ((0, "g"), (1, "a")):
        encode_job.encode(spark, df.filter(F.col("n_tok") % 2 == k), root,
                          commit_groups=2, n_salts=4,
                          max_chunk_tokens=1 << 20, partitions=4,
                          group_prefix=prefix)
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    snap, jobs = _compact_jobs(spark, root, "tc-merge", 1 << 21)
    assert snap["snapshot_id"] == sid + 1
    assert snap["metrics"]["compacted_chunks"] >= 2
    assert snap["metrics"]["rechunked_split_groups"] == 0
    assert snap["metrics"]["kept_files"] == 0
    assert 1 <= len(jobs) <= 2, jobs
    snap, jobs = _compact_jobs(spark, root, "tc-nomerge", 1 << 21)
    assert snap["snapshot_id"] == sid + 1
    assert jobs == []
    assert decode_job.audit(df, decode_job.decode(spark, root),
                            strict=True) == OK


def test_compact_selecting_no_file_commits_nothing(spark, tmp_path,
                                                   file_state):
    """No small file, no pending delete and no shrinkable split group:
    compact returns the current snapshot with no Spark job and leaves
    every file under the root as it was."""
    root = str(tmp_path / "t")
    _encode(spark, root, _source(spark, n=60), 4096)
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    before = file_state(root)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("tc-noop", "compact")
        snap = maintenance.compact(spark, root, max_chunk_tokens=4096,
                                   small_file_bytes=0)
        jobs = list(sc.statusTracker().getJobIdsForGroup("tc-noop"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert snap["snapshot_id"] == sid
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] == sid
    assert jobs == []
    assert file_state(root) == before


def test_compact_refuses_hadoop_only_root(spark):
    with pytest.raises(ValueError, match=r"s3://bucket/table"):
        maintenance.compact(spark, "s3a://bucket/table")
    # purge_deletes runs compact's rewrite, and refuses the same way
    with pytest.raises(ValueError, match=r"purge_deletes.*s3://bucket/table"):
        maintenance.purge_deletes(spark, "s3a://bucket/table")
