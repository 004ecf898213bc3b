"""Compaction + snapshot expiry: decoded rows must be bit-identical
across a rewrite, time travel must keep working until expired, and the
garbage collector must only touch superseded files."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.table import SnapshotTable


def _encode_small_chunks(spark, root, n_rows=300, max_chunk_tokens=2000):
    df = synth.token_table(spark, n_rows, seed=21)
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=max_chunk_tokens)
    return df


def test_compact_preserves_rows_and_reduces_chunks(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _encode_small_chunks(spark, root)
    before = encode_job.read_pages(spark, root)
    n_before = before.count()
    pre_snap = SnapshotTable(root).current_snapshot()["snapshot_id"]

    snap = maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    assert snap["snapshot_id"] == pre_snap + 1
    after = encode_job.read_pages(spark, root)
    n_after = after.count()
    assert n_after < n_before, (n_after, n_before)

    # decoded rows bit-identical to the source (the audit invariant)
    res = decode_job.audit(df, decode_job.decode(spark, root), strict=True)
    assert res == {"missing": 0, "extra": 0, "ok": True}

    # time travel to the pre-compact layout still decodes identically
    old = decode_job.decode(spark, root, snapshot_id=pre_snap)
    assert decode_job.audit(df, old)["ok"]


def test_compact_rechunks_shrinkable_split_docs(spark, tmp_path):
    """Re-compacting with a LARGER budget reassembles split docs whose
    part count shrinks (VERDICT r3 next #7: fragments used to persist
    forever); decoded rows stay bit-identical."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    df = synth.token_table(spark, 120, seed=5)
    # tiny budget: forces doc splitting (doc_parts > 1 chunks exist)
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=64)
    pages = encode_job.read_pages(spark, root)
    n_parts_before = pages.filter("doc_parts > 1").count()
    assert n_parts_before > 0
    maxtok = pages.agg(F.max("n_tokens")).collect()[0][0]
    assert maxtok <= 64

    snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
    assert snap["metrics"]["rechunked_split_parts"] == n_parts_before
    after = encode_job.read_pages(spark, root)
    # commit metrics must describe the ACTUAL written layout (a
    # post-splice aggregate once reported the pre-merge chunk count)
    assert snap["metrics"]["n_chunks"] == after.count()
    assert snap["metrics"]["enc_bytes"] == \
        after.groupBy().sum("enc_bytes").collect()[0][0]
    # every split doc in this table fits 4096 tokens: no parts remain
    assert after.filter("doc_parts > 1").count() == 0
    # chunks stay bounded: reassembled docs <= budget; merge groups can
    # legitimately fill to 1.5x (running-sum bins of < budget/2 chunks)
    assert after.agg(F.max("n_tokens")).collect()[0][0] <= 4096 * 3 // 2
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # idempotent: nothing left to rechunk or merge
    s2 = maintenance.compact(spark, root, max_chunk_tokens=4096)
    assert s2["snapshot_id"] == snap["snapshot_id"]


def test_compact_same_budget_leaves_split_docs_alone(spark, tmp_path):
    """At the SAME budget the split layout is already optimal: parts
    pass through byte-identical (same uids)."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 120, seed=5)
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=64)
    pages = encode_job.read_pages(spark, root)
    split_before = {r.chunk_uid for r in pages.filter("doc_parts > 1")
                    .select("chunk_uid").collect()}
    assert split_before

    maintenance.compact(spark, root, max_chunk_tokens=64)
    after = encode_job.read_pages(spark, root)
    split_after = {r.chunk_uid for r in after.filter("doc_parts > 1")
                   .select("chunk_uid").collect()}
    assert split_before == split_after
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]


def test_rechunk_groups_only_regroups_within_one_file(tmp_path):
    """A split group whose parts all lie in one file is re-sliced; one
    spread over two files (which fsck reports) passes through."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, parts):
        path = str(tmp_path / name)
        pq.write_table(pa.table({
            "split_uid": [u for u, _ in parts],
            "n_tokens": pa.array([n for _, n in parts], pa.int64()),
            "doc_parts": pa.array([3] * len(parts), pa.int32())}), path)
        return path

    one = write("one.parquet", [("a", 100)] * 3 + [("b", 100)] * 2)
    two = write("two.parquet", [("b", 100)])
    assert maintenance._rechunk_groups([one, two], 4096) == \
        [{"sgrp": "a", "k": 3, "file": one}]


def test_compact_noop_when_nothing_mergeable(spark, tmp_path):
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 50, seed=9)
    encode_job.encode(spark, df, root, commit_groups=1, max_chunk_tokens=64)
    sid = SnapshotTable(root).current_snapshot()["snapshot_id"]
    # budget 64: every whole chunk is >= budget//2 = 32 tokens (docs are
    # longer than that), so nothing qualifies for merging
    snap = maintenance.compact(spark, root, max_chunk_tokens=64)
    assert snap["snapshot_id"] == sid  # no new snapshot


def test_expire_snapshots_deletes_only_superseded_files(spark, tmp_path):
    root = str(tmp_path / "t")
    df = _encode_small_chunks(spark, root)
    pre_snap = SnapshotTable(root).current_snapshot()["snapshot_id"]
    maintenance.compact(spark, root, max_chunk_tokens=1 << 21)

    res = maintenance.expire_snapshots(root, keep_last=1)
    assert res["expired_snapshots"] >= 1
    assert res["deleted_dirs"] >= 1

    # current snapshot still fully readable and bit-identical
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # the expired snapshot is gone: time travel now fails loudly
    with pytest.raises(FileNotFoundError):
        decode_job.decode(spark, root, snapshot_id=pre_snap)


def test_expire_keeps_everything_when_window_covers_all(spark, tmp_path):
    root = str(tmp_path / "t")
    _encode_small_chunks(spark, root)
    res = maintenance.expire_snapshots(root, keep_last=10)
    assert res == {"expired_snapshots": 0, "deleted_dirs": 0}


@pytest.mark.parametrize("enc_budget,cmp_budget,n_rows", [
    (500, 1 << 20, 150),    # tiny chunks -> one big merge per (bucket, salt)
    (2000, 8000, 250),      # partial merges, several groups per salt
    (64, 600, 100),         # split docs present; part counts shrink 64->600
    (64, 1 << 20, 80),      # every split doc reassembles whole
])
def test_compact_property_sweep(spark, tmp_path, enc_budget, cmp_budget, n_rows):
    """Across budget/size combinations: compaction never changes decoded
    rows, never grows the chunk count, and is idempotent (a second
    compaction at the same budget finds nothing to merge)."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, n_rows, seed=enc_budget)
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=enc_budget)
    n0 = encode_job.read_pages(spark, root).count()
    s1 = maintenance.compact(spark, root, max_chunk_tokens=cmp_budget)
    n1 = encode_job.read_pages(spark, root).count()
    assert n1 <= n0
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True) \
        == {"missing": 0, "extra": 0, "ok": True}
    # idempotent: nothing left under half the budget to merge in groups of 2+
    s2 = maintenance.compact(spark, root, max_chunk_tokens=cmp_budget)
    assert s2["snapshot_id"] == s1["snapshot_id"], "second compact must be a no-op"


def test_crash_before_compact_commit_leaves_table_intact(spark, tmp_path, monkeypatch):
    """A compaction killed between writing its run dir and committing
    must leave the table exactly as it was: the new files are invisible
    orphans (snapshot semantics), and a re-run compacts cleanly."""
    from tokencodec.spark.table import SnapshotTable

    root = str(tmp_path / "t")
    df = _encode_small_chunks(spark, root)
    sid_before = SnapshotTable(root).current_snapshot()["snapshot_id"]
    chunks_before = encode_job.read_pages(spark, root).count()

    real_commit = SnapshotTable.commit

    def dying_commit(self, *a, **k):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(SnapshotTable, "commit", dying_commit)
    with pytest.raises(RuntimeError, match="killed before commit"):
        maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)

    # table unchanged: same snapshot, same chunks, rows intact
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] == sid_before
    assert encode_job.read_pages(spark, root).count() == chunks_before
    assert decode_job.audit(df, decode_job.decode(spark, root))["ok"]

    # re-run succeeds and the earlier orphan run dir is expirable noise
    maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]


def test_compacted_table_still_prunes_and_filters(spark, tmp_path):
    """Merged chunks recompute their stats (doc range, n_tok range,
    source set), so stats pruning keeps working after a rewrite."""
    root = str(tmp_path / "t")
    df = _encode_small_chunks(spark, root)
    maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    from pyspark.sql import functions as F
    out = decode_job.decode(spark, root, sources=["web"], n_tok_min=600)
    expected = df.filter((F.col("source") == "web") & (F.col("n_tok") >= 600))
    assert decode_job.audit(expected, out, strict=True)["ok"]


def test_stream_then_compact_then_stream(spark, tmp_path):
    """Streaming micro-batches before AND after a compaction must
    coexist: compact replaces the existing stream-batch groups' paths,
    later batches append fresh groups, and the union decodes exactly.
    Batch 2 reuses batch 1's doc_ids with different content — duplicate
    doc_ids across batches are legal multiset rows, never merged."""
    from tokencodec.spark import streaming

    src_dir = str(tmp_path / "src")
    root = str(tmp_path / "enc")
    df1 = synth.token_table(spark, 80, seed=41)
    df1.write.mode("overwrite").parquet(src_dir)
    streaming.encode_stream(spark, src_dir, root, max_chunk_tokens=1000)
    maintenance.compact(spark, root, max_chunk_tokens=1 << 21)

    df2 = synth.token_table(spark, 80, seed=42)
    df2.write.mode("append").parquet(src_dir)
    streaming.encode_stream(spark, src_dir, root, max_chunk_tokens=1000)

    expected = df1.unionByName(df2)
    res = decode_job.audit(expected, decode_job.decode(spark, root), strict=True)
    assert res == {"missing": 0, "extra": 0, "ok": True}


def test_file_granular_compact_keeps_big_files(spark, tmp_path):
    """Iceberg's rewrite-data-files semantics: only committed files
    below the size threshold are read and rewritten; bigger files stay
    referenced under their original paths, and the table decodes
    identically. The fixture is split-free (docs capped under the
    encode budget) — files holding shrinkable split-doc parts would
    correctly be pulled in regardless of size (rechunk overrides the
    threshold; test_compact_rechunks_shrinkable_split_docs)."""
    from tokencodec.spark import decode_job, synth

    df = synth.token_table(spark, 800, seed=3).filter("n_tok <= 1800")
    src = str(tmp_path / "src")
    df.write.parquet(src)
    root = str(tmp_path / "t")
    encode_job.encode_from_parquet(spark, src, root, commit_groups=2,
                                   max_chunk_tokens=2000)
    tbl = SnapshotTable(root)
    files = tbl.data_paths()
    sizes = {p: tbl.fs.size(p) for p in files}
    biggest = max(sizes.values())
    big_files = {p for p, s in sizes.items() if s == biggest}
    assert len(big_files) < len(files), "need a size spread for this test"

    before = encode_job.read_pages(spark, root).count()
    snap = maintenance.compact(spark, root, max_chunk_tokens=1 << 21,
                               small_file_bytes=biggest)
    after_paths = set(tbl.data_paths())
    # the rewrite itself is committed as files, so the NEXT compaction
    # stays file-granular too
    assert all(not tbl.fs.isdir(p) for p in after_paths)
    # big files survive under their exact original paths
    assert big_files <= after_paths
    # everything selected was replaced by the new run's files
    assert not (set(files) - big_files) & after_paths
    assert snap["metrics"]["kept_files"] == len(big_files)
    # fewer chunks, identical rows
    assert encode_job.read_pages(spark, root).count() < before
    dec = decode_job.decode(spark, root)
    assert decode_job.audit(spark.read.parquet(src), dec)["ok"]
    # whole-table metrics stay table-scoped despite the partial rewrite
    pages = encode_job.read_pages(spark, root)
    agg = pages.groupBy().sum("n_rows", "n_tokens").collect()[0]
    assert snap["metrics"]["n_rows"] == agg[0]
    assert snap["metrics"]["n_tokens"] == agg[1]
    assert snap["metrics"]["n_chunks"] == pages.count()


def test_expire_removes_emptied_run_dirs(spark, tmp_path):
    """File-granular deletes must not strand empty run directories."""
    from tokencodec.spark import synth

    df = synth.token_table(spark, 300, seed=5)
    src = str(tmp_path / "src")
    df.write.parquet(src)
    root = str(tmp_path / "t")
    encode_job.encode_from_parquet(spark, src, root, commit_groups=1,
                                   max_chunk_tokens=2000)
    maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    res = maintenance.expire_snapshots(root, keep_last=1)
    assert res["expired_snapshots"] == 1
    data = os.path.join(root, "data")
    run_dirs = [os.path.join(data, d) for d in os.listdir(data)]
    live = set(SnapshotTable(root).data_paths())
    for d in run_dirs:
        names = os.listdir(d)
        assert any(n.endswith(".parquet") for n in names), f"empty run dir {d}"
        assert any(os.path.join(d, n) in live for n in names)


def test_expire_mixed_dir_and_file_commits_keeps_live_data(spark, tmp_path,
                                                           jvm_commit):
    """A dir-granular snapshot (only the ``jvm_commit`` fixture still
    commits a run directory; every engine writer commits files)
    superseded by a file-granular replace-commit must expire without
    touching the live files: the dead run DIR's parent is {root}/data,
    and sweeping that would destroy every sibling run dir (regression
    test for exactly that)."""
    from tokencodec.spark import partition as part
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 300, seed=21)
    # a JVM write commits the run DIRECTORY
    jvm_commit(spark, df, root, "g0", n_salts=4, max_chunk_tokens=2000)
    tbl = SnapshotTable(root)
    assert any(tbl.fs.isdir(p) for p in tbl.data_paths())
    # the same pages written by the tasks as files in a sibling run
    # directory replace it
    meta = encode_job.write_from_tasks(
        tbl, part.bucketed(df, n_salts=4).select(encode_job._COLS),
        lambda run_dir: encode_job.make_direct_writer(
            run_dir, "zstd", 2000, uid_prefix="g0"))
    tbl.commit({"g0": sorted(r["file"] for r in meta)}, replace=True)
    live = SnapshotTable(root).data_paths()
    assert all(not SnapshotTable(root).fs.isdir(p) for p in live)

    maintenance.expire_snapshots(root, keep_last=1)
    assert os.path.isdir(os.path.join(root, "data"))
    for p in live:
        assert os.path.isfile(p), f"live file destroyed: {p}"
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]


def test_remove_orphan_files(spark, tmp_path):
    """Crashed-job run dirs (referenced by no snapshot) are deleted once
    old enough; fresh ones and referenced ones are never touched."""
    import time

    root = str(tmp_path / "t")
    df = synth.token_table(spark, 200, seed=7)
    encode_job.encode(spark, df, root, commit_groups=1,
                      max_chunk_tokens=2000, direct_write=True)
    data = os.path.join(root, "data")
    live_dirs = set(os.listdir(data))

    old_orphan = os.path.join(data, "run-deadbeef0001")
    os.makedirs(old_orphan)
    open(os.path.join(old_orphan, "part-0.parquet"), "wb").write(b"x")
    past = time.time() - 48 * 3600
    os.utime(old_orphan, (past, past))
    fresh_orphan = os.path.join(data, "run-deadbeef0002")
    os.makedirs(fresh_orphan)

    res = maintenance.remove_orphan_files(root, older_than_hours=24)
    assert res == {"deleted_orphan_dirs": 1, "deleted_claim_manifests": 0,
                   "deleted_orphan_groupsets": 0}
    assert not os.path.exists(old_orphan)
    assert os.path.exists(fresh_orphan)  # age guard: in-flight writer
    assert live_dirs <= set(os.listdir(data))
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # the fresh orphan ages out too
    os.utime(fresh_orphan, (past, past))
    assert maintenance.remove_orphan_files(root, older_than_hours=24) \
        == {"deleted_orphan_dirs": 1, "deleted_claim_manifests": 0,
            "deleted_orphan_groupsets": 0}


def test_direct_write_probe(spark, tmp_path):
    """URI capability probe: plain paths and pyarrow-resolvable URIs
    pass; every token-page and delete-id writer refuses a Hadoop-only
    spelling and names the pyarrow one."""
    from tokencodec.spark import streaming

    assert encode_job.direct_write_supported("/tmp/x")
    assert encode_job.direct_write_supported("file:///tmp/x")
    assert not encode_job.direct_write_supported("s3a://bucket/x")
    assert not encode_job.direct_write_supported("nosuchscheme://x/y")
    root = "s3a://bucket/x"
    df = synth.token_table(spark, 4, seed=1)
    for write in (lambda: encode_job.encode(spark, df, root),
                  lambda: maintenance.upsert_docs(spark, root, df),
                  lambda: maintenance.resalt(spark, root, 4),
                  lambda: streaming.encode_stream(spark, str(tmp_path), root),
                  lambda: maintenance.delete_docs(spark, root, ["x"])):
        with pytest.raises(ValueError, match="s3://bucket/x"):
            write()
