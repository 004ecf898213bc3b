"""One table format: every snapshot carries ``"format": 2`` and a
``kind``, and every entry point refuses a chain of any other format
before it reads data or writes a byte.

SnapshotTable.commit and create_branch stamp the format; current_snapshot()
and snapshot() check it, and every reader, writer and maintenance entry
point resolves its snapshot through them. A chain without the stamp (an
engine before it) or with another value (a later engine) raises the
re-encode ValueError and leaves every file under the root untouched.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, fsck, maintenance, synth
from tokencodec.spark.table import FORMAT, SnapshotTable


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A two-commit table with split documents and a pending delete."""
    root = str(tmp_path_factory.mktemp("format") / "t")
    df = synth.token_table(spark, 120, seed=31).cache()
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=256)
    ids = sorted(r.doc_id for r in df.select("doc_id").collect())
    maintenance.delete_docs(spark, root, ids[:2])
    return root, df, ids


_ENTRY_POINTS = {
    "decode_scan": lambda spark, root, df, ids: decode_job.decode(spark, root),
    "decode_lookup": lambda spark, root, df, ids: decode_job.decode(
        spark, root, doc_id_min=ids[5], doc_id_max=ids[5]),
    "lookup_report": lambda spark, root, df, ids: decode_job.lookup_report(
        root, [ids[5]]),
    "encode_append": lambda spark, root, df, ids: encode_job.encode(
        spark, df.limit(10).withColumn("doc_id", F.concat(
            F.lit("new-"), "doc_id")), root, commit_groups=1,
        group_prefix="a"),
    "delete_docs": lambda spark, root, df, ids: maintenance.delete_docs(
        spark, root, ids[5:7]),
    "upsert_docs": lambda spark, root, df, ids: maintenance.upsert_docs(
        spark, root, df.filter(F.col("doc_id") == ids[5])),
    "compact": lambda spark, root, df, ids: maintenance.compact(spark, root),
    "expire_snapshots": lambda spark, root, df, ids:
        maintenance.expire_snapshots(root, keep_last=1),
    "remove_orphan_files": lambda spark, root, df, ids:
        maintenance.remove_orphan_files(root, older_than_hours=0),
    "fsck": lambda spark, root, df, ids: fsck.fsck(spark, root),
    "publish_staged": lambda spark, root, df, ids:
        maintenance.publish_staged(root + "-main", root),
}


# "format2" is a later engine's format, FORMAT + 1; "format1" the one
# before the kind stamp
@pytest.mark.parametrize("fmt", [None, FORMAT + 1, FORMAT - 1],
                         ids=["stripped", "format2", "format1"])
@pytest.mark.parametrize("entry", sorted(_ENTRY_POINTS))
def test_other_format_is_refused(spark, tmp_path, base, entry, fmt,
                                 set_format, file_state):
    src, df, ids = base
    root = str(tmp_path / "t")
    shutil.copytree(src, root)
    # the copy's manifests list the source's data files: watch both
    set_format(root, fmt)
    before = (file_state(root), file_state(src))
    with pytest.raises(ValueError, match="re-encode the table"):
        _ENTRY_POINTS[entry](spark, root, df, ids)
    assert (file_state(root), file_state(src)) == before


def test_time_travel_and_branches_are_refused(spark, tmp_path, base,
                                              set_format):
    """snapshot() checks the stamp like current_snapshot(), and a
    branch of another format is never skipped by branches() (orphan GC
    holds its files)."""
    src, _, _ = base
    root = str(tmp_path / "t")
    shutil.copytree(src, root)
    SnapshotTable(root).create_branch("b")
    set_format(root, FORMAT + 1)
    with pytest.raises(ValueError, match="re-encode"):
        decode_job.decode(spark, root, snapshot_id=0)
    fork = os.path.join(root, "_manifest", "branch-b", "snapshot-000000.json")
    with open(fork) as f:
        snap = json.load(f)
    del snap["format"]
    with open(fork, "w") as f:
        json.dump(snap, f)
    with pytest.raises(ValueError, match="re-encode"):
        SnapshotTable(root).branches()


def test_commit_and_branch_stamp_every_snapshot(spark, tmp_path, base):
    """Every manifest commit and create_branch write carries the
    stamp, and the listing (snapshots()) returns them all."""
    src, df, ids = base
    root = str(tmp_path / "t")
    shutil.copytree(src, root)
    tbl = SnapshotTable(root)
    tbl.create_branch("b")
    maintenance.delete_docs(spark, root, ids[9:10], branch="b")
    maintenance.compact(spark, root)
    snaps = tbl.snapshots() + SnapshotTable(root, branch="b").snapshots()
    assert len(snaps) >= 6
    assert all(s["format"] == FORMAT == 2 and s["kind"] == "tokens"
               for s in snaps)

