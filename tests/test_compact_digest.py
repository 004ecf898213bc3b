"""Compaction and purge write the same chunk bytes as recorded: a fixed
table with pending deletes, merge groups, an int extra column and one
shrinkable split document is compacted (or purged), and the sha256 of
its sorted (chunk_uid, page bytes) must equal the digest recorded for
it. Any change to how maintenance reads, masks, merges or re-slices
chunks that moves a byte fails here."""

import hashlib

import numpy as np
import pyarrow.parquet as pq
import pytest

from tokencodec.spark import decode_job, encode_job, maintenance
from tokencodec.spark.table import SnapshotTable

_PAGES = ["page_tokens", "page_doc_id", "page_n_tok", "page_source"]

COMPACT_SHA256 = \
    "6fe07ad15c5137fa52199b5fdd15de25a81963ed9e649f57c085dd560a86e4cc"
PURGE_SHA256 = \
    "241781db4726850a6024578e49a8a37b70f2400b9dddc2a76e00ed24a582b73e"


def _rows(lo, hi, big=None):
    rng = np.random.default_rng(lo)
    out = []
    for i in range(lo, hi):
        n = big if i == lo and big else int(rng.integers(20, 200))
        out.append((f"doc-{i:05d}", rng.integers(0, 5000, n).tolist(), n,
                    ("web", "code", "books")[i % 3], i % 7))
    return out


def _table(spark, root):
    """A 40-doc base encoded at a 512-token budget (doc-00000 has 1500
    tokens, so it splits in 3 parts), two 8-doc appends and one pending
    delete of 3 ids."""
    ddl = "doc_id string, tokens array<int>, n_tok int, source string, " \
          "quality int"
    for i, (lo, hi, big) in enumerate([(0, 40, 1500), (100, 108, None),
                                       (200, 208, None)]):
        encode_job.encode(spark, spark.createDataFrame(_rows(lo, hi, big),
                                                       ddl),
                          root, commit_groups=2, n_salts=4,
                          max_chunk_tokens=512, partitions=4,
                          group_prefix="gab"[i])
    maintenance.delete_docs(spark, root, ["doc-00003", "doc-00101",
                                          "doc-00017"])


def _digest(root):
    h = hashlib.sha256()
    rows = []
    for p in SnapshotTable(root).data_paths():
        t = pq.read_table(p, columns=["chunk_uid", *_PAGES, "extra_pages"])
        rows += t.to_pylist()
    for r in sorted(rows, key=lambda r: r["chunk_uid"]):
        h.update(r["chunk_uid"].encode())
        for c in _PAGES:
            h.update(r[c])
        for k, v in sorted(r["extra_pages"] or []):
            h.update(k.encode() + v)
    return h.hexdigest()


@pytest.mark.parametrize("op", ["compact", "purge"])
def test_maintenance_chunk_bytes_unchanged(spark, tmp_path, op):
    root = str(tmp_path / "t")
    _table(spark, root)
    pre = SnapshotTable(root).current_snapshot()["snapshot_id"]
    if op == "compact":
        snap = maintenance.compact(spark, root, max_chunk_tokens=4096)
        m = snap["metrics"]
        assert m["rechunked_split_groups"] == 1
        # merge groups formed besides the re-sliced parts
        assert m["compacted_chunks"] > m["rechunked_split_parts"]
    else:
        snap = maintenance.purge_deletes(spark, root)
    assert snap["snapshot_id"] == pre + 1
    assert snap["metrics"]["n_purged_rows"] == 3
    assert decode_job.audit(
        decode_job.decode(spark, root, snapshot_id=pre),
        decode_job.decode(spark, root), strict=True)["ok"]
    assert _digest(root) == (COMPACT_SHA256 if op == "compact"
                             else PURGE_SHA256)
