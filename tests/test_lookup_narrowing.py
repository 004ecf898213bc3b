"""Footer-narrowed lookups and range scans never drop rows.

decode() hands the scan only the files whose parquet footer row-group
statistics admit a match (decode_job._file_plan). Hypothesis draws
present, absent and split ids and n_tok / doc-id ranges; every point
lookup, batch lookup and range scan must equal a full-scan decode()
filtered the same way. The table mixes every case narrowing must keep:
direct-written files, a file rewritten without statistics, a one-task
append, split documents, and
sequence-aware deletes with an upsert re-add — read both at the current
snapshot and by time travel to a snapshot before the deletes.
"""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.table import SnapshotTable


def _tok_bytes(tokens) -> bytes:
    if isinstance(tokens, (bytes, bytearray)):
        return bytes(tokens)
    return np.asarray(tokens, dtype=np.int32).tobytes()


def _rows(df) -> dict:
    """{doc_id: (n_tok, source, token bytes)}; duplicates fail loudly."""
    out = {}
    for r in df.collect():
        assert r.doc_id not in out, f"duplicate row {r.doc_id}"
        out[r.doc_id] = (r.n_tok, r.source, _tok_bytes(r.tokens))
    return out


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("narrowing") / "t")
    src = synth.token_table(spark, 360, seed=23).cache()
    lens = sorted(r.n_tok for r in src.select("n_tok").collect())
    budget = lens[-4]  # the three longest documents are split
    base = src.filter(F.col("doc_id") < "doc-000000000300")
    encode_job.encode(spark, base, root, commit_groups=3, n_salts=8,
                      max_chunk_tokens=budget, direct_write=True)
    tbl = SnapshotTable(root)
    files = sorted(tbl.data_paths())
    # one committed file loses its footer statistics
    bare = files[0]
    pq.write_table(pq.read_table(bare), bare, write_statistics=False)
    crc = os.path.join(os.path.dirname(bare), f".{os.path.basename(bare)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    bare_ids = pq.read_table(bare, columns=["doc_id_min"]) \
        .column(0).to_pylist()
    # an append in one task: one file holding every salt it touches
    encode_job.encode(spark, src.filter(F.col("doc_id") >= "doc-000000000300"),
                      root, commit_groups=1, group_prefix="cls",
                      max_chunk_tokens=budget, partitions=1)
    before = tbl.current_snapshot()["snapshot_id"]
    ids = sorted(r.doc_id for r in src.select("doc_id").collect())
    split = [r.doc_id for r in src.orderBy(F.desc("n_tok")).limit(3).collect()]
    gone, readded, replaced = ids[5], ids[7], ids[11]
    maintenance.delete_docs(spark, root, [gone, readded, split[0]])
    maintenance.upsert_docs(
        spark, root,
        synth.token_table(spark, 360, seed=99)
        .filter(F.col("doc_id").isin([readded, replaced])),
        max_chunk_tokens=budget)
    full = {snap: _rows(decode_job.decode(spark, root, snapshot_id=snap,
                                          packed=True))
            for snap in (None, before)}
    assert gone not in full[None] and split[0] not in full[None]
    assert readded in full[None] and gone in full[before]
    assert full[None][replaced] != full[before][replaced]
    pool = sorted({*ids[::13], *split, *bare_ids[:4], gone, readded,
                   replaced, ids[-1], ids[0] + "x", ids[200] + "x",
                   "doc-999999999999", "a"})
    return {"root": root, "full": full, "before": before, "pool": pool,
            "split": split, "bare_ids": bare_ids[:4],
            "bare": bare, "budget": budget,
            "n_tok": {s: {d: v[0] for d, v in rows.items()}
                      for s, rows in full.items()}}


def _always_kept(t, rep):
    kept = set(rep["paths"])
    assert t["bare"] in kept, rep
    assert rep["files_kept"] == len(kept) <= rep["files_considered"]


def _check_lookups(spark, t, ids, snap):
    """A point lookup of ids[0] and a batch lookup of ids, each equal to
    the full scan filtered by doc_id."""
    full = t["full"][snap]
    d = ids[0]
    rep = decode_job.lookup_report(t["root"], [d], snapshot_id=snap)
    _always_kept(t, rep)
    got = _rows(decode_job.decode(spark, t["root"], doc_id_min=d,
                                  doc_id_max=d, snapshot_id=snap))
    assert got == {k: v for k, v in full.items() if k == d}
    rep = decode_job.lookup_report(t["root"], ids, snapshot_id=snap)
    _always_kept(t, rep)
    got = _rows(decode_job.decode(spark, t["root"], doc_ids=ids,
                                  snapshot_id=snap, packed=True))
    assert got == {k: v for k, v in full.items() if k in set(ids)}


@settings(max_examples=12, deadline=None)
@given(picks=st.data(), when=st.sampled_from(["now", "before"]))
def test_lookups_equal_full_scan(spark, table, picks, when):
    ids = picks.draw(st.lists(st.sampled_from(table["pool"]), min_size=1,
                              max_size=5))
    _check_lookups(spark, table, ids,
                   None if when == "now" else table["before"])


@pytest.mark.parametrize("when", ["now", "before"])
def test_split_and_bare_file_lookups(spark, table, when):
    """Every split document (one of them deleted now) and ids stored in
    the stats-less file, looked up one by one and as one batch."""
    snap = None if when == "now" else table["before"]
    ids = table["split"] + table["bare_ids"]
    for d in ids:
        _check_lookups(spark, table, [d], snap)
    _check_lookups(spark, table, ids, snap)


@settings(max_examples=8, deadline=None)
@given(data=st.data(), when=st.sampled_from(["now", "before"]))
def test_range_scans_equal_full_scan(spark, table, data, when):
    t = table
    snap = None if when == "now" else t["before"]
    n_tok = t["n_tok"][snap]
    edges = sorted({8, 300, 700, 1500, t["budget"], t["budget"] + 1,
                    max(n_tok.values()), 10 ** 7})
    lo = data.draw(st.sampled_from(edges))
    hi = data.draw(st.sampled_from([e for e in edges if e >= lo]))
    got = decode_job.decode(spark, t["root"], columns=["doc_id", "n_tok"],
                            n_tok_min=lo, n_tok_max=hi, snapshot_id=snap)
    got = {r.doc_id: r.n_tok for r in got.collect()}
    assert got == {d: n for d, n in n_tok.items() if lo <= n <= hi}
    a, b = sorted(data.draw(st.lists(st.sampled_from(t["pool"]),
                                     min_size=2, max_size=2)))
    got = decode_job.decode(spark, t["root"], columns=["doc_id", "n_tok"],
                            doc_id_min=a, doc_id_max=b, snapshot_id=snap)
    got = {r.doc_id: r.n_tok for r in got.collect()}
    assert got == {d: n for d, n in n_tok.items() if a <= d <= b}


def test_split_range_scan_keeps_split_parts(spark, table):
    """A scan for documents longer than the chunk budget reads only
    split parts: their chunk stats describe part lengths, so narrowing
    must keep the row groups holding them."""
    t = table
    got = decode_job.decode(spark, t["root"], columns=["doc_id", "n_tok"],
                            n_tok_min=t["budget"] + 1)
    got = {r.doc_id: r.n_tok for r in got.collect()}
    want = {d: n for d, n in t["n_tok"][None].items() if n > t["budget"]}
    assert got == want and len(want) == 2
