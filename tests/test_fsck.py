"""fsck: clean tables verify; corrupted pages are localized and named."""

import glob

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from tokencodec.spark import encode_job, fsck, synth


def test_fsck_clean_and_corrupt(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 300, seed=41)
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)

    rep = fsck.fsck(spark, root)
    bad = rep.filter(~F.col("ok")).count()
    assert bad == 0
    assert rep.count() > 0

    # corrupt one page payload byte in one non-empty data file
    f = next(p for p in sorted(glob.glob(f"{root}/data/run-*/*.parquet"))
             if pq.ParquetFile(p).metadata.num_rows > 0)
    t = pq.read_table(f)
    pages = t.column("page_tokens").to_pylist()
    pages[0] = pages[0][:40] + bytes([pages[0][40] ^ 0xFF]) + pages[0][41:]
    t = t.set_column(t.column_names.index("page_tokens"), "page_tokens",
                     [pages])
    pq.write_table(t, f)
    # remove Hadoop's checksum sidecar so OUR page CRC layer is what
    # detects the corruption (on object stores there is no sidecar)
    import os
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    rep2 = fsck.fsck(spark, root)
    bad_rows = rep2.filter(~F.col("ok")).collect()
    assert len(bad_rows) == 1
    assert "crc" in bad_rows[0].error.lower() or "mismatch" in bad_rows[0].error.lower()


def _rewrite_column(f, name, values):
    import os

    import pyarrow as pa
    t = pq.read_table(f)
    i = t.column_names.index(name)
    t = t.set_column(i, t.schema.field(i),
                     pa.array(values, t.schema.field(i).type))
    pq.write_table(t, f)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_fsck_reports_null_stats_and_non_json_source_set(spark, tmp_path):
    """Readers assume every chunk's n_tok bounds are set and its source
    set is NULL or a JSON array: a hand-nulled n_tok_max and a
    comma-joined source set are each reported bad, by name."""
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 200, seed=42)
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4)
    f = next(p for p in sorted(glob.glob(f"{root}/data/run-*/*.parquet"))
             if pq.ParquetFile(p).metadata.num_rows > 1)
    t = pq.read_table(f)
    n_tok_max = t.column("n_tok_max").to_pylist()
    n_tok_max[0] = None
    _rewrite_column(f, "n_tok_max", n_tok_max)
    sets = t.column("source_set").to_pylist()
    sets[1] = "web,code"
    _rewrite_column(f, "source_set", sets)
    uids = t.column("chunk_uid").to_pylist()
    bad = {r.chunk_uid: r.error
           for r in fsck.fsck(spark, root).filter(~F.col("ok")).collect()}
    assert set(bad) == {uids[0], uids[1]}
    assert "NULL n_tok_max" in bad[uids[0]]
    assert "not a JSON array" in bad[uids[1]]


def test_fsck_reports_committed_directory(spark, tmp_path, jvm_commit):
    """A committed token data path must be a task-written parquet file:
    a run directory committed with SnapshotTable.commit is reported bad
    (its chunks are still checked)."""
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 100, seed=43)
    snap = jvm_commit(spark, df, root, "g0", n_salts=4,
                      max_chunk_tokens=2000)
    run_dir = snap["groups"]["g0"][0]
    rep = fsck.fsck(spark, root)
    bad = rep.filter(~F.col("ok")).collect()
    assert [(r.chunk_uid, r.error) for r in bad] == [
        (run_dir, "committed data path is not a .parquet file")]
    assert rep.filter(F.col("ok")).count() > 0


def test_fsck_reports_split_document_across_files(spark, tmp_path):
    """Scans give each data file to one task, which stitches that
    file's split parts when the file ends: every writer keeps a split
    document's parts in one file. A document whose parts are
    hand-committed in two files breaks that invariant silently — decode
    returns it as two truncated rows with the same doc_id, whose tokens
    only concatenate back to the original — so fsck must report it."""
    import numpy as np
    import pyarrow.compute as pc

    from tokencodec.spark import decode_job
    from tokencodec.spark.table import SnapshotTable
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 200, seed=44).cache()
    lens = sorted(r.n_tok for r in df.select("n_tok").collect())
    # only the longest document is cut into parts
    assert lens[-1] > lens[-2]
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=lens[-2])
    big = df.orderBy(F.desc("n_tok")).first()
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0

    tbl = SnapshotTable(root)
    (group, files), = tbl.committed_groups().items()
    f = next(p for p in files
             if pc.max(pq.read_table(p, columns=["doc_parts"])
                       .column(0)).as_py() > 1)
    t = pq.read_table(f)
    moved = pc.greater(t["doc_part"], 0)
    assert pc.sum(moved).as_py() >= 1
    a, b = f[:-len(".parquet")] + "-a.parquet", f[:-len(".parquet")] + "-b.parquet"
    pq.write_table(t.filter(pc.invert(moved)), a)
    pq.write_table(t.filter(moved), b)
    tbl.commit({group: [p for p in files if p != f] + [a, b]}, replace=True)

    bad = fsck.fsck(spark, root).filter(~F.col("ok")).collect()
    assert len(bad) == 1 and "in 2 data files" in bad[0].error, bad
    rows = (decode_job.decode(spark, root)
            .filter(F.col("doc_id") == big.doc_id).collect())
    assert len(rows) == 2 and all(r.n_tok < big.n_tok for r in rows)
    assert sorted(np.concatenate([r.tokens for r in rows]).tolist()) \
        == sorted(big.tokens)
