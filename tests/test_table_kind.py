"""The table kind stamp: every snapshot says whether it holds token or
vector pages, ``SnapshotTable.commit`` refuses a commit of another kind
than its parent's (so no writer and no publish mixes the two in one
root), and ``publish_staged`` and ``fsck`` dispatch on the stamp
instead of guessing from the chain."""

import glob
import hashlib
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tokencodec.spark import encode_job, maintenance, vectors
from tokencodec.spark.synth import token_table
from tokencodec.spark.table import SnapshotTable

SF = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


def _head(root):
    return SnapshotTable(root).current_snapshot()["snapshot_id"]


@pytest.fixture
def roots(spark, tmp_path):
    """A vector table and a token table, each with a staging table of
    its kind under a group name the other main does not hold."""
    r = {k: str(tmp_path / k) for k in ("vec", "vstage", "tok", "tstage")}
    vectors.encode_vectors(spark, _emb(spark).filter("vec_id % 2 = 0"),
                           r["vec"], chunk_rows=64)
    vectors.encode_vectors(spark, _emb(spark).filter("vec_id % 2 = 1"),
                           r["vstage"], chunk_rows=64, group="odd")
    df = token_table(spark, 60, seed=5)
    encode_job.encode(spark, df, r["tok"], commit_groups=1)
    encode_job.encode(spark, df.withColumn("doc_id", F.concat(
        F.lit("s-"), "doc_id")), r["tstage"], commit_groups=1,
        group_prefix="s")
    return r


@pytest.mark.parametrize("main,stage", [("vec", "tstage"), ("tok", "vstage")])
def test_publish_across_kinds_is_refused(roots, main, stage):
    before = _head(roots[main])
    with pytest.raises(ValueError, match="table: refusing a"):
        maintenance.publish_staged(roots[main], roots[stage])
    assert _head(roots[main]) == before
    # the staging table was not retired
    assert SnapshotTable(roots[stage]).current_snapshot() is not None


def _entries(root):
    return sorted(os.path.join(d, n) for d, dirs, files in os.walk(root)
                  for n in dirs + files)


def test_writers_refuse_a_root_of_the_other_kind(spark, roots):
    """Each writer refuses before its job runs: the refused root holds
    exactly the files and directories it held before."""
    before = {k: _head(roots[k]) for k in ("vec", "tok")}
    entries = {k: _entries(roots[k]) for k in ("vec", "tok")}
    with pytest.raises(ValueError, match="is a vectors table"):
        encode_job.encode(spark, token_table(spark, 20, seed=7),
                          roots["vec"], commit_groups=1, group_prefix="t")
    with pytest.raises(ValueError, match="is a tokens table"):
        vectors.encode_vectors(spark, _emb(spark), roots["tok"],
                               chunk_rows=64)
    assert {k: _head(roots[k]) for k in ("vec", "tok")} == before
    assert {k: _entries(roots[k]) for k in ("vec", "tok")} == entries


def test_published_then_expired_vector_table_passes_cli_fsck(
        spark, roots, capsys):
    """With the kind read from a chain walk, this table's only retained
    op after expiry is the publish, and fsck checked it as a token
    table: every chunk bad."""
    from tokencodec.__main__ import main as cli
    maintenance.publish_staged(roots["vec"], roots["vstage"])
    maintenance.expire_snapshots(roots["vec"], keep_last=1)
    assert len(SnapshotTable(roots["vec"]).snapshots()) == 1
    capsys.readouterr()
    assert cli(["fsck", roots["vec"]]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["bad"] == 0 and rep["chunks"] > 0
    out = vectors.decode_vectors(spark, roots["vec"])
    assert out.count() == _emb(spark).count()


# digests of the embeddings table encoded with chunk_rows=64 over 8
# range partitions, as the JVM page writer committed it: the pages
# (every column but the file layout) and the decoded rows
_PAGES_SHA = "2b1baaff7cbeb2c17f96068d9267193de2c8a4f6cbbe23414270687bbcc016aa"
_DECODE_SHA = "0b1514a57473139f121b9b47ba7431dd63c782db355538060dd3c3da2921a085"


def test_vector_pages_are_task_written_files(spark, tmp_path):
    root = str(tmp_path / "v")
    vectors.encode_vectors(spark, _emb(spark), root, chunk_rows=64,
                           n_partitions=8)
    paths = SnapshotTable(root).data_paths()
    assert paths and all(p.endswith(".parquet") and os.path.isfile(p)
                         for p in paths)
    # nothing else was left in the run directory
    assert sorted(glob.glob(os.path.join(root, "data", "*", "*"))) == \
        sorted(paths)
    import pyarrow.parquet as pq
    md = pq.ParquetFile(paths[0]).metadata
    col = md.schema.names.index("vec_id_min")
    assert md.row_group(0).column(col).statistics.has_min_max
    h = hashlib.sha256()
    pages = vectors.read_vector_pages(spark, root)
    for r in sorted(pages.collect(), key=lambda r: r.chunk_uid):
        h.update(repr((r.chunk_uid, r.chunk_seq, r.n_rows, r.dim,
                       r.vec_id_min, r.vec_id_max, r.vec_id_codec,
                       r.emb_codec, r.label_codec, r.raw_bytes,
                       r.enc_bytes)).encode())
        for c in (r.page_vec_id, r.page_emb, r.page_label):
            h.update(bytes(c))
    assert h.hexdigest() == _PAGES_SHA
    h = hashlib.sha256()
    for r in sorted(vectors.decode_vectors(spark, root).collect(),
                    key=lambda r: r.vec_id):
        h.update(repr((r.vec_id, r.label)).encode())
        h.update(np.asarray(r.embedding, dtype=np.float32).tobytes())
    assert h.hexdigest() == _DECODE_SHA
    m = SnapshotTable(root).current_snapshot()["metrics"]
    assert m["n_chunks"] == pages.count()
    assert m["n_rows"] == _emb(spark).count()
    assert m["enc_bytes"] == pages.agg(F.sum("enc_bytes")).first()[0]
