"""Direct task-side parquet write (Iceberg's task-file / driver-manifest
split): tasks write pages parquet with pyarrow and the driver commits
the collected file list, instead of shipping page blobs back across the
Arrow boundary for a JVM partitionBy write. These tests pin the
contract: the pages and metrics the removed JVM writer produced, resume
parity, exact-file manifests, orphan sweeping, URI roots, and
table_totals that count documents."""

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from tokencodec.spark import encode_job, synth
from tokencodec.spark.fsio import fs_for
from tokencodec.spark.table import SnapshotTable

N_ROWS = 600
SEED = 11


def _fingerprint(spark, root):
    pages = encode_job.read_pages(spark, root)
    rows = (pages
            .withColumn("h", F.md5(F.concat("page_tokens", "page_doc_id",
                                            "page_n_tok", "page_source")))
            .select("chunk_uid", "h").collect())
    return sorted((r.chunk_uid, r.h) for r in rows)


def _metrics(root):
    return [{k: v for k, v in s["metrics"].items()
             if k not in ("pass_wall_sec",)}
            for s in SnapshotTable(root).snapshots()]


# The JVM partitionBy writer, removed since, wrote these page bytes and
# commit metrics for the encode below; the task-side writer must keep
# them (digest of the sorted (chunk_uid, page md5) fingerprint).
CLASSIC_DIGEST = "0aea305b78712ef571600eff3817094fe611cc4551656f033584aaa3f2f5d3f1"
CLASSIC_METRICS = [{"enc_bytes": 213096,
                    "extra_schema_chain": {},
                    "max_doc_parts": 1,
                    "max_doc_parts_chain": 1,
                    "n_chunks": 12,
                    "n_rows": 300,
                    "n_tokens": 241184,
                    "pass_groups": 2,
                    "raw_bytes": 974203,
                    "scheme": {"commit_groups": 2,
                               "group_scheme": "salt_mod",
                               "n_salts": 4},
                    "table_totals": {"enc_bytes": 213096,
                                     "n_chunks": 12,
                                     "n_rows": 300,
                                     "n_tokens": 241184}},
                   {"enc_bytes": 399416,
                    "extra_schema_chain": {},
                    "max_doc_parts": 1,
                    "max_doc_parts_chain": 1,
                    "n_chunks": 11,
                    "n_rows": 300,
                    "n_tokens": 353450,
                    "pass_groups": 2,
                    "raw_bytes": 1423288,
                    "scheme": {"commit_groups": 2,
                               "group_scheme": "salt_mod",
                               "n_salts": 4},
                    "table_totals": {"enc_bytes": 612512,
                                     "n_chunks": 23,
                                     "n_rows": 600,
                                     "n_tokens": 594634}}]


def test_direct_matches_classic(spark, tmp_path):
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    root = str(tmp_path / "direct")
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=1 << 17)
    fp = repr(_fingerprint(spark, root)).encode()
    assert hashlib.sha256(fp).hexdigest() == CLASSIC_DIGEST
    assert _metrics(root) == CLASSIC_METRICS
    with pytest.raises(ValueError, match="JVM page writer was removed"):
        encode_job.encode(spark, df, str(tmp_path / "jvm"),
                          direct_write=False)


def test_manifest_lists_exact_files(spark, tmp_path):
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=1 << 17, direct_write=True)
    tbl = SnapshotTable(root)
    committed = set(tbl.data_paths())
    assert committed, "direct write committed no files"
    for p in committed:
        assert p.endswith(".parquet") and os.path.isfile(p)
    # nothing unreferenced on disk: the manifest IS the table
    on_disk = set()
    data = os.path.join(root, "data")
    for d, _, names in os.walk(data):
        on_disk |= {os.path.join(d, n) for n in names if n.endswith(".parquet")}
    assert on_disk == committed


def test_direct_resume_after_partial_commit(spark, tmp_path, monkeypatch):
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    root_a = str(tmp_path / "partial")
    root_b = str(tmp_path / "full")
    encode_job.encode(spark, df, root_b, commit_groups=2,
                      max_chunk_tokens=1 << 17, direct_write=True)

    real_commit = SnapshotTable.commit
    calls = {"n": 0}

    def dying_commit(self, groups, metrics=None):
        out = real_commit(self, groups, metrics)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected failure after first commit")
        return out

    monkeypatch.setattr(SnapshotTable, "commit", dying_commit)
    with pytest.raises(RuntimeError, match="injected"):
        encode_job.encode(spark, df, root_a, commit_groups=2,
                          max_chunk_tokens=1 << 17, direct_write=True)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)

    encode_job.encode(spark, df, root_a, commit_groups=2,
                      max_chunk_tokens=1 << 17, direct_write=True)
    assert _fingerprint(spark, root_a) == _fingerprint(spark, root_b)


def test_orphan_sweep(tmp_path):
    run_dir = str(tmp_path / "run")
    fs = fs_for(run_dir)
    fs.mkdirs(run_dir)
    for name in ("part-00000-1-g0.parquet", "part-00000-9-g0.parquet",
                 "part-00001-2-g1.parquet", "notes.txt"):
        with open(os.path.join(run_dir, name), "wb") as f:
            f.write(b"x")
    keep = {"part-00000-9-g0.parquet", "part-00001-2-g1.parquet"}
    swept = encode_job._sweep_orphans(fs, run_dir, keep)
    assert swept == ["part-00000-1-g0.parquet"]
    left = set(os.listdir(run_dir))
    # keeps committed files and never touches non-parquet entries
    assert left == keep | {"notes.txt"}


def test_direct_write_empty_source(spark, tmp_path):
    df = synth.token_table(spark, 10, seed=SEED).filter("n_tok < 0")
    root = str(tmp_path / "empty")
    encode_job.encode(spark, df, root, commit_groups=2, direct_write=True)
    pages = encode_job.read_pages(spark, root)
    assert pages.count() == 0
    snap = SnapshotTable(root).current_snapshot()
    assert sorted(snap["groups"]) == ["g0", "g1"]
    assert all(v == [] for v in snap["groups"].values())


def test_direct_write_file_uri_root(spark, tmp_path):
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    plain = str(tmp_path / "plain")
    uri = "file://" + str(tmp_path / "uri")
    encode_job.encode(spark, df, plain, commit_groups=1, direct_write=True)
    encode_job.encode(spark, df, uri, commit_groups=1, direct_write=True)
    assert _fingerprint(spark, plain) == _fingerprint(spark, uri)


def test_fast_source_defaults_to_direct(spark, tmp_path):
    """encode_from_parquet's default path writes task-side files whose
    names carry the task/attempt/group tag."""
    src = str(tmp_path / "src")
    synth.token_table(spark, N_ROWS, seed=SEED).write.parquet(src)
    root = str(tmp_path / "out")
    encode_job.encode_from_parquet(spark, src, root, commit_groups=2)
    for p in SnapshotTable(root).data_paths():
        assert os.path.basename(p).startswith("part-")
        assert "-g" in os.path.basename(p)
    # and it decodes back to the source rows
    from tokencodec.spark import decode_job
    dec = decode_job.decode(spark, root)
    srcdf = spark.read.parquet(src).select("doc_id", "tokens", "n_tok", "source")
    assert dec.select("doc_id", "tokens", "n_tok", "source").exceptAll(srcdf).count() == 0
    assert srcdf.exceptAll(dec.select("doc_id", "tokens", "n_tok", "source")).count() == 0


def test_table_totals_chain(spark, tmp_path):
    """Every commit carries cumulative table_totals equal to a real
    aggregate, so maintenance can size the table from the manifest."""
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=1 << 17, direct_write=True)
    from tokencodec.spark import streaming
    src2 = str(tmp_path / "more")
    synth.token_table(spark, 100, seed=SEED + 1).write.parquet(src2)
    streaming.encode_stream(spark, src2, root)

    snap = SnapshotTable(root).current_snapshot()
    totals = snap["metrics"]["table_totals"]
    pages = encode_job.read_pages(spark, root)
    agg = pages.groupBy().agg(
        {"n_rows": "sum", "n_tokens": "sum", "enc_bytes": "sum"}).collect()[0]
    assert totals["n_chunks"] == pages.count()
    assert totals["n_rows"] == agg["sum(n_rows)"]
    assert totals["n_tokens"] == agg["sum(n_tokens)"]
    assert totals["enc_bytes"] == agg["sum(enc_bytes)"]


def test_table_totals_count_documents(spark, tmp_path):
    """table_totals.n_rows counts documents, a split document once: it
    equals the decoded row count after an encode with split documents,
    a purge and a compact. Pending deletes mask rows without removing
    pages, so after an upsert it still counts the replaced copies."""
    from tokencodec.spark import decode_job, maintenance

    df = synth.token_table(spark, 200, seed=SEED).cache()
    budget = sorted(r.n_tok for r in df.select("n_tok").collect())[-4]
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, max_chunk_tokens=budget)

    def check(what, masked=0):
        snap = SnapshotTable(root).current_snapshot()
        n = decode_job.decode(spark, root, columns=["doc_id"]).count()
        assert snap["metrics"]["table_totals"]["n_rows"] == n + masked, what

    assert SnapshotTable(root).current_snapshot()["metrics"][
        "max_doc_parts_chain"] > 1
    check("encode")
    longest = df.orderBy(F.desc("n_tok")).first().doc_id
    ids = sorted(r.doc_id for r in df.select("doc_id").collect())
    replaced = [longest, *ids[:4]]
    maintenance.upsert_docs(
        spark, root, synth.token_table(spark, 200, seed=SEED + 1)
        .filter(F.col("doc_id").isin(replaced)), max_chunk_tokens=budget)
    check("upsert", masked=len(replaced))
    maintenance.purge_deletes(spark, root)
    check("purge")
    maintenance.compact(spark, root, max_chunk_tokens=1 << 21)
    check("compact")


def test_cli_describe(spark, tmp_path, capsys):
    """`describe` summarizes the table from manifest JSON alone."""
    import json as _json

    from tokencodec.__main__ import main as cli_main

    df = synth.token_table(spark, 200, seed=SEED)
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=2, direct_write=True)
    assert cli_main(["describe", root]) == 0
    out = _json.loads(capsys.readouterr().out.strip())
    assert out["groups"] == ["g0", "g1"]
    assert out["table_totals"]["n_rows"] == 200
    assert out["max_doc_parts"] >= 1
    assert cli_main(["describe", str(tmp_path / "nope")]) == 1
