"""Resume-from-snapshot and determinism-under-parallelism tests
(SURVEY.md §5.3.4 and §7.4): a job killed after a partial commit must
resume and converge to the exact same final table, and chunk bytes must
not depend on partition count (N vs 4N equivalence)."""

import pytest

from pyspark.sql import functions as F

from tokencodec.spark import encode_job, synth
from tokencodec.spark.table import SnapshotTable

N_ROWS = 600
SEED = 7


def _fingerprint(spark, root):
    pages = encode_job.read_pages(spark, root)
    rows = (pages
            .withColumn("h", F.md5(F.concat("page_tokens", "page_doc_id",
                                            "page_n_tok", "page_source")))
            .select("chunk_uid", "h").collect())
    return sorted((r.chunk_uid, r.h) for r in rows)


def test_resume_after_partial_commit(spark, tmp_path, monkeypatch):
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    root_a = str(tmp_path / "partial")
    root_b = str(tmp_path / "full")

    # full reference run
    encode_job.encode(spark, df, root_b, commit_groups=2, max_chunk_tokens=1 << 17)

    # run that dies after the first group commit
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
        encode_job.encode(spark, df, root_a, commit_groups=2, max_chunk_tokens=1 << 17)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)

    snap = SnapshotTable(root_a).current_snapshot()
    assert snap["snapshot_id"] == 0 and len(snap["groups"]) == 1

    # resume: only the missing group is re-run
    encode_job.encode(spark, df, root_a, commit_groups=2, max_chunk_tokens=1 << 17)
    snap2 = SnapshotTable(root_a).current_snapshot()
    assert snap2["snapshot_id"] == 1 and len(snap2["groups"]) == 2
    assert snap2["new_groups"] != snap["new_groups"]

    assert _fingerprint(spark, root_a) == _fingerprint(spark, root_b)


def test_rerun_is_noop(spark, tmp_path):
    df = synth.token_table(spark, 200, seed=SEED)
    root = str(tmp_path / "noop")
    encode_job.encode(spark, df, root, commit_groups=1)
    snap = SnapshotTable(root).current_snapshot()
    encode_job.encode(spark, df, root, commit_groups=1)
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] == snap["snapshot_id"]


def test_deterministic_across_parallelism(spark, tmp_path):
    """Same input at different partition counts -> byte-identical chunks.
    This is what makes the N vs 4N scaling runs comparable. With no
    ``partitions`` the shuffle is sized by adaptive execution from its
    measured bytes; the chunks must still match the fixed-count runs."""
    df = synth.token_table(spark, N_ROWS, seed=SEED)
    fps = []
    for p, tag in [(2, "p2"), (8, "p8"), (None, "aqe")]:
        root = str(tmp_path / tag)
        encode_job.encode(spark, df, root, commit_groups=1,
                          max_chunk_tokens=1 << 17, partitions=p)
        fps.append(_fingerprint(spark, root))
    assert fps[0] == fps[1] == fps[2]


def test_synth_partition_independent(spark):
    a = synth.token_table(spark, 300, seed=3, partitions=1)
    b = synth.token_table(spark, 300, seed=3, partitions=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_snapshot_table_file_uri_root(spark, tmp_path):
    """The manifest layer is scheme-transparent: a file:// URI root must
    encode, resume-noop, and decode exactly like a plain path."""
    from tokencodec.spark import decode_job

    root = f"file://{tmp_path}/uri_enc"
    df = synth.token_table(spark, 150, seed=9)
    encode_job.encode(spark, df, root, commit_groups=2)
    snap = SnapshotTable(root).current_snapshot()
    assert snap["snapshot_id"] == 1 and len(snap["groups"]) == 2
    assert all(p.startswith("file://") for ps in snap["groups"].values() for p in ps)
    # rerun is a no-op (resume sees both groups committed)
    encode_job.encode(spark, df, root, commit_groups=2)
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] == 1
    decoded = decode_job.decode(spark, root)
    assert decode_job.audit(df, decoded) == {"missing": 0, "extra": 0, "ok": True}


def test_resume_with_mismatched_scheme_fails_fast(spark, tmp_path, monkeypatch):
    """Resuming a partially committed table under a different grouping
    scheme (n_salts / commit_groups) would silently drop and duplicate
    documents — it must raise instead."""
    df = synth.token_table(spark, 200, seed=7)
    root = str(tmp_path / "mismatch")

    real_commit = SnapshotTable.commit
    calls = {"n": 0}

    def dying_commit(self, groups, metrics=None):
        out = real_commit(self, groups, metrics)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected")
        return out

    monkeypatch.setattr(SnapshotTable, "commit", dying_commit)
    with pytest.raises(RuntimeError, match="injected"):
        encode_job.encode(spark, df, root, commit_groups=2, n_salts=8)
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)

    with pytest.raises(ValueError, match="cannot resume"):
        encode_job.encode(spark, df, root, commit_groups=2, n_salts=16)
    with pytest.raises(ValueError, match="cannot resume"):
        encode_job.encode(spark, df, root, commit_groups=4, n_salts=8)
    # matching scheme resumes fine
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=8)
    assert len(SnapshotTable(root).committed_groups()) == 2


def test_snapshot_time_travel(spark, tmp_path):
    """Snapshots are immutable: decoding at snapshot 0 returns exactly
    the first commit group's documents even after later commits."""
    from pyspark.sql import functions as F

    from tokencodec.spark import decode_job
    from tokencodec.spark import partition as part

    df = synth.token_table(spark, 300, seed=5).cache()
    root = str(tmp_path / "tt")
    encode_job.encode(spark, df, root, commit_groups=2)
    n_salts = part.salts_for(300)

    at0 = decode_job.decode(spark, root, snapshot_id=0)
    g0_key = int(SnapshotTable(root).snapshot(0)["new_groups"][0][1:])
    expected = df.filter(
        F.pmod(F.pmod(F.crc32("doc_id"), F.lit(n_salts)), F.lit(2)) == g0_key)
    assert decode_job.audit(expected, at0) == {"missing": 0, "extra": 0, "ok": True}
    assert 0 < at0.count() < 300

    full = decode_job.decode(spark, root)  # current snapshot: everything
    assert full.count() == 300
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="no snapshot 9"):
        decode_job.decode(spark, root, snapshot_id=9)
