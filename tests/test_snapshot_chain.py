"""Snapshot-chain integrity under the sequential-claim commit protocol
(the create-exclusive of snapshot-{parent+1} IS the commit; CURRENT is
an advisory roll-forward hint): crash-window commits stay visible,
legacy unreachable manifests age out safely, a damaged table refuses
GC instead of self-destructing, and split-document planning survives
expiry."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.fsio import LocalFS
from tokencodec.spark.table import FORMAT, SnapshotTable


def _plant_unswapped_commit(root):
    """Simulate a committer that crashed after create_excl but before
    the CURRENT hint update: a complete manifest at parent+1 the hint
    does not name yet. Under the sequential-claim protocol this IS a
    committed snapshot."""
    tbl = SnapshotTable(root)
    cur = tbl.current_snapshot()
    sid = cur["snapshot_id"] + 1
    snap = {"format": FORMAT, "kind": "tokens", "snapshot_id": sid, "parent_id": cur["snapshot_id"],
            "timestamp_ms": 0, "groups": {**cur["groups"], "gnew": []},
            "new_groups": ["gnew"], "metrics": cur["metrics"]}
    path = os.path.join(root, "_manifest", f"snapshot-{sid:06d}.json")
    with open(path, "w") as f:
        json.dump(snap, f)
    return sid, path


def _plant_legacy_claim(root):
    """A truly unreachable manifest, as only the OLD claim-then-swap
    protocol could leave behind: its id has a gap above current, so
    roll-forward never reaches it and chain() never lists it."""
    tbl = SnapshotTable(root)
    cur = tbl.current_snapshot()
    sid = cur["snapshot_id"] + 2
    claim = {"snapshot_id": sid, "parent_id": None,
             "timestamp_ms": 0, "groups": {"gdead": ["/nonexistent/path"]},
             "new_groups": ["gdead"], "metrics": {}}
    path = os.path.join(root, "_manifest", f"snapshot-{sid:06d}.json")
    with open(path, "w") as f:
        json.dump(claim, f)
    return sid, path


def test_roll_forward_sees_unswapped_commit(spark, tmp_path):
    """A commit whose writer crashed before the hint update is still
    the current snapshot (readers roll forward past the stale hint)."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 100, seed=4)
    encode_job.encode(spark, df, root, commit_groups=1, direct_write=True)
    sid, _ = _plant_unswapped_commit(root)

    cur = SnapshotTable(root).current_snapshot()
    assert cur["snapshot_id"] == sid
    assert "gnew" in cur["groups"]
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]


def test_commit_rebases_onto_unswapped_commit(spark, tmp_path):
    """The next commit chains onto the crash-window commit (no wedge,
    no lost update): it claims sid+1 with the unswapped snapshot as
    parent, keeping its groups."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 100, seed=4)
    encode_job.encode(spark, df, root, commit_groups=1, direct_write=True)
    sid, _ = _plant_unswapped_commit(root)

    tbl = SnapshotTable(root)
    snap = tbl.commit({"extra": []}, metrics={})
    assert snap["snapshot_id"] == sid + 1
    assert snap["parent_id"] == sid
    assert "gnew" in snap["groups"] and "extra" in snap["groups"]
    ids = [s["snapshot_id"] for s in tbl.chain()]
    assert ids[-3:] == [sid - 1, sid, sid + 1]


def test_concurrent_commit_loser_rebases_no_lost_update(spark, tmp_path):
    """Regression for the old protocol's lost-update window: committer
    B wins the id race while A is mid-commit; A must rebase ONTO B's
    snapshot, so the final chain contains BOTH commits regardless of
    hint-write ordering."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 60, seed=7)
    encode_job.encode(spark, df, root, commit_groups=1, direct_write=True)

    class RacingFS(LocalFS):
        """First create_excl call loses: B commits at that exact point
        (after A computed its sid/parent, before A's claim lands)."""
        def __init__(self, root):
            self._root = root
            self._fired = False

        def create_excl(self, path, text):
            if not self._fired:
                self._fired = True
                SnapshotTable(self._root).commit({"from_b": []}, metrics={})
            super().create_excl(path, text)

    tbl_a = SnapshotTable(root, fs=RacingFS(root))
    snap = tbl_a.commit({"from_a": []}, metrics={})
    assert "from_a" in snap["groups"] and "from_b" in snap["groups"]
    final = SnapshotTable(root).current_snapshot()
    assert final["snapshot_id"] == snap["snapshot_id"]
    assert "from_a" in final["groups"] and "from_b" in final["groups"]


def test_current_recovers_without_hint(spark, tmp_path):
    """Deleting CURRENT is recoverable, not data loss: reads re-anchor
    on the highest manifest, and orphan GC still refuses to touch the
    committed chain (ADVICE r3: a missing pointer once turned GC into
    full table erasure)."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 100, seed=4)
    encode_job.encode(spark, df, root, commit_groups=2, direct_write=True)
    before = SnapshotTable(root).current_snapshot()["snapshot_id"]
    os.remove(os.path.join(root, "_manifest", "CURRENT"))

    tbl = SnapshotTable(root)
    assert tbl.current_snapshot()["snapshot_id"] == before
    res = maintenance.remove_orphan_files(root, older_than_hours=0)
    assert res["deleted_claim_manifests"] == 0
    assert res["deleted_orphan_dirs"] == 0
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # and the next commit keeps working (re-writes the hint)
    tbl.commit({"extra": []}, metrics={})
    assert os.path.exists(os.path.join(root, "_manifest", "CURRENT"))


def test_orphan_gc_refuses_without_chain_anchor(tmp_path, monkeypatch):
    """Manifests present but no committed chain derivable (e.g. an
    eventually-consistent listing races the hint read): GC must refuse
    to classify — every manifest would look unreachable and the table
    would be erased (ADVICE r3 repro)."""
    root = str(tmp_path / "t")
    os.makedirs(os.path.join(root, "_manifest"))
    with open(os.path.join(root, "_manifest", "snapshot-000000.json"), "w") as f:
        json.dump({"format": FORMAT, "kind": "tokens", "snapshot_id": 0, "parent_id": None,
                   "timestamp_ms": 0, "groups": {"g0": []},
                   "new_groups": ["g0"], "metrics": {}}, f)
    # sanity: with a readable anchor GC runs fine
    assert maintenance.remove_orphan_files(root, older_than_hours=0) == {
        "deleted_orphan_dirs": 0, "deleted_claim_manifests": 0,
        "deleted_orphan_groupsets": 0}
    monkeypatch.setattr(SnapshotTable, "current_snapshot", lambda self: None)
    with pytest.raises(RuntimeError, match="refusing to GC"):
        maintenance.remove_orphan_files(root, older_than_hours=0)
    # the manifest survived the refusal
    assert os.path.exists(os.path.join(root, "_manifest", "snapshot-000000.json"))


def test_expire_ignores_legacy_claim(spark, tmp_path):
    """expire_snapshots must never treat a legacy unreachable claim as
    the newest snapshot (that deleted the real CURRENT manifest +
    data)."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 200, seed=3)
    encode_job.encode(spark, df, root, commit_groups=2, direct_write=True)
    _plant_legacy_claim(root)

    maintenance.expire_snapshots(root, keep_last=1)
    # the real current snapshot and its data are intact
    assert SnapshotTable(root).current_snapshot() is not None
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]


def test_remove_orphans_ages_out_legacy_claims(spark, tmp_path):
    import time

    root = str(tmp_path / "t")
    df = synth.token_table(spark, 100, seed=4)
    encode_job.encode(spark, df, root, commit_groups=1, direct_write=True)
    _, claim_path = _plant_legacy_claim(root)

    res = maintenance.remove_orphan_files(root, older_than_hours=24)
    assert res["deleted_claim_manifests"] == 0  # age guard: too fresh
    past = time.time() - 48 * 3600
    os.utime(claim_path, (past, past))
    res = maintenance.remove_orphan_files(root, older_than_hours=24)
    assert res["deleted_claim_manifests"] == 1
    assert not os.path.exists(claim_path)
    assert decode_job.audit(df, decode_job.decode(spark, root))["ok"]


def test_split_doc_planning_survives_expiry(spark, tmp_path):
    """Split documents encoded in an early commit must still reassemble
    after the early manifests are expired away: the cumulative
    max_doc_parts_chain metric carries the maximum forward, so decode
    never silently returns partial rows."""
    root = str(tmp_path / "t")
    # commit 0+1: tiny budget forces doc splits (doc_parts > 1)
    df = synth.token_table(spark, 120, seed=5)
    encode_job.encode(spark, df, root, commit_groups=2,
                      max_chunk_tokens=64, direct_write=True)
    assert encode_job.read_pages(spark, root).filter("doc_parts > 1").count() > 0
    # later commit with no splits
    from tokencodec.spark import streaming
    src2 = str(tmp_path / "more")
    synth.token_table(spark, 30, seed=6).write.parquet(src2)
    streaming.encode_stream(spark, src2, root)

    maintenance.expire_snapshots(root, keep_last=1)
    # manifest-only planning still knows about the splits
    snap = SnapshotTable(root).current_snapshot()
    assert snap["metrics"]["max_doc_parts_chain"] > 1
    # and the decoded rows are the full original rows
    both = df.unionByName(spark.read.parquet(src2))
    assert decode_job.audit(both, decode_job.decode(spark, root), strict=True)["ok"]


def test_snapshots_order_numeric(tmp_path):
    """Numeric ordering holds past the 6-digit name padding."""
    root = str(tmp_path / "t")
    tbl = SnapshotTable(root)
    for sid in (999999, 1000000, 5):
        snap = {"snapshot_id": sid, "parent_id": None, "timestamp_ms": 0,
                "groups": {}, "new_groups": [], "metrics": {}}
        with open(os.path.join(root, "_manifest",
                               f"snapshot-{sid:06d}.json"), "w") as f:
            json.dump(snap, f)
    assert [s["snapshot_id"] for s in tbl.snapshots()] == [5, 999999, 1000000]


def test_legacy_stale_parent_claim_does_not_shadow_commit(spark, tmp_path):
    """Review-confirmed repro: the OLD claim-then-swap protocol could
    leave a dead claim at current+1 whose parent_id bypasses the
    committed snapshot (a lost-race rebase that crashed pre-swap).
    Roll-forward must NOT adopt it (that shadowed the committed
    snapshot and exposed its solely-referenced data to GC); commits
    fail loudly until orphan GC ages the claim out, then succeed."""
    import time

    root = str(tmp_path / "t")
    df = synth.token_table(spark, 100, seed=4)
    encode_job.encode(spark, df, root, commit_groups=2, direct_write=True)
    tbl = SnapshotTable(root)
    cur = tbl.current_snapshot()
    sid = cur["snapshot_id"] + 1
    stale = {"snapshot_id": sid, "parent_id": cur["snapshot_id"] - 1,
             "timestamp_ms": 0, "groups": {"gdead": ["/nonexistent"]},
             "new_groups": ["gdead"], "metrics": {}}
    claim_path = os.path.join(root, "_manifest", f"snapshot-{sid:06d}.json")
    with open(claim_path, "w") as f:
        json.dump(stale, f)

    # reads stay anchored on the committed snapshot; data intact
    assert SnapshotTable(root).current_snapshot()["snapshot_id"] \
        == cur["snapshot_id"]
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # expire must not treat the claim as newest either
    maintenance.expire_snapshots(root, keep_last=1)
    assert decode_job.audit(df, decode_job.decode(spark, root), strict=True)["ok"]
    # commits refuse (retrying/skipping would corrupt roll-forward)
    with pytest.raises(RuntimeError, match="stale-parent claim"):
        tbl.commit({"extra": []})
    # age-guarded GC clears it, then commits flow again
    past = time.time() - 48 * 3600
    os.utime(claim_path, (past, past))
    res = maintenance.remove_orphan_files(root, older_than_hours=24)
    assert res["deleted_claim_manifests"] == 1
    snap = SnapshotTable(root).commit({"extra": []})
    assert snap["parent_id"] == cur["snapshot_id"]


def test_torn_claim_ages_out_and_commit_recovers(spark, tmp_path):
    """A torn manifest file at parent+1 (legacy mid-write crash) blocks
    sequential commits; orphan GC must age it out so the table
    self-heals without manual surgery."""
    import time

    root = str(tmp_path / "t")
    df = synth.token_table(spark, 60, seed=8)
    encode_job.encode(spark, df, root, commit_groups=1, direct_write=True)
    tbl = SnapshotTable(root)
    sid = tbl.current_snapshot()["snapshot_id"] + 1
    torn_path = os.path.join(root, "_manifest", f"snapshot-{sid:06d}.json")
    with open(torn_path, "w") as f:
        f.write("not json{")

    with pytest.raises(RuntimeError, match="not a well-formed manifest"):
        tbl.commit({"extra": []})
    res = maintenance.remove_orphan_files(root, older_than_hours=24)
    assert res["deleted_claim_manifests"] == 0  # age guard: too fresh
    past = time.time() - 48 * 3600
    os.utime(torn_path, (past, past))
    res = maintenance.remove_orphan_files(root, older_than_hours=24)
    assert res["deleted_claim_manifests"] == 1
    assert not os.path.exists(torn_path)
    snap = tbl.commit({"extra": []})
    assert snap["snapshot_id"] == sid
