"""Spilled group manifests (Iceberg manifest-list analog).

A snapshot that inlines the whole {group: paths} map is O(total groups)
of JSON rewritten per commit — fine at sandbox scale, fatal at the
10^12-sequence design scale (~10^5-10^6 groups/files would make every
commit rewrite tens of MB of metadata). Iceberg's answer is the
manifest list: snapshots reference immutable, shared manifest files,
each entry carrying stats for pruning. Ours: when the inline map
outgrows a threshold the commit spills it to an immutable
``_manifest/groupsets/groupset-*.json`` file and the snapshot
references it as ``{"name", "n_groups", "min", "max"}``; appends keep
referencing the parent's set files verbatim (O(delta) metadata per
commit), replace-commits rewrite only the set files whose keys
actually changed, and once the set list itself grows past a cap the
commit consolidates into key-ordered, range-disjoint set files
(Iceberg's manifest-merge).

Reference parity note: parquet-hs reads a single self-contained footer
per file (/root/reference/src/Parquet/Reader.hs:197-213) and never
faces multi-commit metadata growth; this layer is where our table
format has to go beyond it.
"""

import json
import os
import posixpath

import pytest

from tokencodec.spark.table import FORMAT, SnapshotTable


def _mk(tmp_path, name="t"):
    root = str(tmp_path / name)
    return SnapshotTable(root)


def _groups(n, pref="g", tmp=None):
    """n fake groups; paths are plain strings unless tmp is given, in
    which case real files are created (for GC tests)."""
    out = {}
    for i in range(n):
        if tmp is None:
            out[f"{pref}{i:04d}"] = [f"/data/{pref}{i:04d}.parquet"]
        else:
            d = tmp / "data" / f"run-{pref}{i:04d}"
            d.mkdir(parents=True, exist_ok=True)
            f = d / "part-0.parquet"
            f.write_bytes(b"x")
            out[f"{pref}{i:04d}"] = [str(f)]
    return out


def _set_names(snap):
    return [e["name"] for e in snap.get("group_manifests", [])]


@pytest.fixture(autouse=True)
def low_spill(monkeypatch):
    monkeypatch.setenv("TOKENCODEC_MANIFEST_SPILL_GROUPS", "8")


def test_small_commits_stay_inline(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(3))
    snap = tbl.current_snapshot()
    assert "group_manifests" not in snap
    assert len(snap["groups"]) == 3
    assert tbl.committed_groups() == _groups(3)


def test_spill_over_threshold(tmp_path):
    tbl = _mk(tmp_path)
    g = _groups(20)
    tbl.commit(g)
    snap = tbl.current_snapshot()
    # the inline map was spilled: snapshot holds a reference, not 20 keys
    assert snap["groups"] == {}
    sets = snap["group_manifests"]
    assert len(sets) == 1
    assert sets[0]["n_groups"] == 20
    assert sets[0]["min"] == "g0000" and sets[0]["max"] == "g0019"
    # the set file is immutable JSON holding exactly the map
    gs_path = posixpath.join(tbl.root, "_manifest", "groupsets",
                             sets[0]["name"])
    assert json.loads(tbl.fs.read_text(gs_path)) == g
    # resolution is lossless
    assert tbl.committed_groups() == g
    assert sorted(tbl.data_paths()) == sorted(p for ps in g.values() for p in ps)


def test_append_reuses_parent_sets(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    sets0 = tbl.current_snapshot()["group_manifests"]
    tbl.commit(_groups(2, pref="h"))
    snap = tbl.current_snapshot()
    # parent's spilled set is referenced verbatim; the 2 new groups stay
    # inline (below threshold) — the commit wrote O(delta) metadata
    assert snap["group_manifests"] == sets0
    assert set(snap["groups"]) == {"h0000", "h0001"}
    assert len(tbl.committed_groups()) == 22


def test_inline_respill_folds_new_groups(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    tbl.commit(_groups(9, pref="h"))  # 9 > threshold 8: spills again
    snap = tbl.current_snapshot()
    assert snap["groups"] == {}
    assert len(snap["group_manifests"]) == 2
    assert len(tbl.committed_groups()) == 29


def test_duplicate_key_refused_across_sets(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    with pytest.raises(ValueError, match="already committed"):
        tbl.commit({"g0005": ["/other"]})


def test_replace_rewrites_only_affected_set(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))          # set A (keys g*)
    tbl.commit(_groups(9, pref="h"))  # set B (keys h*)
    nameA, nameB = _set_names(tbl.current_snapshot())
    tbl.commit({"g0003": ["/rewritten.parquet"]}, replace=True)
    new_names = _set_names(tbl.current_snapshot())
    assert nameB in new_names         # untouched set shared verbatim
    assert nameA not in new_names     # dirty set rewritten under a new name
    got = tbl.committed_groups()
    assert got["g0003"] == ["/rewritten.parquet"]
    assert got["h0004"] == _groups(9, pref="h")["h0004"]
    # the old set file still exists (old snapshots resolve through it)
    old = posixpath.join(tbl.root, "_manifest", "groupsets", nameA)
    assert tbl.fs.exists(old)
    assert tbl.committed_groups(snapshot_id=0)["g0003"] != ["/rewritten.parquet"]


def test_replace_identical_value_shares_set(tmp_path):
    tbl = _mk(tmp_path)
    g = _groups(20)
    tbl.commit(g)
    g2 = dict(g)
    g2["g0000"] = ["/new.parquet"]
    tbl.commit(g2, replace=True)
    # maintenance passes the FULL map with mostly-unchanged values: a
    # no-op replace of everything rewrites no set file
    tbl.commit(tbl.committed_groups(), replace=True)
    assert _set_names(tbl.current_snapshot()) == _set_names(tbl.snapshot(1))
    assert tbl.committed_groups()["g0000"] == ["/new.parquet"]


def test_replace_unknown_group_refused(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    with pytest.raises(ValueError, match="unknown group"):
        tbl.commit({"nope": ["/x"]}, replace=True)


def test_consolidation_caps_set_list(tmp_path, monkeypatch):
    monkeypatch.setenv("TOKENCODEC_MANIFEST_MERGE_SETS", "4")
    tbl = _mk(tmp_path)
    for i in range(6):  # each commit spills one 9-group set
        tbl.commit(_groups(9, pref=f"p{i}x"))
    snap = tbl.current_snapshot()
    # the 5th spill hit the cap and merged everything into range-
    # disjoint consolidated sets; the list stays bounded
    assert len(snap["group_manifests"]) < 6
    assert len(tbl.committed_groups()) == 54
    es = snap["group_manifests"]
    for a, b in zip(es, es[1:]):  # key-ordered, non-overlapping ranges
        assert a["max"] < b["min"]


def test_branch_fork_references_sets(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    tbl.create_branch("audit")
    br = SnapshotTable(tbl.root, branch="audit")
    fork = br.snapshot(0)
    # the fork references the base's set files instead of inlining 20 keys
    assert fork["groups"] == {}
    assert fork["group_manifests"] == tbl.current_snapshot()["group_manifests"]
    assert br.committed_groups() == tbl.committed_groups()
    br.commit(_groups(2, pref="b"))
    assert len(br.committed_groups()) == 22
    assert len(tbl.committed_groups()) == 20


def test_publish_branch_delta_with_sets(tmp_path):
    from tokencodec.spark import maintenance
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20), metrics={
        "table_totals": {"n_chunks": 0, "n_rows": 0, "n_tokens": 0,
                         "enc_bytes": 0}})
    tbl.create_branch("wap")
    br = SnapshotTable(tbl.root, branch="wap")
    br.commit(_groups(2, pref="b"), metrics={
        "table_totals": {"n_chunks": 2, "n_rows": 2, "n_tokens": 10,
                         "enc_bytes": 5}})
    maintenance.publish_branch(tbl.root, "wap")
    got = tbl.committed_groups()
    assert len(got) == 22 and "b0000" in got


def test_expire_deletes_dead_sets(tmp_path):
    tbl = _mk(tmp_path, "t")
    g = _groups(20, tmp=tmp_path / "t")
    tbl.commit(g)
    names0 = _set_names(tbl.current_snapshot())
    # rewrite every group (fresh set file), then expire history
    g2 = {k: [v[0] + ".new"] for k, v in g.items()}
    for k in g2:
        open(g2[k][0], "wb").write(b"y")
    tbl.commit(g2, replace=True)
    from tokencodec.spark.maintenance import expire_snapshots
    rep = expire_snapshots(tbl.root, keep_last=1)
    assert rep["expired_snapshots"] == 1
    gdir = posixpath.join(tbl.root, "_manifest", "groupsets")
    left = tbl.fs.listdir(gdir)
    assert names0[0] not in left          # dead set deleted with its snapshot
    assert _set_names(tbl.current_snapshot())[0] in left
    assert len(tbl.committed_groups()) == 20  # table still resolves


def test_expire_keeps_tagged_sets(tmp_path):
    tbl = _mk(tmp_path, "t")
    g = _groups(20, tmp=tmp_path / "t")
    tbl.commit(g)
    tbl.create_tag("release")
    names0 = _set_names(tbl.current_snapshot())
    g2 = {k: [v[0] + ".new"] for k, v in g.items()}
    for k in g2:
        open(g2[k][0], "wb").write(b"y")
    tbl.commit(g2, replace=True)
    from tokencodec.spark.maintenance import expire_snapshots
    expire_snapshots(tbl.root, keep_last=1)
    gdir = posixpath.join(tbl.root, "_manifest", "groupsets")
    assert names0[0] in tbl.fs.listdir(gdir)  # tag pins its set files
    assert len(tbl.committed_groups(
        snapshot_id=tbl.tag("release")["snapshot_id"])) == 20


def test_orphan_gc_ages_unreferenced_sets(tmp_path):
    import time
    tbl = _mk(tmp_path, "t")
    tbl.commit(_groups(20, tmp=tmp_path / "t"))
    gdir = posixpath.join(tbl.root, "_manifest", "groupsets")
    # a leaked set file (lost commit race / crash before claim)
    leak = posixpath.join(gdir, "groupset-deadbeef0000.json")
    tbl.fs.write_atomic(leak, json.dumps({"zzz": ["/nope"]}))
    old = time.time() - 48 * 3600
    os.utime(leak, (old, old))
    from tokencodec.spark.maintenance import remove_orphan_files
    rep = remove_orphan_files(tbl.root, older_than_hours=24)
    assert rep["deleted_orphan_groupsets"] == 1
    assert not tbl.fs.exists(leak)
    # the live set survived
    assert len(tbl.committed_groups()) == 20


def test_orphan_gc_keeps_young_and_referenced_sets(tmp_path):
    tbl = _mk(tmp_path, "t")
    tbl.commit(_groups(20, tmp=tmp_path / "t"))
    gdir = posixpath.join(tbl.root, "_manifest", "groupsets")
    leak = posixpath.join(gdir, "groupset-deadbeef0000.json")
    tbl.fs.write_atomic(leak, json.dumps({"zzz": ["/nope"]}))
    from tokencodec.spark.maintenance import remove_orphan_files
    rep = remove_orphan_files(tbl.root, older_than_hours=24)
    assert rep["deleted_orphan_groupsets"] == 0  # too young
    assert tbl.fs.exists(leak)


def test_missing_set_file_is_loud(tmp_path):
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    name = _set_names(tbl.current_snapshot())[0]
    tbl.fs.delete(posixpath.join(tbl.root, "_manifest", "groupsets", name))
    with pytest.raises(Exception, match="groupset"):
        tbl.committed_groups()


def test_engine_end_to_end_spilled(tmp_path, spark):
    """encode -> decode -> fsck -> compact across the spill threshold:
    the whole engine stack resolves groups through set files."""
    from tokencodec.spark import decode_job, encode_job, fsck, synth
    src = str(tmp_path / "src")
    synth.token_table(spark, 240, seed=7).write.parquet(src)
    root = str(tmp_path / "tbl")
    encode_job.encode_from_parquet(spark, src, root, commit_groups=12)
    tbl = SnapshotTable(root)
    assert len(tbl.committed_groups()) == 12
    assert tbl.current_snapshot().get("group_manifests")
    ok = decode_job.audit(encode_job.pack_source(spark, src),
                          decode_job.decode(spark, root, packed=True))
    assert ok["ok"]
    rep = fsck.fsck(spark, root)
    assert rep.filter("NOT ok").count() == 0
    from tokencodec.spark.maintenance import compact
    compact(spark, root)
    ok2 = decode_job.audit(encode_job.pack_source(spark, src),
                           decode_job.decode(spark, root, packed=True))
    assert ok2["ok"]


def test_rewrite_manifests_consolidates(tmp_path, monkeypatch):
    from tokencodec.spark.maintenance import rewrite_manifests
    tbl = _mk(tmp_path)
    for i in range(4):  # 4 spilled sets, below the default merge cap
        tbl.commit(_groups(9, pref=f"p{i}x"))
    assert len(tbl.current_snapshot()["group_manifests"]) == 4
    before = tbl.committed_groups()
    snap = rewrite_manifests(tbl.root)
    es = snap["group_manifests"]
    assert len(es) == 1 and snap["groups"] == {}
    assert snap["metrics"]["op"] == "rewrite_manifests"
    assert tbl.committed_groups() == before          # groups unchanged
    assert tbl.committed_groups(snapshot_id=2) != before  # history intact
    # already consolidated -> no-op, no new commit
    assert rewrite_manifests(tbl.root)["snapshot_id"] == snap["snapshot_id"]


def test_rewrite_manifests_noop_small_table(tmp_path):
    from tokencodec.spark.maintenance import rewrite_manifests
    tbl = _mk(tmp_path)
    tbl.commit(_groups(3))
    snap = rewrite_manifests(tbl.root)
    assert snap["snapshot_id"] == 0  # nothing to do: inline is optimal


def test_commit_race_loser_rebases_across_sets(tmp_path):
    """A lost optimistic-concurrency race on a spilled table: the loser
    re-reads the winner (which referenced the same set files), re-bases,
    and lands its append on the next id with BOTH deltas resolved."""
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))  # spilled set
    parent = tbl.current_snapshot()
    winner = {"format": FORMAT, "kind": "tokens", "snapshot_id": parent["snapshot_id"] + 1,
              "parent_id": parent["snapshot_id"],
              "timestamp_ms": 0,
              "groups": dict(parent["groups"], w0=["/w0.parquet"]),
              "new_groups": ["w0"], "metrics": parent["metrics"]}
    if parent.get("group_manifests"):
        winner["group_manifests"] = list(parent["group_manifests"])
    real_excl = tbl.fs.create_excl
    state = {"planted": False}

    def racy(path, text):
        # a concurrent committer claims the id first, AFTER the loser
        # read its parent but BEFORE its create-exclusive lands
        if not state["planted"] and "/snapshot-" in path:
            state["planted"] = True
            real_excl(tbl._snap_path(winner["snapshot_id"]),
                      json.dumps(winner))
        return real_excl(path, text)

    tbl.fs.create_excl = racy
    try:
        snap = tbl.commit({"l0": ["/l0.parquet"]})
    finally:
        tbl.fs.create_excl = real_excl
    assert snap["snapshot_id"] == winner["snapshot_id"] + 1
    got = tbl.committed_groups()
    assert got["w0"] == ["/w0.parquet"] and got["l0"] == ["/l0.parquet"]
    assert len(got) == 22


def test_commit_race_loser_reclaims_spilled_sets(tmp_path):
    """A losing attempt that had already spilled new set files deletes
    them on the retry path (they are uuid-named and referenced by
    nothing): after the commit lands, the groupsets dir holds EXACTLY
    the files referenced by the snapshot chain — no orphan waits for
    age-guarded GC. (Crash-mid-commit leaks still fall to orphan GC,
    covered by test_orphan_gc_ages_unreferenced_sets.)"""
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))  # parent already owns spilled sets
    parent = tbl.current_snapshot()
    winner = {"format": FORMAT, "kind": "tokens", "snapshot_id": parent["snapshot_id"] + 1,
              "parent_id": parent["snapshot_id"],
              "timestamp_ms": 0,
              "groups": dict(parent["groups"], w0=["/w0.parquet"]),
              "new_groups": ["w0"], "metrics": parent["metrics"],
              "group_manifests": list(parent["group_manifests"])}
    real_excl = tbl.fs.create_excl
    state = {"planted": False}

    def racy(path, text):
        if not state["planted"] and "/snapshot-" in path:
            state["planted"] = True
            real_excl(tbl._snap_path(winner["snapshot_id"]),
                      json.dumps(winner))
        return real_excl(path, text)

    tbl.fs.create_excl = racy
    try:
        # 9 new groups + winner's inline w0 > threshold 8 -> BOTH the
        # losing attempt and the winning retry spill a fresh set file
        snap = tbl.commit(_groups(9, pref="l"))
    finally:
        tbl.fs.create_excl = real_excl
    assert snap["snapshot_id"] == winner["snapshot_id"] + 1
    got = tbl.committed_groups()
    assert got["w0"] == ["/w0.parquet"] and len(got) == 30
    referenced = set()
    for sid in range(snap["snapshot_id"] + 1):
        s = tbl._read_snap(sid)
        referenced |= {e["name"] for e in s.get("group_manifests", [])}
    on_disk = {n for n in tbl.fs.listdir(tbl.groupsets_dir())
               if n.startswith("groupset-")}
    assert on_disk == referenced, (on_disk - referenced)


def test_commit_race_duplicate_after_rebase_refused(tmp_path):
    """The loser's group key already landed via the winner: the rebase
    must refuse (duplicate-key guard against the RESOLVED key space)."""
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))
    parent = tbl.current_snapshot()
    winner = {"format": FORMAT, "kind": "tokens", "snapshot_id": parent["snapshot_id"] + 1,
              "parent_id": parent["snapshot_id"],
              "timestamp_ms": 0,
              "groups": dict(parent["groups"], w0=["/theirs.parquet"]),
              "new_groups": ["w0"], "metrics": parent["metrics"]}
    if parent.get("group_manifests"):
        winner["group_manifests"] = list(parent["group_manifests"])
    real_excl = tbl.fs.create_excl
    state = {"planted": False}

    def racy(path, text):
        if not state["planted"] and "/snapshot-" in path:
            state["planted"] = True
            real_excl(tbl._snap_path(winner["snapshot_id"]),
                      json.dumps(winner))
        return real_excl(path, text)

    tbl.fs.create_excl = racy
    try:
        with pytest.raises(ValueError, match="already committed"):
            tbl.commit({"w0": ["/mine.parquet"]})
    finally:
        tbl.fs.create_excl = real_excl
    assert tbl.committed_groups()["w0"] == ["/theirs.parquet"]


def test_ambiguous_commit_self_win_keeps_sets(tmp_path):
    """A store-level retry can surface a conditional PUT that actually
    LANDED as a conflict (response lost, client retried, got 412/409).
    The committer must recognize its own manifest at the contested id
    as a WIN: return it, keep its freshly spilled set files (they are
    referenced!), and not retry into a duplicate-key failure."""
    tbl = _mk(tmp_path)
    tbl.commit(_groups(20))  # parent owns spilled sets
    real_excl = tbl.fs.create_excl

    def landed_but_reported_lost(path, text):
        if "/snapshot-" in path:
            real_excl(path, text)  # the PUT actually succeeded...
            raise FileExistsError(path)  # ...but the client saw a loss
        return real_excl(path, text)

    tbl.fs.create_excl = landed_but_reported_lost
    try:
        snap = tbl.commit(_groups(9, pref="w"))  # spills a fresh set
    finally:
        tbl.fs.create_excl = real_excl
    assert snap["snapshot_id"] == 1
    got = tbl.committed_groups()
    assert len(got) == 29 and "w0000" in got
    # every referenced set file is on disk (nothing was reclaimed)
    for e in snap.get("group_manifests", []):
        assert tbl.fs.exists(
            posixpath.join(tbl.groupsets_dir(), e["name"])), e
    # and reads resolve cleanly through them
    assert len(SnapshotTable(str(tmp_path / "t")).committed_groups()) == 29
