"""Atomic upsert (MERGE by doc_id) and sequence-number delete
semantics: a delete masks only rows committed strictly before it
(Iceberg's equality-delete sequence rule), so an upsert — new data +
delete manifest in ONE commit — replaces rows atomically, a deleted
doc re-added later becomes visible again, purge keeps replacements
while removing superseded copies physically, and expire_snapshots
persists attribution (table.group_seqs side file) so none of this
degrades when history is truncated. A chain of an older table format
(no attribution) is refused, and a pending delete without attribution
is a fault.

The reference is a read-only decoder (no write surface at all); this
is engine-added Iceberg-parity semantics over the snapshot table."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, fsck, maintenance, synth
from tokencodec.spark.table import SnapshotTable

BUDGET = 2048


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "enc")
    df = synth.token_table(spark, 400, seed=91).cache()
    encode_job.encode(spark, df, root, commit_groups=2, n_salts=4,
                      max_chunk_tokens=BUDGET, direct_write=True)
    return root, df


def _targets(df, k=10):
    return [r[0] for r in df.select("doc_id").orderBy("doc_id")
            .limit(k).collect()]


def _replaced(df, targets):
    """Expected table state: targets carry reversed tokens."""
    return df.withColumn(
        "tokens", F.when(F.col("doc_id").isin(targets),
                         F.reverse("tokens")).otherwise(F.col("tokens")))


def test_upsert_replaces_rows_atomically(spark, table):
    root, df = table
    targets = _targets(df)
    pre = SnapshotTable(root).current_snapshot()["snapshot_id"]
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    snap = maintenance.upsert_docs(spark, root, rep)
    # ONE commit: data group + delete manifest at the same seq
    assert snap["snapshot_id"] == pre + 1
    assert snap["metrics"]["op"] == "upsert"
    assert snap["metrics"]["n_delete_ids"] == len(targets)
    out = decode_job.decode(spark, root)
    assert decode_job.audit(_replaced(df, targets), out) == {
        "missing": 0, "extra": 0, "ok": True}
    # time travel to the pre-upsert snapshot shows the ORIGINAL rows
    old = decode_job.decode(spark, root, snapshot_id=pre)
    assert decode_job.audit(df, old) == {"missing": 0, "extra": 0, "ok": True}


def test_delete_then_readd_is_visible(spark, table):
    """The sequence rule's headline: a doc deleted at seq s and
    re-encoded at seq > s is VISIBLE (the old engine masked the re-add
    forever until purge)."""
    root, df = table
    gone = _targets(df, 3)
    maintenance.delete_docs(spark, root, gone)
    assert (decode_job.decode(spark, root)
            .filter(F.col("doc_id").isin(gone)).count() == 0)
    maintenance.upsert_docs(spark, root,
                            df.filter(F.col("doc_id").isin(gone)))
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0,
                                         "ok": True}


def test_upsert_split_doc(spark, tmp_path):
    """Replacing a doc that splits across chunks (and whose OLD version
    was split) reassembles exactly once from the new parts."""
    df = synth.token_table(spark, 60, seed=13).cache()
    root = str(tmp_path / "t")
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=64)
    big = df.orderBy(F.desc("n_tok")).select("doc_id").first()[0]
    rep = (df.filter(F.col("doc_id") == big)
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep, max_chunk_tokens=64)
    out = decode_job.decode(spark, root)
    assert decode_job.audit(_replaced(df, [big]), out) == {
        "missing": 0, "extra": 0, "ok": True}


def test_purge_keeps_replacements(spark, table):
    root, df = table
    targets = _targets(df)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep)
    snap = maintenance.purge_deletes(spark, root)
    assert snap["metrics"]["op"] == "purge"
    # superseded copies are physically gone, replacements intact
    out = decode_job.decode(spark, root)
    assert decode_job.audit(_replaced(df, targets), out) == {
        "missing": 0, "extra": 0, "ok": True}
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0
    # the purged table has exactly ONE physical copy per target id
    pages = encode_job.read_pages(spark, root)
    one = decode_job.decode(spark, root, doc_ids=[targets[0]])
    assert one.count() == 1


def test_expire_persists_attribution(spark, table):
    """Chain truncation must not resurrect the global-masking rule: the
    group-seqs side file carries first-commit attribution forward, so a
    re-add stays visible after every pre-upsert snapshot expired."""
    root, df = table
    gone = _targets(df, 2)
    maintenance.delete_docs(spark, root, gone)
    maintenance.upsert_docs(spark, root,
                            df.filter(F.col("doc_id").isin(gone)))
    maintenance.expire_snapshots(root, keep_last=1)
    tbl = SnapshotTable(root)
    side = tbl.read_group_seqs()
    assert side, "attribution side file missing after expiry"
    out = decode_job.decode(spark, root)
    assert decode_job.audit(df, out) == {"missing": 0, "extra": 0,
                                         "ok": True}
    # purge applies physically; the NEXT expiry drops the stale file
    # (empty del groups mask nothing and hold no attribution alive)
    maintenance.purge_deletes(spark, root)
    maintenance.expire_snapshots(root, keep_last=1)
    assert not tbl.fs.exists(tbl._group_seqs_path())
    out2 = decode_job.decode(spark, root)
    assert decode_job.audit(df, out2) == {"missing": 0, "extra": 0,
                                          "ok": True}


def _strip_attribution(root):
    """Drop every snapshot's new_groups: no delete group keeps its
    first-commit attribution."""
    tbl = SnapshotTable(root)
    for name in tbl.fs.listdir(tbl.manifest_dir):
        if name.startswith("snapshot-"):
            p = os.path.join(tbl.manifest_dir, name)
            s = json.loads(tbl.fs.read_text(p))
            s.pop("new_groups", None)
            tbl.fs.write_atomic(p, json.dumps(s))
    assert tbl.group_seqs() == {}


def test_unattributed_delete_is_a_fault(spark, table, set_format):
    """A pending delete whose attribution is gone (stripped new_groups,
    no side file) is a fault every read reports by group, never a
    global mask; the same chain without the format stamp, as engines
    before sequence tracking wrote it, is refused outright."""
    root, df = table
    gone = _targets(df, 2)
    snap = maintenance.delete_docs(spark, root, gone)
    encode_job.encode(spark, df.filter(F.col("doc_id").isin(gone)), root,
                      commit_groups=1, n_salts=4, group_prefix="readd",
                      max_chunk_tokens=BUDGET, direct_write=True)
    _strip_attribution(root)
    del_group = next(k for k in snap["new_groups"] if k.startswith("del:"))
    for read in (lambda: decode_job.decode(spark, root),
                 lambda: decode_job.decode(spark, root, doc_ids=gone),
                 lambda: maintenance.compact(spark, root)):
        with pytest.raises(RuntimeError, match=del_group):
            read()
    set_format(root)
    with pytest.raises(ValueError, match="re-encode"):
        decode_job.decode(spark, root)


def test_upsert_incremental_changes_sees_new_rows(spark, table):
    root, df = table
    since = SnapshotTable(root).current_snapshot()["snapshot_id"]
    targets = _targets(df, 4)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep)
    inc = decode_job.decode_changes(spark, root, since)
    assert decode_job.audit(rep, inc) == {"missing": 0, "extra": 0,
                                          "ok": True}


def test_upsert_extra_column_evolves_schema(spark, table):
    root, df = table
    targets = _targets(df, 3)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("lang", F.lit("en")))
    maintenance.upsert_docs(spark, root, rep)
    out = decode_job.decode(spark, root, columns=["doc_id", "lang"])
    got = dict(out.filter(F.col("doc_id").isin(targets)).collect())
    assert got == {t: "en" for t in targets}
    # rows predating the column decode it as NULL
    assert (out.filter(~F.col("doc_id").isin(targets))
            .filter(F.col("lang").isNotNull()).count() == 0)


def test_upsert_refusals(spark, table, tmp_path):
    root, df = table
    with pytest.raises(ValueError, match="empty upsert"):
        maintenance.upsert_docs(spark, root, df.filter(F.lit(False)))
    with pytest.raises(ValueError, match="core columns"):
        maintenance.upsert_docs(spark, root, df.select("doc_id", "n_tok"))
    bare = str(tmp_path / "none")
    with pytest.raises(FileNotFoundError):
        maintenance.upsert_docs(spark, bare, df)


def test_upsert_chain_stacks(spark, table):
    """Two upserts of the SAME ids: the newest wins; purge then leaves
    exactly the newest version."""
    root, df = table
    t = _targets(df, 2)
    v2 = (df.filter(F.col("doc_id").isin(t))
          .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, v2)
    v3 = (df.filter(F.col("doc_id").isin(t))
          .withColumn("tokens", F.slice(F.col("tokens"), 1, 5))
          .withColumn("n_tok", F.least(F.col("n_tok"), F.lit(5))))
    maintenance.upsert_docs(spark, root, v3)
    exp = (df.filter(~F.col("doc_id").isin(t)).unionByName(v3))
    out = decode_job.decode(spark, root)
    assert decode_job.audit(exp, out) == {"missing": 0, "extra": 0,
                                          "ok": True}
    maintenance.purge_deletes(spark, root)
    out2 = decode_job.decode(spark, root)
    assert decode_job.audit(exp, out2) == {"missing": 0, "extra": 0,
                                           "ok": True}
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_compact_after_upsert_keeps_replacements(spark, tmp_path):
    """compact purges pending deletes in its merge pass (seq-aware
    since the upsert landed): a compaction run over an upserted table must merge
    chunks without resurrecting superseded copies or dropping
    replacements."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 300, seed=23).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=2000, direct_write=True)
    targets = _targets(df, 6)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep, max_chunk_tokens=2000)
    before = encode_job.read_pages(spark, root).count()
    maintenance.compact(spark, root, max_chunk_tokens=2000)
    after = encode_job.read_pages(spark, root).count()
    assert after < before
    out = decode_job.decode(spark, root)
    assert decode_job.audit(_replaced(df, targets), out) == {
        "missing": 0, "extra": 0, "ok": True}
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_point_lookup_of_replaced_doc_with_active_deletes(spark, table):
    """Salt+Bloom point lookup composes with sequence-aware masking:
    looking up a replaced id while its delete manifest is still
    unpurged returns exactly the REPLACEMENT row."""
    root, df = table
    t = _targets(df, 1)[0]
    rep = (df.filter(F.col("doc_id") == t)
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep)
    out = decode_job.decode(spark, root, doc_id_min=t, doc_id_max=t)
    assert decode_job.audit(rep, out) == {"missing": 0, "extra": 0,
                                          "ok": True}
    batch = decode_job.decode(spark, root, doc_ids=[t, "doc-absent"])
    assert decode_job.audit(rep, batch) == {"missing": 0, "extra": 0,
                                            "ok": True}


def test_branch_fork_carries_upsert_attribution(spark, table):
    """A branch forked AFTER an upsert must see exactly the base
    state: the fork writes a group-seqs side file with carried
    attribution remapped below zero (branch ids restart), so the
    un-purged delete manifest keeps masking only strictly-older
    copies — not the replacements. A branch-side upsert then works on
    its own timeline without touching main."""
    root, df = table
    targets = _targets(df, 3)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep)
    SnapshotTable(root).create_branch("audit")
    out = decode_job.decode(spark, root, branch="audit")
    assert decode_job.audit(_replaced(df, targets), out) == {
        "missing": 0, "extra": 0, "ok": True}
    # branch-side upsert: a v2 replacement visible on the branch only
    v2 = (df.filter(F.col("doc_id") == targets[0])
          .withColumn("tokens", F.slice(F.col("tokens"), 1, 3))
          .withColumn("n_tok", F.least(F.col("n_tok"), F.lit(3))))
    maintenance.upsert_docs(spark, root, v2, branch="audit")
    br = decode_job.decode(spark, root, branch="audit")
    exp_br = (_replaced(df, targets)
              .filter(F.col("doc_id") != targets[0]).unionByName(v2))
    assert decode_job.audit(exp_br, br) == {"missing": 0, "extra": 0,
                                            "ok": True}
    main = decode_job.decode(spark, root)
    assert decode_job.audit(_replaced(df, targets), main) == {
        "missing": 0, "extra": 0, "ok": True}


def test_upsert_refuses_unattributed_deletes(spark, tmp_path, table,
                                            set_format, file_state):
    """A chain whose deletes carry no sequence attribution is one an
    engine before sequence tracking wrote: upsert refuses it as an older
    table format and writes nothing. On this engine's chains every
    delete is attributed, so an upsert re-adding deleted ids shows them
    again, before and after a purge."""
    import shutil

    root, df = table
    gone = _targets(df, 2)
    maintenance.delete_docs(spark, root, gone)
    old = str(tmp_path / "old")
    shutil.copytree(root, old)
    _strip_attribution(old)
    set_format(old)
    before = file_state(old)
    with pytest.raises(ValueError, match="re-encode"):
        maintenance.upsert_docs(
            spark, old, df.filter(F.col("doc_id").isin(gone)))
    assert file_state(old) == before
    maintenance.upsert_docs(spark, root,
                            df.filter(F.col("doc_id").isin(gone)))
    assert decode_job.audit(df, decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}
    maintenance.purge_deletes(spark, root)
    assert decode_job.audit(df, decode_job.decode(spark, root)) == {
        "missing": 0, "extra": 0, "ok": True}


def test_duplicate_branch_fork_cannot_clobber_attribution(spark, table):
    """Carried attribution lives INSIDE the fork manifest (atomic with
    the branch's existence): a duplicate create_branch — even after
    main purged its deletes and expired its own attribution — fails
    loudly and leaves the live branch's masking semantics untouched."""
    root, df = table
    targets = _targets(df, 3)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep)
    SnapshotTable(root).create_branch("audit")
    # main moves on: purge + expire erase main-side attribution needs
    maintenance.purge_deletes(spark, root)
    maintenance.expire_snapshots(root, keep_last=1)
    with pytest.raises(ValueError, match="already exists"):
        SnapshotTable(root).create_branch("audit")
    out = decode_job.decode(spark, root, branch="audit")
    assert decode_job.audit(_replaced(df, targets), out) == {
        "missing": 0, "extra": 0, "ok": True}


def test_branch_purge_is_isolated(spark, table):
    """purge_deletes(branch=): a branch that audited an upsert cleans
    up its own delete manifests — rewritten files land on the branch
    chain only, replacements survive (seq-aware in the branch's
    remapped timeline), and main's references and rows are untouched."""
    root, df = table
    SnapshotTable(root).create_branch("audit")
    targets = _targets(df, 4)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    maintenance.upsert_docs(spark, root, rep, branch="audit")
    snap = maintenance.purge_deletes(spark, root, branch="audit")
    assert snap["metrics"]["op"] == "purge"
    # branch: replacements intact, superseded copies physically gone
    br = decode_job.decode(spark, root, branch="audit")
    assert decode_job.audit(_replaced(df, targets), br) == {
        "missing": 0, "extra": 0, "ok": True}
    assert (decode_job.decode(spark, root, branch="audit",
                              doc_ids=[targets[0]]).count() == 1)
    # main: bit-identical original rows, no del manifests, no new refs
    main = decode_job.decode(spark, root)
    assert decode_job.audit(df, main) == {"missing": 0, "extra": 0,
                                          "ok": True}
    tbl = SnapshotTable(root)
    assert not any(k.startswith("del:") for k in tbl.committed_groups())
    assert fsck.fsck(spark, root).filter(~F.col("ok")).count() == 0


def test_upsert_chunks_match_fixed_count_encode(spark, table, tmp_path):
    """upsert_docs leaves its shuffle to adaptive execution; the
    replacement chunks are byte-identical to a fixed-count encode of
    the same rows under the table's scheme."""
    from tokencodec.spark.table import is_delete_group
    root, df = table
    targets = _targets(df, k=40)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    snap = maintenance.upsert_docs(spark, root, rep,
                                   max_chunk_tokens=BUDGET)
    out = decode_job.decode(spark, root)
    assert decode_job.audit(_replaced(df, targets), out) == {
        "missing": 0, "extra": 0, "ok": True}
    groups = SnapshotTable(root).resolve_groups(snap)
    paths = [p for k in snap["new_groups"] if not is_delete_group(k)
             for p in groups[k]]
    ref = str(tmp_path / "ref")
    encode_job.encode(spark, rep, ref, commit_groups=1, n_salts=4,
                      max_chunk_tokens=BUDGET, partitions=3)
    h = F.md5(F.concat("page_tokens", "page_doc_id", "page_n_tok",
                       "page_source"))

    def digests(pages):
        return sorted(tuple(r) for r in
                      pages.select("bucket", "salt", h.alias("h")).collect())

    assert (digests(encode_job.read_pages(spark, root, paths=paths))
            == digests(encode_job.read_pages(spark, ref)))


def test_upserted_docs_narrow(spark, table, run_lookup):
    """An upsert commits task-written files, so a point lookup of an
    upserted id narrows them by their footers like any other file. Each
    encoder input batch becomes one row group; small Arrow batches give
    this small upsert the many row groups a large one has."""
    import pyarrow.parquet as pq

    root, df = table
    targets = _targets(df, k=60)
    rep = (df.filter(F.col("doc_id").isin(targets))
           .withColumn("tokens", F.reverse("tokens")))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    try:
        snap = maintenance.upsert_docs(spark, root, rep)
    finally:
        spark.conf.set(conf, old)
    files = next(ps for k, ps in snap["groups"].items()
                 if k.startswith("ups"))
    assert files and all(p.endswith(".parquet") for p in files)
    written = sum(pq.ParquetFile(p).metadata.num_row_groups for p in files)
    d = targets[len(targets) // 2]
    plan = decode_job.lookup_report(root, [d])
    assert plan["row_groups_kept"] is not None
    kept = sum(len(rgs) for p, rgs in zip(plan["paths"], plan["row_groups"])
               if p in files)
    assert 0 < kept < written
    rows, jobs, _ = run_lookup(root, doc_id_min=d, doc_id_max=d)
    want = rep.filter(F.col("doc_id") == d).first()
    assert jobs == [] and [(r.doc_id, list(r.tokens)) for r in rows] == \
        [(d, list(want.tokens))]
