"""Model-based check of sequence-number delete semantics: a seeded
random program of append / delete / upsert / purge / compact / expire
/ resalt ops runs against BOTH the engine table and a plain
{doc_id: tokens} reference model; after every op the decoded table
must equal the model exactly (token streams included), and so must a
doc-id range scan and a doc_id-only projection. Every reader masks
deletes through the same kernels, so the model, not another decode,
is the oracle.

This is the adversarial interleaving coverage the per-feature tests
cannot enumerate: re-adding deleted ids via append vs upsert, deleting
a replacement, purging mid-history, expiring attribution between ops,
migrating the salt scheme mid-stream — any divergence from the
reference model is a masking bug."""

import os
import random
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tokencodec.spark import decode_job, encode_job, maintenance

BUDGET = 512


def _df(spark, docs: dict):
    rows = [(d, list(t), len(t), "web") for d, t in sorted(docs.items())]
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")


def _tokens(rng):
    return tuple(rng.randrange(0, 50000) for _ in range(rng.randrange(5, 30)))


# the doc-id range scan each check compares (a range, not a point:
# a point range is a driver-side lookup)
RANGE = ("doc-000010", "doc-000029")


def _check_model(spark, root, model: dict, where: str, branch=None):
    """Full decode, doc-id range scan and doc_id projection of ``root``
    (on ``branch``) against the ``model``: exact rows and tokens."""
    ok = {"missing": 0, "extra": 0, "ok": True}
    out = decode_job.decode(spark, root, branch=branch)
    assert decode_job.audit(_df(spark, model), out) == ok, f"{where}: full"
    lo, hi = RANGE
    scan = decode_job.decode(spark, root, branch=branch,
                             doc_id_min=lo, doc_id_max=hi)
    in_range = {d: t for d, t in model.items() if lo <= d <= hi}
    assert decode_job.audit(_df(spark, in_range), scan) == ok, \
        f"{where}: range scan"
    ids = decode_job.decode(spark, root, branch=branch, columns=["doc_id"])
    assert sorted(r.doc_id for r in ids.collect()) == sorted(model), \
        f"{where}: doc_id projection"


@pytest.mark.parametrize("seed", [101, 202])
def test_random_program_matches_reference_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / "t")
    all_ids = [f"doc-{i:06d}" for i in range(60)]
    # initial table: 40 docs
    model = {d: _tokens(rng) for d in all_ids[:40]}
    encode_job.encode(spark, _df(spark, model), root, commit_groups=1,
                      n_salts=4, max_chunk_tokens=BUDGET, direct_write=True)
    ever_deleted: set = set()

    def check(step, op):
        _check_model(spark, root, model, f"seed {seed} step {step} after {op}")

    check(0, "init")
    for step in range(1, 13):
        visible = sorted(model)
        hidden = sorted(set(all_ids) - set(model))
        op = rng.choice(["append", "delete", "upsert", "upsert",
                         "purge", "compact", "expire", "resalt"])
        if op == "append" and hidden:
            # fresh ids AND previously deleted ids (the re-add-via-
            # append path: visible again only under sequence masking)
            batch = rng.sample(hidden, min(len(hidden), rng.randrange(1, 6)))
            add = {d: _tokens(rng) for d in batch}
            encode_job.encode(spark, _df(spark, add), root,
                              commit_groups=1, group_prefix=f"a{step}x",
                              max_chunk_tokens=BUDGET, direct_write=True)
            model.update(add)
        elif op == "delete" and visible:
            batch = rng.sample(visible, min(len(visible),
                                            rng.randrange(1, 5)))
            maintenance.delete_docs(spark, root, batch)
            for d in batch:
                del model[d]
            ever_deleted.update(batch)
        elif op == "upsert":
            # mix of currently-visible (replace), deleted (revive), and
            # fresh ids (insert) in one atomic MERGE
            pool = (rng.sample(visible, min(len(visible), 3))
                    + rng.sample(hidden, min(len(hidden), 2)))
            if not pool:
                continue
            batch = {d: _tokens(rng) for d in pool}
            maintenance.upsert_docs(spark, root, _df(spark, batch),
                                    max_chunk_tokens=BUDGET)
            model.update(batch)
        elif op == "purge":
            maintenance.purge_deletes(spark, root)
        elif op == "compact":
            maintenance.compact(spark, root, max_chunk_tokens=BUDGET)
        elif op == "expire":
            maintenance.expire_snapshots(root, keep_last=1)
        elif op == "resalt":
            maintenance.resalt(spark, root,
                               rng.choice([3, 5, 8]),
                               max_chunk_tokens=BUDGET)
        check(step, op)
    # scripted tail so EVERY run exercises both revival paths
    # regardless of what the random program happened to draw:
    # delete two docs, revive one by upsert and one by append
    v = sorted(model)
    a, b = v[0], v[1]
    maintenance.delete_docs(spark, root, [a, b])
    del model[a], model[b]
    check("tail-del", "delete")
    batch = {a: _tokens(rng)}
    maintenance.upsert_docs(spark, root, _df(spark, batch),
                            max_chunk_tokens=BUDGET)
    model.update(batch)
    check("tail-ups", "upsert-revive")
    add = {b: _tokens(rng)}
    encode_job.encode(spark, _df(spark, add), root, commit_groups=1,
                      group_prefix="tailx", max_chunk_tokens=BUDGET,
                      direct_write=True)
    model.update(add)
    check("tail-app", "append-revive")
    assert ever_deleted is not None  # program bookkeeping intact

@pytest.mark.parametrize("seed", [303])
def test_random_branched_program_matches_dual_models(spark, tmp_path, seed):
    """The branched variant: fork mid-program, then ops randomly
    target main or the branch (append/delete/upsert/purge are
    branch-capable), with BOTH sides checked against their own
    reference model after every op — isolation in both directions and
    the fork-carried sub-zero attribution under churn."""
    from tokencodec.spark.table import SnapshotTable
    rng = random.Random(seed)
    root = str(tmp_path / "t")
    all_ids = [f"doc-{i:06d}" for i in range(50)]
    main = {d: _tokens(rng) for d in all_ids[:35]}
    encode_job.encode(spark, _df(spark, main), root, commit_groups=1,
                      n_salts=4, max_chunk_tokens=BUDGET, direct_write=True)
    # a couple of deletes/upserts BEFORE the fork so the fork carries
    # live attribution
    pre = sorted(main)[:4]
    maintenance.delete_docs(spark, root, pre[:2])
    for d in pre[:2]:
        del main[d]
    batch = {pre[2]: _tokens(rng)}
    maintenance.upsert_docs(spark, root, _df(spark, batch),
                            max_chunk_tokens=BUDGET)
    main.update(batch)
    SnapshotTable(root).create_branch("b")
    models = {None: main, "b": dict(main)}  # fork = exact copy

    def check(step):
        for br, model in models.items():
            _check_model(spark, root, model,
                         f"seed {seed} step {step} side {br or 'main'}", br)

    check("fork")
    for step in range(1, 11):
        br = rng.choice([None, "b"])
        model = models[br]
        visible = sorted(model)
        hidden = sorted(set(all_ids) - set(model))
        op = rng.choice(["append", "delete", "upsert", "purge"])
        if op == "append" and hidden:
            add = {d: _tokens(rng)
                   for d in rng.sample(hidden,
                                       min(len(hidden), rng.randrange(1, 4)))}
            encode_job.encode(spark, _df(spark, add), root,
                              commit_groups=1,
                              group_prefix=f"s{step}{br or 'm'}x",
                              max_chunk_tokens=BUDGET, direct_write=True,
                              branch=br)
            model.update(add)
        elif op == "delete" and visible:
            batch = rng.sample(visible, min(len(visible),
                                            rng.randrange(1, 4)))
            maintenance.delete_docs(spark, root, batch, branch=br)
            for d in batch:
                del model[d]
        elif op == "upsert":
            pool = (rng.sample(visible, min(len(visible), 2))
                    + rng.sample(hidden, min(len(hidden), 1)))
            if not pool:
                continue
            batch = {d: _tokens(rng) for d in pool}
            maintenance.upsert_docs(spark, root, _df(spark, batch),
                                    max_chunk_tokens=BUDGET, branch=br)
            model.update(batch)
        elif op == "purge":
            maintenance.purge_deletes(spark, root, branch=br)
        check(step)


def test_file_commits_mask_by_their_own_seq(spark, tmp_path):
    """Every commit here (encodes, deletes, upserts) commits files: each
    masks by its own commit seq (a scan matches its file exactly)
    through deletes, revivals and a delete of an upserted
    replacement."""
    from tokencodec.spark.table import SnapshotTable, is_delete_group
    rng = random.Random(404)
    root = str(tmp_path / "t")
    ids = [f"doc-{i:06d}" for i in range(40)]
    model = {d: _tokens(rng) for d in ids[:36]}
    encode_job.encode(spark, _df(spark, model), root, commit_groups=1,
                      n_salts=4, max_chunk_tokens=BUDGET, direct_write=True)

    def step(where):
        _check_model(spark, root, model, where)

    a, b, c = ids[12], ids[20], ids[25]  # inside RANGE
    maintenance.delete_docs(spark, root, [a, b])
    del model[a], model[b]
    step("delete")
    ups = {b: _tokens(rng), c: _tokens(rng), ids[38]: _tokens(rng)}
    maintenance.upsert_docs(spark, root, _df(spark, ups),
                            max_chunk_tokens=BUDGET)
    model.update(ups)
    step("upsert")
    add = {a: _tokens(rng)}
    encode_job.encode(spark, _df(spark, add), root, commit_groups=1,
                      group_prefix="rx", max_chunk_tokens=BUDGET,
                      direct_write=True)
    model.update(add)
    step("append-revive")
    maintenance.delete_docs(spark, root, [c])
    del model[c]
    step("delete-replacement")
    ups = {c: _tokens(rng)}
    maintenance.upsert_docs(spark, root, _df(spark, ups),
                            max_chunk_tokens=BUDGET)
    model.update(ups)
    step("upsert-revive")
    data = [p for k, ps in SnapshotTable(root).committed_groups().items()
            if not is_delete_group(k) for p in ps]
    assert data and all(p.endswith(".parquet") for p in data)
