"""Point and batch lookups run the chunk reader on the driver and run
no Spark job.

Every lookup here must equal a full decode() — a Spark scan — filtered
to the same ids, bit-identical per token array, packed and unpacked,
and must leave no job in its job group. The table mixes what a lookup
has to get right: direct-written files of several appends, split
documents, an extra column added by a later commit, pending sequence-aware deletes with an upsert re-add,
a tag, a branch and absent ids.
"""

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from tokencodec.spark import decode_job, encode_job, maintenance, synth
from tokencodec.spark.table import SnapshotTable


def _key(r, cols) -> tuple:
    out = []
    for c in cols:
        v = r[c]
        if c == "tokens" and not isinstance(v, (bytes, bytearray)):
            v = np.asarray(v, dtype=np.int32).tobytes()
        out.append(bytes(v) if isinstance(v, bytearray) else v)
    return tuple(out)


def _rows(rows, cols) -> dict:
    """{doc_id: row values}; duplicates fail loudly."""
    out = {}
    for r in rows:
        assert r.doc_id not in out, f"duplicate row {r.doc_id}"
        out[r.doc_id] = _key(r, cols)
    return out


def _with_lang(df):
    return df.withColumn(
        "lang", F.concat(F.lit("L"), (F.col("n_tok") % 5).cast("string")))


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("driver_lookup") / "t")
    src = synth.token_table(spark, 320, seed=41).cache()
    lens = sorted(r.n_tok for r in src.select("n_tok").collect())
    budget = lens[-4]  # the three longest documents are split
    ids = sorted(r.doc_id for r in src.select("doc_id").collect())
    split = [r.doc_id for r in src.orderBy(F.desc("n_tok")).limit(3).collect()]
    cut = ids[240]
    encode_job.encode(spark, src.filter(F.col("doc_id") < cut), root,
                      commit_groups=3, n_salts=8, max_chunk_tokens=budget,
                      direct_write=True)
    tbl = SnapshotTable(root)
    tbl.create_tag("v1")
    # an append in one task adds the extra column
    encode_job.encode(spark, _with_lang(src.filter(F.col("doc_id") >= cut)),
                      root, commit_groups=1, group_prefix="cls",
                      max_chunk_tokens=budget, partitions=1)
    before = tbl.current_snapshot()["snapshot_id"]
    gone, readded, replaced = ids[5], ids[7], ids[250]
    maintenance.delete_docs(spark, root, [gone, readded, split[0]])
    maintenance.upsert_docs(
        spark, root,
        _with_lang(synth.token_table(spark, 320, seed=99)
                   .filter(F.col("doc_id").isin([readded, replaced]))),
        max_chunk_tokens=budget)
    tbl.create_branch("b")
    extra = synth.token_table(spark, 40, seed=7).withColumn(
        "doc_id", F.concat(F.lit("z-"), "doc_id"))
    encode_job.encode(spark, _with_lang(extra), root, commit_groups=1,
                      n_salts=8, group_prefix="br", branch="b",
                      direct_write=True)
    br_ids = sorted(r.doc_id for r in extra.select("doc_id").collect())
    pool = sorted({*split, gone, readded, replaced, ids[0], ids[100],
                   ids[-1], br_ids[0], br_ids[-1], ids[3] + "x", "a"})
    return {"root": root, "before": before,
            "pool": pool, "split": split, "gone": gone,
            "readded": readded, "replaced": replaced, "br": br_ids}


@pytest.mark.parametrize("packed", [False, True])
@pytest.mark.parametrize("view", ["now", "before", "tag", "branch"])
def test_lookups_equal_full_decode(spark, table, run_lookup, view, packed):
    root = table["root"]
    kw = {"now": {}, "before": {"snapshot_id": table["before"]},
          "tag": {"tag": "v1"}, "branch": {"branch": "b"}}[view]
    full = decode_job.decode(spark, root, packed=packed, **kw)
    cols = full.columns
    assert ("lang" in cols) == (view != "tag")  # added after the tag
    want = _rows(full.collect(), cols)
    pool = table["pool"]
    for d in pool:
        rows, jobs, _ = run_lookup(root, doc_id_min=d, doc_id_max=d,
                                   packed=packed, **kw)
        assert jobs == [], (d, jobs)
        assert _rows(rows, cols) == {k: v for k, v in want.items()
                                     if k == d}, d
    rows, jobs, _ = run_lookup(root, doc_ids=pool, packed=packed, **kw)
    assert jobs == []
    got = _rows(rows, cols)
    assert got == {k: v for k, v in want.items() if k in set(pool)}
    if view == "now":
        assert table["gone"] not in got and table["split"][0] not in got
        assert table["readded"] in got  # the upsert re-add stays visible
    if view == "before":
        assert table["gone"] in got and table["split"][0] in got
    assert (table["br"][0] in got) == (view == "branch")


@pytest.mark.parametrize("columns", [["n_tok", "lang"], ["lang"],
                                     ["source", "doc_id"]])
def test_projected_lookup(spark, table, run_lookup, columns):
    root, pool = table["root"], table["pool"]
    full = decode_job.decode(spark, root, columns=["doc_id"] + [
        c for c in columns if c != "doc_id"])
    want = {r.doc_id: _key(r, columns) for r in full.collect()
            if r.doc_id in set(pool)}
    rows, jobs, _ = run_lookup(root, doc_ids=pool, columns=columns)
    assert jobs == []
    assert Counter(_key(r, columns) for r in rows) == Counter(want.values())
    assert all(r.__fields__ == columns for r in rows)


def test_row_filters_apply_to_lookups(spark, table, run_lookup):
    root, pool = table["root"], table["pool"]
    full = decode_job.decode(spark, root, columns=["doc_id", "n_tok",
                                                   "source"]).collect()
    mid = sorted(r.n_tok for r in full)[len(full) // 2]
    kw = {"sources": ["web", "code"], "n_tok_min": mid}
    want = {r.doc_id for r in full if r.doc_id in set(pool)
            and r.source in kw["sources"] and r.n_tok >= mid}
    rows, jobs, _ = run_lookup(root, doc_ids=pool,
                               columns=["doc_id"], **kw)
    assert jobs == []
    assert {r.doc_id for r in rows} == want


def test_classic_table_lookups(spark, tmp_path, run_lookup):
    """A table whose pages are one encode task's single file (the shape
    a classic one-job write had, now task-written like every table):
    split documents and a pending delete, and the report sizes what
    each lookup reads."""
    root = str(tmp_path / "t")
    df = synth.token_table(spark, 80, seed=13).cache()
    encode_job.encode(spark, df, root, commit_groups=1, n_salts=4,
                      max_chunk_tokens=64, partitions=1)
    assert len(SnapshotTable(root).data_paths()) == 1
    big = df.orderBy(F.desc("n_tok")).first().doc_id
    ids = sorted(r.doc_id for r in df.select("doc_id").collect())
    dead = ids[1]
    maintenance.delete_docs(spark, root, [dead])
    rep = decode_job.lookup_report(root, [big])
    assert rep["row_groups_kept"] >= 1 and rep["bytes_kept"] > 0
    cols = ["doc_id", "tokens", "n_tok", "source"]
    want = _rows(df.filter(F.col("doc_id") != dead).collect(), cols)
    for d in (big, ids[0], dead, "zz"):
        rows, jobs, _ = run_lookup(root, doc_id_min=d, doc_id_max=d)
        assert jobs == []
        assert _rows(rows, cols) == {k: v for k, v in want.items()
                                     if k == d}
    q = [big, ids[0], dead, ids[-1]]
    rows, jobs, _ = run_lookup(root, doc_ids=q, packed=True)
    assert jobs == []
    assert _rows(rows, cols) == {k: v for k, v in want.items() if k in q}


def test_empty_lookup_runs_no_job(spark, table, run_lookup):
    rows, jobs, opened = run_lookup(table["root"], doc_ids=[])
    assert rows == [] and jobs == [] and opened == []


def test_lookup_refuses_hadoop_only_root(spark):
    with pytest.raises(ValueError, match=r"s3://b/t"):
        decode_job.decode(spark, "s3a://b/t", doc_ids=["x"])
