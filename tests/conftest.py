import pytest


@pytest.fixture(scope="session")
def spark():
    from tokencodec.spark.session import get_spark
    s = get_spark("tokencodec-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def run_lookup(spark, monkeypatch):
    """``run_lookup(root, **decode_kwargs)`` collects a decode and
    returns (rows, ids of the Spark jobs it ran, data paths it opened
    with pyarrow)."""
    import uuid

    from tokencodec.spark import decode_job, encode_job

    opened = []
    real = encode_job._open_parquet

    def spy(path):
        opened.append(path)
        return real(path)

    monkeypatch.setattr(encode_job, "_open_parquet", spy)
    sc = spark.sparkContext

    def run(root, **kw):
        opened.clear()
        group = f"lookup-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "lookup")
        try:
            rows = decode_job.decode(spark, root, **kw).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return rows, list(sc.statusTracker().getJobIdsForGroup(group)), \
            list(opened)

    return run


def _jvm_commit(spark, df, root, group, n_salts, max_chunk_tokens):
    """Write ``df``'s pages with Spark's JVM parquet writer into one run
    directory and commit the directory as data group ``group``: a
    commit granularity no engine writer makes any more, which snapshot
    expiry still handles. Readers do not serve it (fsck reports the
    path)."""
    from pyspark.sql import functions as F

    from tokencodec.spark import encode_job
    from tokencodec.spark import partition as part
    from tokencodec.spark.table import SnapshotTable

    extra = encode_job.extra_schema_of(df)
    extra_cols = tuple(sorted(extra.items()))
    pages = (part.bucketed(df, n_salts=n_salts)
             .select(encode_job._COLS + [n for n, _ in extra_cols])
             .mapInArrow(encode_job.make_encoder(
                 max_chunk_tokens, uid_prefix=group, extra_cols=extra_cols),
                 encode_job.PAGES_DDL)
             .cache())
    tbl = SnapshotTable(root)
    groups = {group: [tbl.new_run_dir()]}
    pages.write.parquet(groups[group][0])
    m = pages.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.coalesce("doc_part", F.lit(0)) == 0, F.col("n_rows")))
        .alias("n_rows"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.max("doc_parts").alias("max_doc_parts")).first().asDict()
    pages.unpersist()
    m = {k: int(v or 0) for k, v in m.items()}
    m["scheme"] = {"group_scheme": "salt_mod", "n_salts": n_salts,
                   "commit_groups": 1}
    if extra:
        m["extra_schema"] = extra
    return tbl.commit(groups, metrics=m)


@pytest.fixture(scope="session")
def jvm_commit():
    """``jvm_commit(spark, df, root, group, n_salts, max_chunk_tokens)``:
    commit ``df`` as a JVM-written run directory."""
    return _jvm_commit


def _set_format(root, value=None):
    """Rewrite every snapshot manifest of ``root``'s main chain with its
    ``format`` stamp set to ``value``, or removed when None: the chain
    an engine of another table format leaves."""
    import glob
    import json
    import os

    paths = glob.glob(os.path.join(root, "_manifest", "snapshot-*.json"))
    assert paths
    for p in paths:
        with open(p) as f:
            snap = json.load(f)
        snap.pop("format", None)
        if value is not None:
            snap["format"] = value
        with open(p, "w") as f:
            json.dump(snap, f, indent=1)


@pytest.fixture(scope="session")
def set_format():
    """``set_format(root, value=None)``: restamp (or strip) the format
    of every snapshot of ``root``."""
    return _set_format


def _file_state(root):
    """{relative path: (size, mtime_ns, sha256)} of every file under
    ``root``: equal before and after a call that writes nothing."""
    import hashlib
    import os

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            with open(p, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns,
                                             digest)
    return out


@pytest.fixture(scope="session")
def file_state():
    """``file_state(root)``: every file under ``root`` with its size,
    mtime and digest."""
    return _file_state
