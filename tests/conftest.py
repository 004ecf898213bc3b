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
