"""The fast source reads its splits in range tasks sized to whole waves
of cores: no Exchange before the encode shuffle, splits assigned by
footer bytes, and each source file opened once per task."""

import random
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tokencodec.spark import encode_job, synth


def _write_source(d, n_files, docs_per_file, row_group_size):
    d.mkdir()
    for f in range(n_files):
        ids = np.arange(f * docs_per_file, (f + 1) * docs_per_file)
        pq.write_table(pa.Table.from_batches([synth.generate_batch(5, ids)]),
                       str(d / f"part-{f}.parquet"),
                       row_group_size=row_group_size)
    return str(d)


def test_pack_source_plans_no_exchange(spark, tmp_path):
    src = _write_source(tmp_path / "src", 2, 120, 40)
    plan = (encode_job.pack_source(spark, src)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Range" in plan


@pytest.mark.parametrize("n_files,row_group_size,k", [
    (1, 60, 2),   # 2 splits on 8 cores: one task per split
    (3, 10, 8),   # 36 splits: one wave of 8 tasks
])
def test_encode_from_parquet_one_shuffle(spark, tmp_path, n_files,
                                         row_group_size, k):
    src = _write_source(tmp_path / "src", n_files, 120, row_group_size)
    sc = spark.sparkContext
    splits = encode_job.parquet_splits(src, return_stats=True)[0]
    assert len(encode_job.assign_splits(splits, sc.defaultParallelism)) == k

    group = f"encode-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "encode")
    try:
        encode_job.encode_from_parquet(spark, src, str(tmp_path / "enc"),
                                       commit_groups=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    # adaptive execution runs the one shuffle-map stage as its own job;
    # the result job lists it again (skipped) beside the write stage
    assert len(jobs) == 2
    (source_stage,) = tracker.getJobInfo(jobs[0]).stageIds
    assert tracker.getStageInfo(source_stage).numTasks == k
    assert len(tracker.getJobInfo(jobs[1]).stageIds) == 2


def _sized(n, rng):
    return [(f"f{i % 7}", i, rng.randint(1, 40 << 20)) for i in range(n)]


@pytest.mark.parametrize("n,cores", [(1, 4), (3, 8), (9, 4), (40, 4),
                                     (200, 8), (500, 16)])
def test_assign_splits_lpt(n, cores):
    rng = random.Random(n * 31 + cores)
    splits = _sized(n, rng)
    tasks = encode_job.assign_splits(splits, cores)

    n_bytes = sum(b for _, _, b in splits)
    waves = -(-max(cores, n_bytes // encode_job.TARGET_TASK_BYTES) // cores)
    assert len(tasks) == min(n, cores * waves)
    if len(tasks) < n:
        assert len(tasks) % cores == 0

    assigned = sorted(s for t in tasks for s in t)
    assert assigned == sorted((p, rg) for p, rg, _ in splits)

    size = {(p, rg): b for p, rg, b in splits}
    loads = [sum(size[s] for s in t) for t in tasks]
    assert max(loads) <= n_bytes / len(tasks) + max(size.values())


def test_assign_splits_bare_splits_weigh_the_same():
    splits = [(f"f{i}", 0) for i in range(10)]
    tasks = encode_job.assign_splits(splits, 4)
    assert sorted(len(t) for t in tasks) == [2, 2, 3, 3]
    assert sorted(s for t in tasks for s in t) == sorted(splits)
    assert encode_job.assign_splits(splits[:3], 4) == [[s] for s in splits[:3]]


def test_read_and_pack_opens_each_file_once(tmp_path, monkeypatch):
    src = _write_source(tmp_path / "src", 3, 60, 10)
    splits = encode_job.parquet_splits(src)
    opened = []
    real = encode_job._open_parquet

    def spy(path):
        opened.append(path)
        return real(path)

    monkeypatch.setattr(encode_job, "_open_parquet", spy)
    rng = random.Random(3)
    for task in encode_job.assign_splits(
            rng.sample(splits, len(splits)), 2):
        opened.clear()
        batch = pa.RecordBatch.from_arrays(
            [pa.array([p for p, _ in task]),
             pa.array([rg for _, rg in task], pa.int32())],
            names=["path", "rg"])
        rows = sum(b.num_rows for b in encode_job._read_and_pack(iter([batch])))
        assert rows == 10 * len(task)
        assert sorted(opened) == sorted({p for p, _ in task})
