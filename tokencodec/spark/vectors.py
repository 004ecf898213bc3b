"""Vector (embedding) table: snapshot-committed float-page storage.

A training-data pipeline carries embedding columns as first-class data
(near-dup mining, retrieval, clustering); the reference stops at
INT32/INT64/BYTE_ARRAY so this is engine-added coverage built on the
round-4 float pages (tokencodec/pageformat.py). Schema is the testdata
`embeddings` table: (vec_id int64, embedding array<float32>,
label int32).

Layout per chunk (one row of the pages parquet):
  page_vec_id : int64 page — ids are range-partitioned and sorted, so
                DELTA usually wins and the per-chunk (vec_id_min,
                vec_id_max) stats are TIGHT, which is what makes id
                pruning real.
  page_emb    : float page over the FLAT value stream. Embeddings are
                fixed-dimension, so offsets are implicit (dim recorded
                per chunk) — no lengths stream at all. Codec
                auto-selects per page: ALP decimal packing for
                quantized embeddings, byte-plane shuffle otherwise;
                decode is bit-exact either way.
  page_label  : int32 page.

Plan shape (scale notes): `repartitionByRange(vec_id)` gives each task
a contiguous id range (one sampling pass — the same trade Spark's own
range writer makes), `sortWithinPartitions` makes chunk stats tight,
and one mapInArrow slices, encodes and writes each task's chunks to one
parquet file (encode_job.write_from_tasks, the token tables' writer:
row-group stats on vec_id_min/vec_id_max); the driver commits the file
list as a snapshot of kind "vectors". Decode prunes chunks on the
(vec_id_min, vec_id_max) stats before any page is parsed.
"""

from __future__ import annotations

import posixpath
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokencodec import pageformat
from tokencodec.spark.encode_job import (meta_batch, pyarrow_fs,
                                         require_direct_write, sum_meta,
                                         task_file_name, write_from_tasks)
from tokencodec.spark.table import SnapshotTable

VEC_PAGES_DDL = (
    "chunk_seq int, chunk_uid string, n_rows int, dim int, "
    "vec_id_min bigint, vec_id_max bigint, "
    "vec_id_codec string, emb_codec string, label_codec string, "
    "raw_bytes bigint, enc_bytes bigint, "
    "page_vec_id binary, page_emb binary, page_label binary"
)

_VEC_TYPES = {
    "chunk_seq": pa.int32(), "chunk_uid": pa.string(),
    "n_rows": pa.int32(), "dim": pa.int32(),
    "vec_id_min": pa.int64(), "vec_id_max": pa.int64(),
    "vec_id_codec": pa.string(), "emb_codec": pa.string(),
    "label_codec": pa.string(),
    "raw_bytes": pa.int64(), "enc_bytes": pa.int64(),
    "page_vec_id": pa.binary(), "page_emb": pa.binary(),
    "page_label": pa.binary(),
}


def _encode_vec_chunk(seq: int, part: int, ids: np.ndarray,
                      values: np.ndarray, dim: int,
                      labels: np.ndarray, group: str = "vectors") -> dict:
    p_id = pageformat.encode_int_page(ids, pageformat.KIND_INT64)
    p_emb = pageformat.encode_float_page(values)
    p_lab = pageformat.encode_int_page(labels, pageformat.KIND_INT32)
    heads = [pageformat.read_header(p) for p in (p_id, p_emb, p_lab)]
    # second-order DEFLATE wrap (codec names keep the inner model)
    p_id, p_emb, p_lab = (pageformat.maybe_deflate(p)
                          for p in (p_id, p_emb, p_lab))
    return {
        "chunk_seq": seq,
        # group-prefixed: appended batches (fresh group names) can never
        # repeat a uid from an earlier commit
        "chunk_uid": f"{group}-p{part:05d}-c{seq:06d}",
        "n_rows": len(ids), "dim": dim,
        "vec_id_min": int(ids.min()) if len(ids) else 0,
        "vec_id_max": int(ids.max()) if len(ids) else 0,
        "vec_id_codec": heads[0]["codec_name"],
        "emb_codec": heads[1]["codec_name"],
        "label_codec": heads[2]["codec_name"],
        "raw_bytes": len(ids) * 12 + values.nbytes,
        "enc_bytes": len(p_id) + len(p_emb) + len(p_lab),
        "page_vec_id": p_id, "page_emb": p_emb, "page_label": p_lab,
    }


def _encode_batches(chunk_rows: int, group: str = "vectors"):
    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        part = TaskContext.get().partitionId() if TaskContext.get() else 0
        seq = 0
        rows: list[dict] = []
        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = np.asarray(batch.column(0), dtype=np.int64)
            emb = batch.column(1)
            if isinstance(emb, pa.ChunkedArray):
                emb = emb.combine_chunks()
            if emb.null_count:
                raise ValueError("embedding column must be non-null")
            offsets = np.asarray(emb.offsets, dtype=np.int64)
            lens = np.diff(offsets)
            values = np.asarray(emb.values, dtype=np.float32)
            labels = np.asarray(batch.column(2), dtype=np.int64)
            # chunks are uniform-dimension (offsets stay implicit); a
            # batch mixing dimensions is segmented at each dim change
            bounds = [0, *(np.flatnonzero(np.diff(lens)) + 1),
                      batch.num_rows] if batch.num_rows else [0, 0]
            for s, e in zip(bounds[:-1], bounds[1:]):
                if s == e:
                    continue
                dim = int(lens[s])
                for a in range(s, e, chunk_rows):
                    b = min(e, a + chunk_rows)
                    rows.append(_encode_vec_chunk(
                        seq, part, ids[a:b],
                        values[offsets[a]:offsets[b]], dim, labels[a:b],
                        group=group))
                    seq += 1
                    if len(rows) >= 8:
                        yield _rows_to_batch(rows)
                        rows.clear()
        if rows:
            yield _rows_to_batch(rows)

    return fn


def _rows_to_batch(rows: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[k] for r in rows], type=t)
         for k, t in _VEC_TYPES.items()],
        names=list(_VEC_TYPES))


def _file_writer(run_dir: str, chunk_rows: int, group: str,
                 parquet_codec: str):
    """mapInArrow function for write_from_tasks: encode this task's
    rows and write its chunks to one parquet file under ``run_dir``, one
    row group per pages batch; yield its summary row
    (encode_job.META_FIELDS)."""
    encode = _encode_batches(chunk_rows, group)

    def write(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq
        pafs_fs, base = pyarrow_fs(run_dir)
        name = task_file_name()
        w = None
        agg = {"n_chunks": 0, "n_rows": 0, "raw_bytes": 0, "enc_bytes": 0}
        try:
            for b in encode(it):
                if w is None:
                    w = pq.ParquetWriter(
                        posixpath.join(base, name), b.schema,
                        compression=parquet_codec, filesystem=pafs_fs)
                w.write_batch(b)
                agg["n_chunks"] += b.num_rows
                for k in ("n_rows", "raw_bytes", "enc_bytes"):
                    agg[k] += pc.sum(b.column(k)).as_py()
        finally:
            if w is not None:
                w.close()
        if w is not None:
            yield meta_batch([{"grp": 0, "file": posixpath.join(run_dir, name),
                               "n_tokens": 0, "max_doc_parts": 0, **agg}])

    return write


def encode_vectors(spark: SparkSession, df: DataFrame, out_root: str,
                   chunk_rows: int = 4096, n_partitions: int | None = None,
                   parquet_codec: str = "zstd",
                   group: str = "vectors") -> dict:
    """Encode a (vec_id, embedding, label) DataFrame into a snapshot
    table under ``out_root``; returns its commit's snapshot (the
    current one when ``group`` is already committed; read_vector_pages
    lists the pages). ``group`` names the commit group: the default
    makes re-runs idempotent; incremental ingestion appends further
    batches under fresh group names (readers see the union;
    decode_changes consumes just the new ones). A token table's root is
    refused before the write job runs."""
    tbl = SnapshotTable(out_root)
    snap = tbl.current_snapshot()
    tbl.require_kind(snap, "vectors")
    if snap is not None and group in tbl.resolve_groups(snap):
        return snap
    require_direct_write(out_root, "encode_vectors")
    if n_partitions is None:
        try:
            n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        except ValueError:  # 'auto' under AQE coalescing
            n_partitions = spark.sparkContext.defaultParallelism
    src = (df.select(F.col("vec_id").cast("bigint"),
                     F.col("embedding").cast("array<float>"),
                     F.col("label").cast("int"))
           .repartitionByRange(n_partitions, "vec_id")
           .sortWithinPartitions("vec_id"))
    meta = write_from_tasks(tbl, src, lambda run_dir: _file_writer(
        run_dir, chunk_rows, group, parquet_codec))
    return tbl.commit({group: sorted(r["file"] for r in meta)},
                      metrics={**sum_meta(meta), "op": "encode_vectors"},
                      kind="vectors")


def read_vector_pages(spark: SparkSession, root: str,
                      snapshot_id: int | None = None,
                      paths: list[str] | None = None) -> DataFrame:
    if paths is not None:
        if not paths:
            return spark.createDataFrame([], VEC_PAGES_DDL)
        return spark.read.schema(VEC_PAGES_DDL).parquet(*paths)
    tbl = SnapshotTable(root)
    paths = tbl.data_paths(snapshot_id)
    if not paths:
        snap = (tbl.current_snapshot() if snapshot_id is None
                else tbl.snapshot(snapshot_id))
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {root}")
        return spark.createDataFrame([], VEC_PAGES_DDL)
    return spark.read.schema(VEC_PAGES_DDL).parquet(*paths)


def _decode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    from tokencodec.spark.decode_job import _binary_views

    for batch in it:
        if batch.num_rows == 0:
            continue
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        views = {c: _binary_views(batch.column(idx[c]))
                 for c in ("page_vec_id", "page_emb", "page_label")}
        dims = batch.column(idx["dim"])
        for r in range(batch.num_rows):
            pages = {c: data[off[r]:off[r + 1]]
                     for c, (off, data) in views.items()}
            ids = pageformat.decode_int_page(pages["page_vec_id"])
            values = pageformat.decode_float_page(pages["page_emb"])
            labels = pageformat.decode_int_page(pages["page_label"])
            dim = dims[r].as_py()
            n = len(ids)
            offsets = (np.arange(n + 1, dtype=np.int32) * dim)
            emb = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(values, type=pa.float32()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), emb,
                 pa.array(labels.astype(np.int32), type=pa.int32())],
                names=["vec_id", "embedding", "label"])


def decode_vectors(spark: SparkSession, root: str,
                   vec_id_min: int | None = None,
                   vec_id_max: int | None = None,
                   snapshot_id: int | None = None,
                   paths: list[str] | None = None,
                   tag: str | None = None) -> DataFrame:
    """Exact inverse of encode_vectors (bit-identical embeddings).
    Id-range predicates prune whole chunks on the recorded stats before
    any page is parsed, then re-filter rows. ``tag`` time-travels by
    name (same SnapshotTable refs as the token table)."""
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass either tag or snapshot_id, not both")
        snapshot_id = SnapshotTable(root).tag(tag)["snapshot_id"]
    pages = read_vector_pages(spark, root, snapshot_id=snapshot_id,
                              paths=paths)
    if vec_id_min is not None:
        pages = pages.filter(F.col("vec_id_max") >= vec_id_min)
    if vec_id_max is not None:
        pages = pages.filter(F.col("vec_id_min") <= vec_id_max)
    out = (pages.select("dim", "page_vec_id", "page_emb", "page_label")
           .mapInArrow(_decode_batches,
                       "vec_id bigint, embedding array<float>, label int"))
    if vec_id_min is not None:
        out = out.filter(F.col("vec_id") >= vec_id_min)
    if vec_id_max is not None:
        out = out.filter(F.col("vec_id") <= vec_id_max)
    return out


def decode_vector_changes(spark: SparkSession, root: str,
                          since_snapshot_id: int) -> DataFrame:
    """Incremental append scan over a vector table (same manifest-walk
    semantics as decode_job.decode_changes): only batches committed
    after ``since_snapshot_id``, O(new vectors) per cycle."""
    from tokencodec.spark.decode_job import changed_paths
    return decode_vectors(spark, root,
                          paths=changed_paths(root, since_snapshot_id))
