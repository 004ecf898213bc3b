"""Encode job: token table -> encoded pages + lineage + metrics, with
snapshot commits.

Pipeline (SURVEY.md §3 "our engine's lifecycle"):
  source df -> add (bucket, salt) [no shuffle] -> hash repartition on
  (bucket, salt) [the one shuffle: encode_from_parquet's source is
  range tasks with no Exchange; a one-partition source skips it] ->
  sortWithinPartitions ->
  mapInArrow vectorized encode [JVM->Python Arrow boundary] -> each
  task writes its pages parquet files with pyarrow -> the driver
  commits the collected file list [atomic manifest create].

Salts are split into ``commit_groups`` groups (salt % groups), each
committed separately, so a killed job resumes from the last committed
snapshot re-doing only missing groups.

One output row per chunk: four encoded pages (tokens / doc_id / n_tok /
source — our analog of the reference's column chunks,
/root/reference/src/Parquet/Types/ColumnChunk.hs:19-30) plus lineage
(bucket, salt, chunk_seq, doc-id range) and size metrics.
"""

from __future__ import annotations

import heapq
import json
import os
import posixpath
import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokencodec import bloom, codecs, pageformat
from tokencodec.spark import partition as part
from tokencodec.spark.table import SnapshotTable, merge_extra_schema  # noqa: F401

# the pages schema every task writer stamps and read_pages reads with
PAGES_DDL = (
    "bucket int, salt int, chunk_seq int, chunk_uid string, "
    "n_rows int, n_tokens bigint, doc_id_min string, doc_id_max string, "
    "doc_part int, doc_parts int, split_uid string, "
    "tokens_codec string, doc_id_codec string, n_tok_codec string, source_codec string, "
    "raw_bytes bigint, enc_bytes bigint, "
    "page_tokens binary, page_doc_id binary, page_n_tok binary, page_source binary, "
    "n_tok_min int, n_tok_max int, source_set string, "
    # schema evolution (round 5): per-chunk pages of user-added columns,
    # keyed by column name; chunks from commits predating a column
    # simply lack its key and decode it as NULL — Iceberg's add-column
    # back-fill semantics
    "extra_pages map<string,binary>, "
    # per-chunk doc-id Bloom filter (tokencodec/bloom.py): point lookups
    # prune chunks the id provably isn't in; NULL (an empty chunk) =
    # unknown = keep
    "doc_bloom binary"
)

# Spark type name -> page kind for supported extra columns
_EXTRA_KINDS = {"int": pageformat.KIND_INT32, "bigint": pageformat.KIND_INT64,
                "string": pageformat.KIND_STRING,
                "float": pageformat.KIND_FLOAT32,
                "double": pageformat.KIND_FLOAT64}
_EXTRA_NP_FLOAT = {"float": np.float32, "double": np.float64}

# per-chunk distinct-source lists longer than this are recorded as NULL
# ("unknown"): an over-mixed chunk carries no pruning power anyway
_SOURCE_SET_CAP = 8

_COLS = [*part.CORE_COLS, "bucket", "salt"]


def _str_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return pageformat._arrow_str_buffers(arr)


def encode_extra_page(arr, spark_type: str) -> bytes:
    """One page for an extra column's chunk values: strings through the
    string-page codecs, ints through the int-page codecs at the declared
    width (int -> INT32 pages, bigint -> INT64 pages — the width is in
    the page header, which is how decode widens int chunks under a
    later bigint declaration). Arrays carrying NULLs (nullable source
    extras, or compaction merging a pre-column chunk into a post-column
    one) encode the non-null values and a NULLABLE validity wrap —
    dense columns never pay for the bitmap."""
    validity = None
    if isinstance(arr, (pa.Array, pa.ChunkedArray)):
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if arr.null_count:
            validity = arr.is_valid().to_numpy(zero_copy_only=False)
            arr = arr.drop_null()
    if spark_type == "string":
        o, d = _str_buffers(arr.cast(pa.string()))
        page = pageformat.encode_string_page(o, d)
    elif spark_type in _EXTRA_NP_FLOAT:
        vals = (arr if isinstance(arr, np.ndarray)
                else arr.to_numpy(zero_copy_only=False)).astype(
                    _EXTRA_NP_FLOAT[spark_type])
        # bit-exact ALP / byte-shuffle auto-selection, like embedding
        # leaves (pageformat.encode_float_page)
        page = pageformat.encode_float_page(vals, _EXTRA_KINDS[spark_type])
    else:
        vals = (arr if isinstance(arr, np.ndarray)
                else arr.to_numpy(zero_copy_only=False)).astype(np.int64)
        page = pageformat.encode_int_page(vals, _EXTRA_KINDS[spark_type])
    if validity is not None:
        page = pageformat.wrap_nullable(page, validity)
    return pageformat.maybe_deflate(page)


def _encode_chunk(bucket: int, salt: int, seq: int,
                  doc_id: pa.Array, tok_values: np.ndarray,
                  n_tok: np.ndarray, source: pa.Array,
                  doc_part: int = 0, doc_parts: int = 1,
                  uid_prefix: str = "g0", split_uid: str = "",
                  extras: dict[str, bytes] | None = None) -> dict:
    from tokencodec import grouped
    p_tokens = grouped.encode_tokens_column(tok_values, n_tok)
    p_ntok = pageformat.encode_int_page(n_tok, pageformat.KIND_INT32)
    do, dd = _str_buffers(doc_id)
    p_doc = pageformat.encode_string_page(do, dd)
    so, sd = _str_buffers(source)
    p_src = pageformat.encode_string_page(so, sd)
    heads = [pageformat.read_header(p) for p in (p_tokens, p_doc, p_ntok, p_src)]
    raw = sum(h["raw_size"] for h in heads)
    # second-order DEFLATE wrap at final assembly (codec names below
    # keep reporting the INNER codec — the model that shaped the page)
    p_tokens, p_doc, p_ntok, p_src = (
        pageformat.maybe_deflate(p) for p in (p_tokens, p_doc, p_ntok, p_src))
    enc = sum(len(p) for p in (p_tokens, p_doc, p_ntok, p_src))
    if extras:
        raw += sum(pageformat.read_header(p)["raw_size"]
                   for p in extras.values())
        enc += sum(len(p) for p in extras.values())
    n_rows = len(n_tok)
    # true value range, NOT first/last in sort order (rows are ordered
    # n_tok-major) — pruning correctness depends on this
    mm = pc.min_max(doc_id) if n_rows else None
    srcs = pc.unique(source).to_pylist() if n_rows else []
    # JSON array, not a joined string: a source value containing the
    # join delimiter would split into wrong set members at decode and
    # silently prune away every chunk holding only that source
    source_set = (json.dumps(sorted(srcs))
                  if 0 < len(srcs) <= _SOURCE_SET_CAP else None)
    return {
        "bucket": bucket, "salt": salt, "chunk_seq": seq,
        # table-unique: prefixed with the commit-group key, so streaming
        # micro-batches (each their own group) can never repeat a uid
        "chunk_uid": f"{uid_prefix}-b{bucket:02d}-s{salt:04d}-c{seq:06d}",
        "n_rows": n_rows, "n_tokens": int(len(tok_values)),
        "doc_id_min": mm["min"].as_py() if n_rows else "",
        "doc_id_max": mm["max"].as_py() if n_rows else "",
        "doc_part": doc_part, "doc_parts": doc_parts, "split_uid": split_uid,
        "tokens_codec": heads[0]["codec_name"], "doc_id_codec": heads[1]["codec_name"],
        "n_tok_codec": heads[2]["codec_name"], "source_codec": heads[3]["codec_name"],
        "raw_bytes": raw, "enc_bytes": enc,
        "page_tokens": p_tokens, "page_doc_id": p_doc,
        "page_n_tok": p_ntok, "page_source": p_src,
        "n_tok_min": int(n_tok.min()) if n_rows else 0,
        "n_tok_max": int(n_tok.max()) if n_rows else 0,
        "extra_pages": sorted((extras or {}).items()),
        "source_set": source_set,
        # pruning metadata like doc_id_min/max, NOT page bytes: excluded
        # from enc_bytes (compression ratio measures the data pages)
        "doc_bloom": bloom.build(doc_id.to_numpy(zero_copy_only=False))
                     if n_rows else None,
    }


# Arrow analog of PAGES_DDL: _rows_to_batch builds batches with it and
# the task writers stamp it on every parquet file they write, so files
# of any engine version read identically under read_pages' explicit
# schema.
_PAGES_TYPES = {
    "bucket": pa.int32(), "salt": pa.int32(), "chunk_seq": pa.int32(),
    "chunk_uid": pa.string(), "n_rows": pa.int32(), "n_tokens": pa.int64(),
    "doc_id_min": pa.string(), "doc_id_max": pa.string(),
    "doc_part": pa.int32(), "doc_parts": pa.int32(), "split_uid": pa.string(),
    "tokens_codec": pa.string(), "doc_id_codec": pa.string(),
    "n_tok_codec": pa.string(), "source_codec": pa.string(),
    "raw_bytes": pa.int64(), "enc_bytes": pa.int64(),
    "page_tokens": pa.binary(), "page_doc_id": pa.binary(),
    "page_n_tok": pa.binary(), "page_source": pa.binary(),
    "n_tok_min": pa.int32(), "n_tok_max": pa.int32(),
    "source_set": pa.string(),
    "extra_pages": pa.map_(pa.string(), pa.binary()),
    "doc_bloom": pa.binary(),
}


def _rows_to_batch(rows: list[dict]) -> pa.RecordBatch:
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    arrays = []
    names = []
    for k, t in _PAGES_TYPES.items():
        names.append(k)
        arrays.append(pa.array(cols[k], type=t))
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _tokens_as_values_offsets(batch: pa.RecordBatch, name: str) -> tuple[np.ndarray, np.ndarray]:
    """Extract (flat int32 values, int64 offsets) from either a
    list<int32> column or a binary column of little-endian int32 blobs
    (the fast transport used by encode_from_parquet)."""
    col = batch.column(batch.schema.names.index(name))
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type):
        buffers = col.buffers()
        width = 8 if pa.types.is_large_binary(col.type) else 4
        odt = np.int64 if width == 8 else np.int32
        offsets = np.frombuffer(buffers[1], dtype=odt,
                                count=len(col) + 1 + col.offset)
        offsets = offsets[col.offset: col.offset + len(col) + 1].astype(np.int64)
        data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.empty(0, np.uint8)
        data = data[offsets[0]: offsets[-1]]
        values = data.view("<i4")
        return values, (offsets - offsets[0]) // 4
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = col.values.to_numpy(zero_copy_only=False)
    return values, offsets


def make_encoder(max_chunk_tokens: int = part.MAX_CHUNK_TOKENS,
                 tokens_col: str = "tokens",
                 uid_prefix: str | None = None, commit_groups: int = 1,
                 extra_cols: tuple = (), group_prefix: str = "g"):
    """mapInArrow function: bucketed batches -> encoded chunk rows.

    Carries buffered rows across Arrow batches inside one Spark
    partition; chunk boundaries depend only on the deterministic
    (bucket, salt, n_tok, doc_id) order, never on Arrow batch sizes.

    ``uid_prefix`` names the commit group in chunk/split uids; when None
    it is derived per-chunk as ``g{salt % commit_groups}`` (the batch
    encode's group key), keeping uids table-unique AND deterministic
    under resume (a re-run of a group reproduces the same uids).
    """

    def _prefix(salt: int) -> str:
        return (uid_prefix if uid_prefix is not None
                else f"{group_prefix}{salt % commit_groups}")

    def encode_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cur_key: tuple[int, int] | None = None
        seq = 0
        buf_doc: list[pa.Array] = []
        buf_vals: list[np.ndarray] = []
        buf_ntok: list[np.ndarray] = []
        buf_src: list[pa.Array] = []
        buf_ext: dict[str, list] = {n: [] for n, _ in extra_cols}
        buf_tokens = 0
        out_rows: list[dict] = []

        def _ext_pages(slices: dict[str, list]) -> dict[str, bytes] | None:
            if not extra_cols:
                return None
            return {n: encode_extra_page(
                pa.concat_arrays(slices[n]) if len(slices[n]) > 1
                else slices[n][0], t) for n, t in extra_cols}

        def flush_chunk():
            nonlocal buf_doc, buf_vals, buf_ntok, buf_src, buf_ext, buf_tokens, seq
            if not buf_ntok:
                return
            doc = pa.concat_arrays(buf_doc) if len(buf_doc) > 1 else buf_doc[0]
            src = pa.concat_arrays(buf_src) if len(buf_src) > 1 else buf_src[0]
            vals = np.concatenate(buf_vals) if len(buf_vals) > 1 else buf_vals[0]
            ntok = np.concatenate(buf_ntok) if len(buf_ntok) > 1 else buf_ntok[0]
            out_rows.append(_encode_chunk(cur_key[0], cur_key[1], seq, doc, vals, ntok, src,
                                          uid_prefix=_prefix(cur_key[1]),
                                          extras=_ext_pages(buf_ext)))
            seq += 1
            buf_doc, buf_vals, buf_ntok, buf_src = [], [], [], []
            buf_ext = {n: [] for n, _ in extra_cols}
            buf_tokens = 0

        for batch in it:
            if batch.num_rows == 0:
                continue
            ext_names = {n for n, _ in extra_cols}
            for i, name in enumerate(batch.schema.names):
                if batch.column(i).null_count and name not in ext_names:
                    # input contract (BASELINE.json input_hint): doc_id,
                    # tokens (non-null elements), n_tok, source are all
                    # non-null — fail fast instead of silently coercing.
                    # Schema-evolution extras are exempt: NULLs there
                    # are legitimate and page-encoded with a validity
                    # wrap (encode_extra_page)
                    raise ValueError(
                        f"null values in column '{name}': the token-table "
                        "input contract requires non-null "
                        "(doc_id, tokens, n_tok, source)")
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            bucket = cols["bucket"].to_numpy(zero_copy_only=False)
            salt = cols["salt"].to_numpy(zero_copy_only=False)
            ntok = cols["n_tok"].to_numpy(zero_copy_only=False).astype(np.int64)
            t_values, t_offsets = _tokens_as_values_offsets(batch, tokens_col)
            n = len(ntok)
            # segment by (bucket, salt) change — sorted, so contiguous
            key_change = np.flatnonzero((bucket[1:] != bucket[:-1]) | (salt[1:] != salt[:-1])) + 1
            seg_starts = np.concatenate(([0], key_change, [n])).astype(np.int64)
            for si in range(len(seg_starts) - 1):
                a, b = int(seg_starts[si]), int(seg_starts[si + 1])
                key = (int(bucket[a]), int(salt[a]))
                if key != cur_key:
                    flush_chunk()
                    cur_key = key
                    seq = 0
                # slice segment into chunks by token budget (cumsum once)
                cs = np.cumsum(ntok[a:b])
                i = a
                while i < b:
                    base = int(cs[i - a - 1]) if i > a else 0
                    room = max_chunk_tokens - buf_tokens
                    j = a + int(np.searchsorted(cs, base + room, side="right"))
                    if j == i:  # nothing fits
                        if buf_tokens:
                            flush_chunk()
                            continue
                        # oversized single document: split across chunks
                        # (north-rule skew handling — one 10^8-token doc
                        # must never materialize as one page); parts are
                        # reassembled by doc_id on decode
                        L = int(ntok[i])
                        n_parts = (L + max_chunk_tokens - 1) // max_chunk_tokens
                        if n_parts > 1:
                            v0 = t_offsets[i]
                            pfx = _prefix(cur_key[1])
                            # one uid per split group: decode reassembles
                            # on it, so a duplicate doc_id encoded twice
                            # (two source rows, or two streaming batches)
                            # can never merge parts across copies
                            sid = f"{pfx}-b{cur_key[0]:02d}-s{cur_key[1]:04d}-c{seq:06d}"
                            one_ext = ({n: encode_extra_page(
                                cols[n].slice(i, 1), t)
                                for n, t in extra_cols} if extra_cols
                                else None)
                            for p in range(n_parts):
                                lo = p * max_chunk_tokens
                                hi = min(L, lo + max_chunk_tokens)
                                out_rows.append(_encode_chunk(
                                    cur_key[0], cur_key[1], seq,
                                    cols["doc_id"].slice(i, 1),
                                    t_values[v0 + lo:v0 + hi],
                                    np.array([hi - lo], dtype=np.int64),
                                    cols["source"].slice(i, 1),
                                    doc_part=p, doc_parts=n_parts,
                                    uid_prefix=pfx, split_uid=sid,
                                    extras=one_ext))
                                seq += 1
                            i += 1
                            continue
                        j = i + 1  # fits in exactly one chunk alone
                    buf_doc.append(cols["doc_id"].slice(i, j - i))
                    buf_src.append(cols["source"].slice(i, j - i))
                    for n, _t in extra_cols:
                        buf_ext[n].append(cols[n].slice(i, j - i))
                    buf_vals.append(t_values[t_offsets[i]:t_offsets[j]])
                    buf_ntok.append(ntok[i:j])
                    buf_tokens += int(cs[j - a - 1]) - base
                    if buf_tokens >= max_chunk_tokens:
                        flush_chunk()
                    i = j
            if out_rows:
                yield _rows_to_batch(out_rows)
                out_rows = []
        flush_chunk()
        if out_rows:
            yield _rows_to_batch(out_rows)

    return encode_batches


def extra_schema_of(df: DataFrame) -> dict[str, str]:
    """Validate and collect a source frame's EXTRA columns (everything
    beyond the doc_id/tokens/n_tok/source core) — shared by encode and
    upsert so the supported-type surface cannot diverge."""
    out: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name in part.CORE_COLS:
            continue
        t = f.dataType.simpleString()
        if t not in _EXTRA_KINDS:
            raise ValueError(
                f"unsupported extra column {f.name}: {t} (supported: "
                f"{sorted(_EXTRA_KINDS)}); drop it or cast before encode")
        out[f.name] = t
    return out


def table_extra_schema(root: str, snapshot_id: int | None = None,
                       branch: str | None = None,
                       snap: dict | None = None) -> dict[str, str]:
    """The merged extra-column schema visible at a snapshot (``snap``
    when the caller already holds it): that manifest's
    ``extra_schema_chain``."""
    if snap is None:
        tbl = SnapshotTable(root, branch=branch)
        snap = (tbl.current_snapshot() if snapshot_id is None
                else tbl.snapshot(snapshot_id))
    return dict(snap["metrics"]["extra_schema_chain"]) if snap else {}


def direct_write_supported(path: str) -> bool:
    """True when pyarrow can address ``path`` from inside workers.
    Plain local paths always qualify; URI roots only if pyarrow's C++
    filesystem layer resolves the scheme (file://, s3://, gs://, and
    hdfs:// with libhdfs — but NOT Hadoop-only spellings like s3a://).
    Every writer of token pages and delete ids, and every reader of
    delete ids, refuses a root where this is False
    (require_direct_write)."""
    if "://" not in path:
        return True
    try:
        from pyarrow import fs as pafs
        pafs.FileSystem.from_uri(path)
        return True
    except Exception:
        return False


def pyarrow_fs(path: str):
    """(pyarrow filesystem, path inside it) for a URI; (None, path) for
    a plain local path."""
    if "://" not in path:
        return None, path
    from pyarrow import fs as pafs
    return pafs.FileSystem.from_uri(path)


# Hadoop-only URI schemes and the scheme pyarrow spells the same store with
_PYARROW_SPELLING = {"s3a": "s3", "s3n": "s3"}


def require_direct_write(root: str, what: str) -> None:
    """Refuse a root pyarrow cannot address, for operations that read or
    write the table's files with pyarrow (on the driver or in the
    tasks), naming the pyarrow spelling of the root."""
    if direct_write_supported(root):
        return
    scheme, _, rest = root.partition("://")
    alt = _PYARROW_SPELLING.get(scheme.lower())
    hint = (f"; spell it {alt}://{rest}" if alt else
            "; use a scheme pyarrow.fs.FileSystem.from_uri resolves")
    raise ValueError(f"{what} reads or writes the table's files with "
                     f"pyarrow, which cannot address {root}{hint}")


# one summary row per (task, commit group) written file — small enough
# to collect on the driver at any scale (files, not chunks: a 100-TB
# run with 100k tasks x 2 groups collects 200k rows; per-chunk lineage
# stays inside the pages files themselves)
META_FIELDS = [("grp", pa.int32()), ("file", pa.string()),
               ("n_chunks", pa.int64()), ("n_rows", pa.int64()),
               ("n_tokens", pa.int64()), ("raw_bytes", pa.int64()),
               ("enc_bytes", pa.int64()), ("max_doc_parts", pa.int32())]
META_DDL = ("grp int, file string, n_chunks bigint, n_rows bigint, "
            "n_tokens bigint, raw_bytes bigint, enc_bytes bigint, "
            "max_doc_parts int")


def meta_batch(rows: list[dict], fields=META_FIELDS) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([r[k] for r in rows], type=t) for k, t in fields],
        names=[k for k, _ in fields])


def task_file_name(suffix: str = "") -> str:
    """The name of a data file this task attempt writes. Task retries
    write under a fresh taskAttemptId-suffixed name, so a lost attempt
    leaves only an orphan file that write_from_tasks' post-job sweep
    (or snapshot GC) removes — the manifest lists exactly the files of
    attempts whose summary row was collected."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else 0
    att = ctx.taskAttemptId() if ctx else 0
    return f"part-{pid:05d}-{att}{suffix}.parquet"


def write_task_files(pieces, run_dir: str, parquet_codec: str,
                     commit_groups: int = 1) -> list[dict]:
    """Write pages batches (or tables) into this task's parquet files
    under ``run_dir``: one file per commit group (salt % commit_groups),
    each piece's rows of a group written as one row group. Returns one
    summary row (META_FIELDS) per file; its ``n_rows`` counts documents."""
    import pyarrow.parquet as pq
    pafs_fs, base = pyarrow_fs(run_dir)
    schema = pa.schema(_PAGES_TYPES)
    writers: dict[int, pq.ParquetWriter] = {}
    files: dict[int, str] = {}
    agg: dict[int, dict] = {}
    try:
        for piece in pieces:
            if isinstance(piece, pa.RecordBatch):
                piece = pa.Table.from_batches([piece])
            grps = piece.column("salt").to_numpy() % commit_groups
            for g in np.unique(grps):
                g = int(g)
                sub = piece.filter(pa.array(grps == g))
                if g not in writers:
                    name = task_file_name(f"-g{g}")
                    files[g] = posixpath.join(run_dir, name)
                    writers[g] = pq.ParquetWriter(
                        posixpath.join(base, name), schema,
                        compression=parquet_codec, filesystem=pafs_fs)
                    agg[g] = {"n_chunks": 0, "n_rows": 0, "n_tokens": 0,
                              "raw_bytes": 0, "enc_bytes": 0,
                              "max_doc_parts": 1}
                writers[g].write_table(sub, row_group_size=max(1, sub.num_rows))
                a = agg[g]
                a["n_chunks"] += sub.num_rows
                for k in ("n_tokens", "raw_bytes", "enc_bytes"):
                    a[k] += int(pc.sum(sub.column(k)).as_py() or 0)
                # documents, not chunk rows: a split document counts in
                # its first part only
                first = pc.fill_null(pc.equal(sub.column("doc_part"), 0), True)
                a["n_rows"] += int(
                    pc.sum(sub.column("n_rows").filter(first)).as_py() or 0)
                a["max_doc_parts"] = max(
                    a["max_doc_parts"],
                    int(pc.max(sub.column("doc_parts")).as_py() or 1))
    finally:
        for w in writers.values():
            w.close()
    return [{"grp": g, "file": files[g], **agg[g]} for g in sorted(writers)]


def make_direct_writer(run_dir: str, parquet_codec: str,
                       max_chunk_tokens: int = part.MAX_CHUNK_TOKENS,
                       commit_groups: int = 1, uid_prefix: str | None = None,
                       extra_cols: tuple = (), group_prefix: str = "g"):
    """mapInArrow function: encode AND write pages parquet inside the
    task (Iceberg's write pattern — tasks produce data files, the
    driver commits the file list): page blobs never cross the Arrow
    boundary back to the JVM. Files and their summary rows come from
    ``write_task_files``."""
    inner = make_encoder(max_chunk_tokens, uid_prefix=uid_prefix,
                         commit_groups=commit_groups, extra_cols=extra_cols,
                         group_prefix=group_prefix)

    def write_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = write_task_files(inner(it), run_dir, parquet_codec,
                                commit_groups)
        if rows:
            yield meta_batch(rows)

    return write_batches


def write_from_tasks(tbl: SnapshotTable, df: DataFrame, kernel,
                     ddl: str = META_DDL) -> list:
    """Run ``kernel(run_dir)``, a mapInArrow function whose tasks write
    their files under a fresh run directory and yield one summary row
    per file, over ``df``; return the collected rows. Only files whose
    summary row was collected are real: files of lost or retried
    attempts are swept before anything commits, and a run directory
    that received no file is removed."""
    run_dir = tbl.new_run_dir()
    tbl.fs.mkdirs(run_dir)
    meta = df.mapInArrow(kernel(run_dir), ddl).collect()
    keep = {r["file"].rsplit("/", 1)[-1] for r in meta if r["file"]}
    _sweep_orphans(tbl.fs, run_dir, keep)
    if not keep:
        tbl.fs.delete(run_dir, recursive=True)
    return meta


def sum_meta(rows) -> dict:
    """Commit metrics of summary rows (META_FIELDS): their summed
    counts and their max doc_parts."""
    m = {k: sum(r[k] for r in rows) for k in
         ("n_chunks", "n_rows", "n_tokens", "raw_bytes", "enc_bytes")}
    m["max_doc_parts"] = max((r["max_doc_parts"] for r in rows), default=0)
    return m


def encode(spark: SparkSession, df: DataFrame, out_root: str,
           commit_groups: int = 2, n_salts: int | None = None,
           max_chunk_tokens: int = part.MAX_CHUNK_TOKENS,
           partitions: int | None = None,
           parquet_codec: str = "zstd",
           direct_write: bool = True,
           extra_metrics: dict | None = None,
           group_prefix: str = "g",
           branch: str | None = None) -> dict:
    """Run the encode pipeline with snapshot commits; returns the last
    commit's snapshot (the current one when a resume has nothing to do).
    A root of another table kind is refused before the job runs.

    ``branch`` commits onto a named branch (SnapshotTable.create_branch)
    instead of main — the write-audit-publish path: encode here, audit
    the branch handle, then maintenance.publish_branch fast-forwards
    main. Data files land in the shared {root}/data either way.

    ``extra_metrics`` entries are merged into every group commit's
    metrics (caller-level provenance, e.g. packing parameters).

    ``group_prefix`` names this batch's commit groups (default "g"):
    pass a fresh prefix to APPEND another batch of documents to an
    already-committed table — the appended groups get their own keys
    and chunk-uid namespace, exactly like streaming micro-batches.

    Schema evolution (round 5): any column of ``df`` beyond the core
    (doc_id, tokens, n_tok, source) is encoded as an EXTRA column —
    int / bigint / float / double / string supported — with its own
    page per chunk and the commit records its type in
    ``metrics.extra_schema``. Later batches may add columns (older
    chunks decode them as NULL) or widen int to bigint / float to
    double; decode resolves the merged schema from the manifest chain.

    The tasks write the pages parquet files with pyarrow and the driver
    commits the collected file list (Iceberg's task-file /
    driver-manifest split), so a root pyarrow cannot address is
    refused. ``direct_write`` selects nothing: it stays for callers
    that pass True, and False raises, because the JVM page writer it
    used to select was removed.

    ``partitions`` fixes the task count of the encode shuffle. Left
    unset, a source of one partition is not shuffled (its append is one
    stage; a large frame in one partition also encodes in one task, so
    pass ``partitions`` to spread it), and a source of several is
    shuffled with no fixed count: Spark's adaptive execution coalesces
    it from the bytes it measures, so a small append runs as one task
    and writes one file per commit group, while a large frame gets at
    most ``spark.sql.shuffle.partitions`` tasks (large sources go
    through ``encode_from_parquet``, which sizes the count from parquet
    footers). Chunk bytes do not depend on it: coalescing merges whole
    hash partitions, so a (bucket, salt) group is never split.

    All remaining commit groups are encoded in ONE pass over the source
    (group = salt % commit_groups; each task writes one file per
    group), then committed group-by-group in order — the source is read
    exactly once no matter how many groups, and a job resumed after a
    partial commit re-encodes only the missing groups (one filtered
    pass). Chunk bytes are invariant to grouping: chunks are cut inside
    (bucket, salt) segments and a salt is never split across groups.
    """
    from tokencodec.spark.table import is_delete_group
    if not direct_write:
        raise ValueError("encode(direct_write=False): the JVM page writer "
                         "was removed; the tasks write every pages file")
    require_direct_write(out_root, "encode")
    if is_delete_group(group_prefix):
        raise ValueError(f"group_prefix '{group_prefix}' collides with "
                         "delete-manifest group keys")
    extra_schema = extra_schema_of(df)
    extra_cols = tuple(sorted(extra_schema.items()))
    tbl = SnapshotTable(out_root, branch=branch)
    snap = tbl.current_snapshot()
    tbl.require_kind(snap, "tokens")
    done = set(tbl.resolve_groups(snap)) if snap else set()
    remaining = [g for g in range(commit_groups)
                 if f"{group_prefix}{g}" not in done]
    if not remaining:
        return snap
    # salt-scheme consistency for APPENDS (any prefix): the table's
    # n_salts is load-bearing — point/batch lookups derive a doc's salt
    # from the CHAIN's scheme, so chunks salted under a different count
    # would be silently mis-pruned (dropped rows). Adopt the committed
    # n_salts when the caller left it unset; an explicit mismatch is
    # refused below (same-prefix resumes by the resume check, fresh
    # prefixes by the append guard — maintenance.resalt is the
    # sanctioned migration path).
    chain_scheme = None
    if done:
        from tokencodec.spark.decode_job import _salt_scheme
        chain_scheme = _salt_scheme(out_root, branch=branch, snap=snap)
    if n_salts is None and chain_scheme:
        n_salts = int(chain_scheme["n_salts"])
    if n_salts is None:
        n_salts = part.salts_for(df.count())
    # resume safety: group membership is salt(n_salts) % commit_groups,
    # so resuming a partially committed table under a different scheme
    # would silently drop/duplicate documents — fail fast instead
    scheme = {"group_scheme": "salt_mod", "n_salts": int(n_salts),
              "commit_groups": int(commit_groups)}
    has_batch_groups = any(
        k.startswith(group_prefix) and k[len(group_prefix):].isdigit()
        for k in done)
    if has_batch_groups:
        prev = snap["metrics"].get("scheme")
        if prev != scheme:
            raise ValueError(
                f"cannot resume {out_root}: committed scheme {prev} != "
                f"this run's {scheme} (pass matching n_salts/commit_groups)")
    elif chain_scheme and int(n_salts) != int(chain_scheme["n_salts"]):
        raise ValueError(
            f"append n_salts {int(n_salts)} != the table's committed "
            f"{int(chain_scheme['n_salts'])}: chunks salted under a "
            "different count break salt-derived lookup pruning; omit "
            "n_salts to adopt the table's scheme, or migrate with "
            "maintenance.resalt")
    t0 = time.time()
    sub = df
    if len(remaining) < commit_groups:
        # resume: one filtered pass over the source for ALL missing
        # groups (group is a pure function of doc_id, pushed below the
        # shuffle)
        grp = F.pmod(F.pmod(F.crc32(F.col("doc_id")), F.lit(n_salts)),
                     F.lit(commit_groups))
        sub = df.filter(grp.isin([int(g) for g in remaining]))
    # parquet_codec wraps the (already entropy-tight) pages: zstd is the
    # measured dominant default on 149M tokens — write wall equal to
    # snappy within noise, 6% smaller files and faster decode reads;
    # pass "uncompressed" when write CPU is the binding resource
    meta = write_from_tasks(
        tbl, part.bucketed(sub, n_salts=n_salts, partitions=partitions,
                           extra_cols=extra_cols),
        lambda run_dir: make_direct_writer(
            run_dir, parquet_codec, max_chunk_tokens, commit_groups,
            extra_cols=extra_cols, group_prefix=group_prefix))
    wall = time.time() - t0
    for g in remaining:
        rows = [r for r in meta if r["grp"] == g]
        m = {**sum_meta(rows), "scheme": scheme, **(extra_metrics or {})}
        if extra_schema:
            m["extra_schema"] = extra_schema
        if rows:
            m["pass_wall_sec"] = round(wall, 3)
            m["pass_groups"] = len(remaining)
        # a group with no rows commits an empty path list: resume knows
        # it is done and readers see a valid empty table
        snap = tbl.commit(
            {f"{group_prefix}{g}": sorted(r["file"] for r in rows)},
            metrics=m)
    return snap


def _sweep_orphans(fs, run_dir: str, keep: set[str]) -> list[str]:
    """Delete .parquet files in ``run_dir`` not in ``keep`` (base
    names). Safe because each encode job writes into its own fresh run
    dir: anything unreferenced there is a lost/retried task attempt."""
    swept = []
    for name in fs.listdir(run_dir):
        if name.endswith(".parquet") and name not in keep:
            fs.delete(posixpath.join(run_dir, name))
            swept.append(name)
    return swept


# --------------------------------------------------------------- fast source
# File-split source: the driver assigns (file, row-group) splits to a
# whole number of waves of range tasks; Python workers read their splits
# with pyarrow's C++ parquet reader and ship tokens across the JVM
# boundary as little-endian int32 BLOBS. Binary columns cross Arrow
# boundaries as bulk buffer copies, whereas array<int32> goes through
# Spark's per-element ArrowWriter — the dominant cost at scale. Output
# is byte-identical to encode(df) on the same data: chunk content
# depends only on the (bucket, salt, n_tok, doc_id) order, never on
# split layout (tests/test_fast_source.py).

PACKED_DDL = "doc_id string, tokens binary, n_tok int, source string"

_MAX_BLOB_BYTES = (1 << 31) - 1  # pa.binary() has int32 offsets


def _open_parquet(path: str):
    """pq.ParquetFile over any offset-addressable source: plain local
    paths; URIs (file://, s3://, hdfs:// with libhdfs, ...) routed
    through pyarrow's C++ filesystem layer; and plain http(s):// via
    Range requests (tokencodec/spark/httpio.py) — full parity with the
    reference's any-offset-addressable-source reader, which covers
    local files AND ranged HTTP
    (/root/reference/src/Parquet/Reader.hs:216-248)."""
    import pyarrow.parquet as pq
    if path.startswith(("http://", "https://")):
        from tokencodec.spark.httpio import HttpRangeFile
        return pq.ParquetFile(HttpRangeFile(path))
    if "://" in path:
        from pyarrow import fs as pafs
        f, p = pafs.FileSystem.from_uri(path)
        return pq.ParquetFile(f.open_input_file(p))
    return pq.ParquetFile(path)


def _list_parquet(src_dir) -> list[str]:
    """*.parquet files directly under ``src_dir`` (path or URI), each
    returned in the same addressing form the caller used — URIs keep
    their scheme and authority so workers can re-resolve them. An
    http(s) source must name the .parquet file(s) directly: pass a
    list/tuple of URLs, or one string with URLs separated by
    whitespace/newlines (NOT commas — presigned URLs legally contain
    commas in query parameters, e.g. X-Amz-SignedHeaders; whitespace
    is never legal unencoded in a URL). Plain HTTP has no directory
    listing — the same single-object shape as the reference's remote
    read."""
    if isinstance(src_dir, (list, tuple)):
        urls = [u.strip() for u in src_dir if u.strip()]
        if not all(u.startswith(("http://", "https://")) for u in urls):
            raise ValueError("source lists are supported for http(s) "
                             "URLs only; pass directories as one string")
        return _validated_urls(urls)
    if src_dir.startswith(("http://", "https://")):
        return _validated_urls([u for u in src_dir.split() if u])
    if "://" in src_dir:
        from pyarrow import fs as pafs
        f, base = pafs.FileSystem.from_uri(src_dir)
        names = sorted(
            info.path.rsplit("/", 1)[-1]
            for info in f.get_file_info(pafs.FileSelector(base))
            if info.type == pafs.FileType.File and info.path.endswith(".parquet"))
        return [src_dir.rstrip("/") + "/" + n for n in names]
    import glob
    return sorted(glob.glob(os.path.join(src_dir, "*.parquet")))


def _validated_urls(urls: list[str]) -> list[str]:
    # validate the URL *path* — presigned links carry query strings
    # (?X-Amz-Signature=...) after the .parquet suffix
    from urllib.parse import urlparse
    bad = [u for u in urls if not urlparse(u).path.endswith(".parquet")]
    if bad:
        raise ValueError(
            f"http(s) sources must be direct .parquet URLs "
            f"(no directory listing over HTTP): {bad[0]}")
    return urls


def parquet_splits(src_dir,
                   return_stats: bool = False):
    """(file, row-group) splits; with return_stats also the total row
    count and uncompressed byte size from the footers (one footer pass),
    and each split carries its row group's footer bytes as a third
    field, the weight pack_source assigns tasks by."""
    splits: list[tuple] = []
    n_rows = 0
    for path in _list_parquet(src_dir):
        with _open_parquet(path) as pf:
            md = pf.metadata
        n_rows += md.num_rows
        for rg in range(md.num_row_groups):
            splits.append((path, rg, md.row_group(rg).total_byte_size))
    if not splits:
        raise FileNotFoundError(f"no parquet files under {src_dir}")
    if return_stats:
        return splits, n_rows, sum(s[2] for s in splits)
    return [s[:2] for s in splits]


def _read_and_pack(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Packed rows of the (path, rg) splits in each batch. Each file is
    opened once per batch and its row groups are read in order."""
    max_blob = _MAX_BLOB_BYTES
    for batch in it:
        by_file: dict[str, list[int]] = {}
        for path, rg in zip(batch.column(0).to_pylist(),
                            batch.column(1).to_pylist()):
            by_file.setdefault(path, []).append(rg)
        for path, rgs in by_file.items():
            with _open_parquet(path) as pf:
                for rg in sorted(rgs):
                    tbl = pf.read_row_group(
                        rg, columns=["doc_id", "tokens", "n_tok", "source"])
                    yield from _pack_row_group(tbl, max_blob)


def _pack_row_group(tbl: pa.Table, max_blob: int) -> Iterator[pa.RecordBatch]:
    tokens = tbl.column("tokens").combine_chunks()
    t_off = tokens.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    rel = (t_off - t_off[0]) * 4
    # a pyarrow-written row group can exceed 2^31 token bytes;
    # slice on row boundaries so int32 blob offsets never wrap
    lo = 0
    n = len(tokens)
    while lo < n:
        hi = int(np.searchsorted(rel, rel[lo] + max_blob, side="right")) - 1
        if hi <= lo:
            raise ValueError(
                f"single document with {int(rel[lo + 1] - rel[lo]) // 4} "
                "tokens exceeds the 2^31-byte binary transport limit")
        hi = min(hi, n)
        t_val = tokens.values.to_numpy(zero_copy_only=False)
        base = t_off[lo]
        blob_off = ((t_off[lo:hi + 1] - base) * 4).astype(np.int32)
        blob_data = np.ascontiguousarray(
            t_val[base:t_off[hi]]).view(np.uint8)
        blob = pa.Array.from_buffers(
            pa.binary(), hi - lo,
            [None, pa.py_buffer(blob_off), pa.py_buffer(blob_data)])
        yield pa.RecordBatch.from_arrays(
            [tbl.column("doc_id").combine_chunks().slice(lo, hi - lo), blob,
             tbl.column("n_tok").combine_chunks().slice(lo, hi - lo),
             tbl.column("source").combine_chunks().slice(lo, hi - lo)],
            names=["doc_id", "tokens", "n_tok", "source"])
        lo = hi


# target footer-reported bytes per source and encode task: large enough
# to amortize the per-task JVM->Python handoff (measured at
# sf0.1/local[32]: 32 tasks = 1.5s vs 128 tasks = 2.1-5s, identical
# output bytes), small enough that per-partition sorts never spill at
# 100 TB (a fixed tasks-per-core multiplier would give 3 GB partitions
# there). The footer's total_byte_size counts parquet-encoded (dict/RLE)
# pages and undercounts decoded raw bytes ~2x on token data, so 16 MB
# here means ~32-40 MB of raw tokens per task — and >1 wave of tasks
# (straggler smoothing) as soon as the input outgrows cores * 16 MB.
TARGET_TASK_BYTES = 16 << 20


def assign_splits(splits: list[tuple], cores: int) -> list[list[tuple[str, int]]]:
    """(path, rg) splits of each source task. The task count is a whole
    number of waves of ``cores``, one task per TARGET_TASK_BYTES of
    footer bytes, and never more than the splits. Splits go largest
    first onto the least-loaded task (LPT), weighted by the footer
    bytes a (path, rg, bytes) split carries; bare (path, rg) splits
    weigh the same and size the task count to one wave."""
    sized = all(len(s) == 3 for s in splits)
    weights = [s[2] if sized else 1 for s in splits]
    n_bytes = sum(weights) if sized else 0
    waves = -(-max(cores, n_bytes // TARGET_TASK_BYTES) // cores)
    k = min(len(splits), cores * waves)
    tasks: list[list[tuple[str, int]]] = [[] for _ in range(k)]
    load = [(0, t) for t in range(k)]
    for i in sorted(range(len(splits)), key=lambda i: -weights[i]):
        w, t = heapq.heappop(load)
        tasks[t].append(splits[i][:2])
        heapq.heappush(load, (w + weights[i], t))
    return tasks


def pack_source(spark: SparkSession, src_dir: "str | list[str]",
                splits: list[tuple] | None = None) -> DataFrame:
    """Token table as (doc_id, tokens BINARY, n_tok, source) read by
    pyarrow inside workers — the fast transport for encode(). Reads any
    pyarrow-resolvable source (local path or file://, s3://, ... URI).

    The source is ``spark.range(0, k, 1, k)``: task t reads the splits
    ``assign_splits`` gave it, carried in the pickled closure (O(splits)
    bytes), so the plan has no Exchange of its own. ``splits`` default
    to one footer pass over ``src_dir``."""
    if splits is None:
        splits, _, _ = parquet_splits(src_dir, return_stats=True)
    batches = [pa.RecordBatch.from_arrays(
        [pa.array([p for p, _ in t], pa.string()),
         pa.array([rg for _, rg in t], pa.int32())], names=["path", "rg"])
        for t in assign_splits(splits, spark.sparkContext.defaultParallelism)]

    def read(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _read_and_pack(batches[t] for b in it
                              for t in b.column(0).to_pylist())

    k = len(batches)
    return spark.range(0, k, 1, k).mapInArrow(read, PACKED_DDL)


def encode_from_parquet(spark: SparkSession, src_dir: "str | list[str]",
                        out_root: str, **kw) -> dict:
    """encode() over a parquet directory via the fast file-split source;
    one footer pass discovers splits and their bytes (source task
    assignment), the row count for salting, and the byte size for
    shuffle sizing."""
    splits, n_rows, n_bytes = parquet_splits(src_dir, return_stats=True)
    kw.setdefault("n_salts", part.salts_for(n_rows))
    kw.setdefault("partitions", max(spark.sparkContext.defaultParallelism,
                                    n_bytes // TARGET_TASK_BYTES))
    return encode(spark, pack_source(spark, src_dir, splits), out_root, **kw)


def read_pages(spark: SparkSession, root: str,
               snapshot_id: int | None = None,
               paths: list[str] | None = None,
               branch: str | None = None) -> DataFrame:
    """Pages of the current snapshot, or of ``snapshot_id`` (time
    travel: snapshots are immutable, so any historical table state
    stays readable until its files are garbage-collected). An explicit
    ``paths`` list reads exactly those committed data paths instead
    (the incremental-changes scan, decode_job.decode_changes)."""
    if paths is not None:
        if not paths:
            return spark.createDataFrame([], PAGES_DDL)
        return spark.read.schema(PAGES_DDL).parquet(*paths)
    tbl = SnapshotTable(root, branch=branch)
    # distinguish "never committed" (an error) from "validly committed
    # empty table" (all groups empty — a legal state a resumed job must
    # be able to read): tbl.snapshot() raises on unknown snapshot_id
    snap = tbl.current_snapshot() if snapshot_id is None else tbl.snapshot(snapshot_id)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    from tokencodec.spark.table import is_delete_group
    paths = [p for k, ps in tbl.resolve_groups(snap).items()
             if not is_delete_group(k) for p in ps]
    if not paths:
        return spark.createDataFrame([], PAGES_DDL)
    # explicit schema: zero footer reads / schema-merge jobs at
    # plan-construction time
    return spark.read.schema(PAGES_DDL).parquet(*paths)
