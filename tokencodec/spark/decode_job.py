"""Decode job: encoded pages table -> original token table, exact inverse.

Mirrors the reference's record reassembly but columnar: where
parquet-hs zips per-column value streams and folds Dremel instructions
into row objects (/root/reference/src/Parquet/Reader.hs:563-606), we
decode each column page vectorized and rebuild the `tokens` list column
directly from the n_tok prefix sums via
`pa.ListArray.from_arrays(offsets, values)` — no rep/def levels needed
for the flat+array schema (SURVEY.md §2a op #17-19).

Projection pushdown reaches the PAGE level (the reference's projection
cleanup, op #20, pushed into the binary format): ``columns=`` decodes
only the pages of requested columns, so a (doc_id, n_tok) scan never
reads the tokens pages — 98.7% of the table's bytes on the bench
corpus: the chunk reader asks pyarrow for the needed page columns
only.

``packed=True`` returns tokens as little-endian int32 BINARY blobs
instead of array<int32>: binary columns cross the Python->JVM Arrow
boundary as bulk buffer copies, while array<int32> goes through Spark's
per-element ArrowWriter — the same asymmetry that motivates the encode
fast source. `audit` consumes either representation.

`audit` is the engine's analog of the golden round-trip assert
(/root/reference/tests/integration/Spec.hs:96-98): per-row token-array
equality. Fast path: ONE side-tagged aggregate job over per-row
xxhash64 (count + hash sum + hash xor per side), no shuffle of row
data at all — and because both sides' scan subtrees live in one job,
their stages overlap instead of running back-to-back; the
double-exceptAll diff runs only when the signatures disagree
(strict=True forces it).

Every reader resolves its snapshot through SnapshotTable, which
refuses a table of another format (table.FORMAT), so the readers below
assume the one shape this engine writes: every committed token data
path is a task-written parquet file, every snapshot carries the chain
metrics, every pending delete has a sequence, and every chunk's salt,
doc-id bounds, split and n_tok columns are set (fsck checks them).

Lookups and range scans are narrowed on the driver before any job:
`_file_plan` reads each committed data file's parquet footer row-group
statistics (salt, doc-id and n_tok bounds, max doc_parts, compressed
size; cached by path) and keeps only candidate files and row groups —
unknown stats always stay candidates. Scans and lookups share one chunk
reader (`_chunk_reader`): it reads a file's kept row groups with
pyarrow, masks chunks with pyarrow predicates, decodes whole chunks as
they stream and, when the file ends, reassembles its split documents
one at a time (`split_docs` / `doc_tokens`, which compaction's re-slice
shares) — every writer puts all parts of a split document in one file
(fsck checks it). A scan runs the reader in
``spark.range(0, k, 1, k)`` tasks over the files `_scan_tasks` gives
them, so its plan has no FileScan and no Exchange. A point or batch
lookup runs it on the driver with no Spark job at all and returns a
local DataFrame; it holds one row group and the decoded hits
at a time, and reads `lookup_report`'s ``bytes_kept`` from storage.
Both mask pending deletes by each file's commit seq, and both need a
root pyarrow can address. `lookup_report` exposes the file and row
group decision without running a job.
"""

from __future__ import annotations

import copy
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from tokencodec import pageformat
from tokencodec.spark.table import SnapshotTable, is_delete_group

ALL_COLUMNS = ["doc_id", "tokens", "n_tok", "source"]

# a packed tokens column's value bytes (4 per token) must stay below
# 2^31, or `(offsets * 4).astype(np.int32)` would wrap silently into
# corrupt offsets: _tokens_array raises instead
STITCH_INT32_SAFE = (1 << 31) - 8
_COL_PAGE = {"doc_id": "page_doc_id", "tokens": "page_tokens",
             "n_tok": "page_n_tok", "source": "page_source"}


def _binary_views(col: pa.Array) -> tuple[np.ndarray, memoryview]:
    """Zero-copy row access into a binary column: (offsets, data view)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    odt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    bufs = col.buffers()
    if bufs[1] is None or len(col) == 0:
        # Arrow permits a null — or empty/undersized — offsets buffer
        # on zero-length arrays (e.g. the items child of a map column
        # whose rows are all empty)
        off = np.zeros(1, dtype=odt)
    else:
        off = np.frombuffer(bufs[1], dtype=odt, count=len(col) + 1 + col.offset)
        off = off[col.offset:col.offset + len(col) + 1]
    # cast('B'): an arrow Buffer's memoryview is signed ('b'), and the
    # page parsers index bytes expecting unsigned semantics
    data = (memoryview(bufs[2]).cast("B") if bufs[2] is not None
            else memoryview(b""))
    return off, data


def _map_binary_views(col: pa.Array):
    """Zero-copy row access into a map<string, binary> column:
    (map_offsets, keys, value_offsets, value data view). A MapArray is
    list<struct<key, value>>: ``.offsets`` is slice-adjusted to the
    row window while ``.keys``/``.items`` are the FULL flattened
    children, so the offsets index the children directly. Row r's
    entries are keys/values[j] for j in [map_offsets[r],
    map_offsets[r+1]) — a null or empty map contributes an empty
    span."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    moff = np.asarray(col.offsets, dtype=np.int64)
    keys = col.keys.to_pylist()
    voff, vdata = _binary_views(col.items)
    return moff, keys, voff, vdata


def iter_page_rows(it: Iterator[pa.RecordBatch], page_cols: list[str],
                   scalar_cols: tuple = ()):
    """Row driver over chunk rows (whole-chunk decode): yields
    ``(pages, scalars)`` per row, where ``pages`` maps each page column
    to a zero-copy memoryview slice (never an .as_py() byte copy) and
    ``scalars`` holds the per-row values of ``scalar_cols`` (including
    map columns like extra_pages)."""
    for batch in it:
        if batch.num_rows == 0:
            continue
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        views = {c: _binary_views(batch.column(idx[c])) for c in page_cols}
        cols = {c: batch.column(idx[c]) for c in scalar_cols}
        for r in range(batch.num_rows):
            pages = {c: data[off[r]:off[r + 1]]
                     for c, (off, data) in views.items()}
            yield pages, {c: cols[c][r].as_py() for c in scalar_cols}


def _string_array(page) -> pa.Array:
    off, data = pageformat.decode_string_page(page)
    return pa.Array.from_buffers(
        pa.large_string(), len(off) - 1,
        [None, pa.py_buffer(off), pa.py_buffer(data)]).cast(pa.string())


def _tokens_array(values: np.ndarray, ntok, packed: bool) -> pa.Array:
    """The tokens column of rows ``ntok`` tokens long over ``values``:
    little-endian int32 blobs (``packed``) or array<int32>. Raises
    rather than let packed int32 offsets wrap past STITCH_INT32_SAFE."""
    offsets = np.zeros(len(ntok) + 1, dtype=np.int64)
    np.cumsum(ntok, out=offsets[1:])
    if not packed:
        return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                        pa.array(values, type=pa.int32()))
    if int(offsets[-1]) * 4 > STITCH_INT32_SAFE:
        raise ValueError(f"packed tokens column of {int(offsets[-1]) * 4} "
                         "value bytes exceeds int32 binary offsets")
    blob = np.ascontiguousarray(values.astype(np.int32, copy=False))
    return pa.Array.from_buffers(
        pa.binary(), len(ntok),
        [None, pa.py_buffer((offsets * 4).astype(np.int32)),
         pa.py_buffer(blob.view(np.uint8))])


def _decode_chunk(pages: dict, cols: list[str], packed: bool) -> pa.RecordBatch:
    """Decode the REQUESTED columns of one chunk; unrequested pages are
    never parsed (their bytes never even reach this function)."""
    ntok = (pageformat.decode_int_page(pages["page_n_tok"])
            if "page_n_tok" in pages else None)
    arrays: dict[str, pa.Array] = {}
    if "tokens" in cols:
        arrays["tokens"] = _tokens_array(
            pageformat.decode_int_page(pages["page_tokens"]), ntok, packed)
    if "n_tok" in cols:
        arrays["n_tok"] = pa.array(ntok.astype(np.int32), type=pa.int32())
    for name in ("doc_id", "source"):
        if name in cols:
            arrays[name] = _string_array(pages[_COL_PAGE[name]])
    return pa.RecordBatch.from_arrays([arrays[c] for c in cols], names=cols)


_EXTRA_PA = {"int": pa.int32(), "bigint": pa.int64(), "string": pa.string(),
             "float": pa.float32(), "double": pa.float64()}
_EXTRA_NP_FLOAT = {"float": np.float32, "double": np.float64}


def _extra_array(page, spark_type: str, n: int) -> pa.Array:
    """Decode one extra-column page to ``n`` values; a missing page
    (chunk predates the column) back-fills NULLs. Int pages decode at
    their recorded width and cast to the DECLARED width — how an int
    column widened to bigint reads int32-era chunks. NULLABLE-wrapped
    pages (nullable source extras / merged mixed-era chunks) decode the
    present values and scatter them under the validity bitmap."""
    from tokencodec import codecs
    if page is None:
        return pa.nulls(n, _EXTRA_PA[spark_type])
    h = pageformat.read_header(page)
    if h["codec"] == codecs.DEFLATED:
        # unwrap the entropy envelope here so the NULLABLE check below
        # sees the real codec (the value decoders would also unwrap it,
        # but only for non-wrapped pages)
        page = pageformat._inflate(page, True)
        h = pageformat.read_header(page)
    if h["codec"] == codecs.NULLABLE:
        validity, inner = pageformat.unwrap_nullable(page)
        present = _extra_array(inner, spark_type, int(validity.sum()))
        pos = np.cumsum(validity) - 1
        idx = pa.array(pos, type=pa.int64(), mask=~validity)
        return present.take(idx)
    if spark_type == "string":
        return _string_array(page)
    if spark_type in _EXTRA_NP_FLOAT:
        # recorded width may be narrower than declared (float chunks
        # under a later double declaration): float32 -> float64 is an
        # exact widening
        f = pageformat.decode_float_page(page)
        return pa.array(f.astype(_EXTRA_NP_FLOAT[spark_type], copy=False),
                        type=_EXTRA_PA[spark_type])
    v = pageformat.decode_int_page(page)
    return pa.array(v.astype(np.int64 if spark_type == "bigint"
                             else np.int32, copy=False),
                    type=_EXTRA_PA[spark_type])


_KIND_TYPE = {pageformat.KIND_INT32: "int", pageformat.KIND_INT64: "bigint",
              pageformat.KIND_STRING: "string",
              pageformat.KIND_FLOAT32: "float",
              pageformat.KIND_FLOAT64: "double"}


def decode_extra_page(page) -> pa.Array:
    """Decode an extra-column page at its RECORDED kind — for callers
    that need no declared schema (fsck integrity checks, maintenance
    kernels re-encoding surviving rows). Wrapper kinds pass through
    DEFLATED/NULLABLE envelopes unchanged, so the recorded kind is
    always the value kind."""
    kind = pageformat.read_header(page)["kind"]
    return _extra_array(page, _KIND_TYPE[kind], 0)


def spark_type_of_extra_page(page) -> str:
    return _KIND_TYPE[pageformat.read_header(page)["kind"]]


def _bloom_rows(it: Iterator[pa.RecordBatch],
                targets: list[str] | None) -> Iterator[pa.RecordBatch]:
    """Drop chunk rows whose ``doc_bloom`` proves every target absent
    (any-of, tokencodec/bloom.py), before any of their pages is parsed.
    ``targets`` None passes batches through. A NULL or unparseable blob
    keeps its row (unknown = keep); split parts carry their document's
    id in every part's filter, so a split doc survives whole or not at
    all."""
    if targets is None:
        yield from it
        return
    from tokencodec import bloom
    for batch in it:
        if batch.num_rows == 0:
            continue
        off, data = _binary_views(batch.column("doc_bloom"))
        keep = bloom.series_might_contain_any(
            [data[off[r]:off[r + 1]] for r in range(batch.num_rows)], targets)
        if keep.all():
            yield batch
        elif keep.any():
            yield batch.filter(pa.array(keep))


# chunk columns the decode kernel masks pending deletes with: the
# chunk's doc-id bounds (_Deletes.may_hit)
_DEL_COLS = ("doc_id_min", "doc_id_max")


def make_decode_batches(packed: bool = False, cols: list[str] | None = None,
                        extras: tuple = (),
                        targets: list[str] | None = None,
                        dels: _Deletes | None = None):
    """Kernel decoding one chunk per input row, and the input columns it
    needs. ``targets`` (point / batch lookups) adds the in-kernel Bloom
    probe over ``doc_bloom``. ``dels`` (pending deletes; ``cols`` then
    holds doc_id) drops the rows it masks; the kernel's ``seq`` argument
    is the data seq of the file the rows come from (_Deletes.seq_of). A
    chunk whose doc-id bounds hold no deleted id is not checked."""
    cols = list(ALL_COLUMNS) if cols is None else cols
    page_cols = sorted({_COL_PAGE[c] for c in cols}
                       | ({"page_n_tok"} if "tokens" in cols else set()))

    scal = ((("extra_pages",) if extras else ())
            + (_DEL_COLS if dels is not None else ()))

    def decode_batches(it: Iterator[pa.RecordBatch],
                       seq: int | None = None) -> Iterator[pa.RecordBatch]:
        for pages, sc in iter_page_rows(_bloom_rows(it, targets),
                                        page_cols, scal):
            chunk = _decode_chunk(pages, cols, packed)
            n = chunk.num_rows
            arrays = list(chunk.columns)
            names = list(chunk.schema.names)
            if extras:
                # extra pages are per-doc scalars (tiny); map-scalar
                # access is chunk-granular, not row-granular
                m = dict(sc["extra_pages"] or {})
                for name, t in extras:
                    arrays.append(_extra_array(m.get(name), t, n))
                    names.append(name)
            out = pa.RecordBatch.from_arrays(arrays, names=names)
            if dels is not None and dels.may_hit(sc["doc_id_min"],
                                                 sc["doc_id_max"]):
                dead = dels.dead(out.column("doc_id"), seq)
                if dead.any():
                    out = out.filter(pa.array(~dead))
            yield out

    return decode_batches, (page_cols + (["extra_pages"] if extras else [])
                            + (list(_DEL_COLS) if dels is not None else [])
                            + (["doc_bloom"] if targets is not None else []))


def split_docs(parts: pa.Table) -> Iterator[pa.Table]:
    """One file's split-part chunk rows -> one table per document, its
    parts in doc_part order. Group boundaries come from numpy over the
    sorted split uids, with no per-row key."""
    parts = parts.sort_by([("split_uid", "ascending"),
                           ("doc_part", "ascending")])
    uid = parts["split_uid"].to_numpy(zero_copy_only=False)
    cuts = [0, *(np.flatnonzero(uid[1:] != uid[:-1]) + 1), len(uid)]
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        if hi > lo:
            yield parts.slice(lo, hi - lo)


def doc_tokens(doc: pa.Table, page_col: str = "page_tokens") -> np.ndarray:
    """A split document's token values (or the values of another int
    page column): its parts' pages decoded and concatenated once, in
    doc_part order. Each part is a single-doc chunk (encode_job slices
    one oversized doc per part), so this is O(total bytes) whatever the
    part count."""
    off, data = _binary_views(doc[page_col])
    vals = [pageformat.decode_int_page(data[off[r]:off[r + 1]])
            for r in range(doc.num_rows)]
    return np.concatenate(vals) if len(vals) != 1 else vals[0]


def _stitch(parts: pa.Table, cols: list[str], extras: tuple, packed: bool,
            dels: _Deletes | None, seq: int | None
            ) -> Iterator[pa.RecordBatch]:
    """One file's held split-part rows -> one batch per reassembled
    document, with ``cols`` and the extras. Identity and extras come
    from part 0; a document ``dels`` masks (by ``seq``, the data seq of
    the parts' file) is dropped before its tokens are decoded. Only the
    pages of ``cols`` are read."""
    for doc in split_docs(parts):
        out = {c: _string_array(doc[_COL_PAGE[c]][0].as_py())
               for c in cols if c in ("doc_id", "source")}
        if dels is not None and dels.dead(out["doc_id"], seq)[0]:
            continue
        if "tokens" in cols:
            values = doc_tokens(doc)
            out["tokens"] = _tokens_array(values, [len(values)], packed)
        if "n_tok" in cols:
            out["n_tok"] = pa.array(
                [int(doc_tokens(doc, "page_n_tok").sum())], pa.int32())
        m = dict(doc["extra_pages"][0].as_py() or {}) if extras else {}
        yield pa.RecordBatch.from_arrays(
            [out[c] for c in cols]
            + [_extra_array(m.get(n), t, 1) for n, t in extras],
            names=cols + [n for n, _ in extras])


def _out_schema(cols: list[str], packed: bool, extras: tuple) -> pa.Schema:
    """The Arrow schema of the decode kernels' output."""
    types = {"doc_id": pa.string(), "n_tok": pa.int32(),
             "source": pa.string(),
             "tokens": pa.binary() if packed else pa.list_(pa.int32())}
    return pa.schema([(c, types[c]) for c in cols]
                     + [(n, _EXTRA_PA[t]) for n, t in extras])


def _target_snapshot(tbl: SnapshotTable, snapshot_id: int | None,
                     snap: dict | None = None) -> dict | None:
    """``snap`` when the caller already resolved it, else the snapshot
    ``snapshot_id`` (or the current one) — None on an empty root."""
    if snap is not None:
        return snap
    return (tbl.current_snapshot() if snapshot_id is None
            else tbl.snapshot(snapshot_id))


def _scheme_from_manifest(root: str, snapshot_id: int | None,
                          branch: str | None = None,
                          snap: dict | None = None) -> dict | None:
    """The table's partitioning scheme, read from the target snapshot:
    encode stamps it, every later commit inherits it, and encode and
    publish refuse to mix schemes within one table. None when no commit
    carried one (callers then skip scheme-derived pruning)."""
    if snap is None:
        snap = _target_snapshot(SnapshotTable(root, branch=branch),
                                snapshot_id)
    sch = snap["metrics"].get("scheme") if snap is not None else None
    return dict(sch) if sch else None


def _salt_scheme(root: str, branch: str | None = None,
                 snap: dict | None = None) -> dict | None:
    """The chain's scheme when it derives salts (salt_mod with a
    positive n_salts), else None: lookups then skip salt pruning and
    appends pick their own n_salts."""
    sch = _scheme_from_manifest(root, None, branch=branch, snap=snap)
    if sch and sch.get("group_scheme") == "salt_mod" \
            and int(sch.get("n_salts", 0)) > 0:
        return sch
    return None


# data with no attribution at all sorts below EVERY attributed seq —
# including the sub-zero band branch forks remap carried attribution
# into (create_branch) — so every delete masks it
_ANCIENT_SEQ = -(1 << 62)


class _Deletes:
    """The pending row-level deletes of one snapshot and the one rule
    that applies them, Iceberg's equality-delete sequence rule: a
    delete masks only rows committed strictly before it. Scans,
    lookups, compact and purge_deletes all mask through this object,
    inside their kernels.

    Built from (doc_id, seq) rows, one per deleted id of each delete
    file: ``ids`` holds the deleted ids sorted and unique (an Arrow
    string array), ``seqs`` the newest delete seq of each. A copy dies
    only when its data seq is strictly older, so upsert replacements
    and later re-adds survive. ``path_seqs`` maps committed data paths
    to their group's seq (_path_seq_map); ``at`` binds
    another map to the same ids without copying or re-sorting them."""

    def __init__(self, rows: pa.Table):
        import pyarrow.compute as pc
        t = rows.filter(pc.is_valid(rows["doc_id"])).sort_by(
            [("doc_id", "ascending"), ("seq", "descending")])
        ids = t["doc_id"].combine_chunks()
        first = np.ones(len(ids), dtype=bool)  # the newest seq of an id
        first[1:] = pc.not_equal(ids[1:], ids[:-1]).to_numpy(
            zero_copy_only=False)
        self.ids = ids.filter(pa.array(first))
        self.seqs = t["seq"].to_numpy()[first]
        # distinct deleted ids; a NULL id counts but masks nothing
        self.n_ids = len(self.ids) + bool(rows["doc_id"].null_count)
        self.path_seqs: dict[str, int] = {}
        self._set_index()

    def _set_index(self) -> None:
        import pandas as pd
        # pandas builds the hash table on the first lookup and keeps it
        # in the Index, which every ``at`` copy shares
        self._index = pd.Index(self.ids.to_numpy(zero_copy_only=False))

    def __getstate__(self) -> dict:
        # a scan ships the Arrow ids, not 10^6 Python strings
        return {k: v for k, v in self.__dict__.items() if k != "_index"}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._set_index()

    def at(self, path_seqs: dict[str, int]) -> _Deletes:
        bound = copy.copy(self)
        bound.path_seqs = path_seqs
        return bound

    def may_hit(self, lo: str | None, hi: str | None) -> bool:
        """May doc-id bounds [lo, hi] hold a deleted id? Unknown: yes."""
        if lo is None or hi is None:
            return True
        keys = self._index.values
        i = keys.searchsorted(lo)
        return i < len(keys) and keys[i] <= hi

    def seq_of(self, path: str) -> int:
        """The data seq of rows read from the committed data path
        ``path``: its group's, else _ANCIENT_SEQ — data older than the
        oldest pending delete, which every delete masks."""
        return self.path_seqs.get(path, _ANCIENT_SEQ)

    def dead(self, docs: pa.Array, seq: int) -> np.ndarray:
        """Which of ``docs`` (a string array), all read from data of seq
        ``seq``, die."""
        i = self._index.get_indexer(docs.to_numpy(zero_copy_only=False))
        dead = i >= 0
        dead[dead] = self.seqs[i[dead]] > seq
        return dead


def _path_seq_map(groups: dict, seqs: dict, min_seq: int) -> dict:
    """{committed data path: group seq} for groups at/after
    ``min_seq``, the oldest pending delete's seq: everything older
    defaults to _ANCIENT_SEQ in _Deletes.seq_of, so the map is bounded
    by the data committed since that delete, not by table size."""
    return {p: s for g, s in seqs.items()
            if not is_delete_group(g) and s >= min_seq
            for p in groups.get(g, [])}


# the last-built delete set (one entry), keyed by its (seq, delete
# file) pairs: delete-id files are immutable and uniquely named, so
# repeated lookups and scans of one snapshot read, map and sort the ids
# once. The driver holds this id set during every read of that
# snapshot anyway.
_DELETES_MEMO: dict[tuple, _Deletes] = {}


def _pending_deletes(tbl: SnapshotTable, snap: dict) -> _Deletes | None:
    """The delete manifests of ``snap`` as one _Deletes; None when they
    list no id. Each delete group masks by its first-commit sequence
    (table.group_seqs); a pending group without one is a fault. Ids are
    read on the driver with pyarrow (delete files are takedown-sized by
    delete_docs' contract), so a root pyarrow cannot address is refused
    once it holds a delete manifest (no writer creates one there)."""
    from tokencodec.spark.encode_job import _open_parquet, require_direct_write
    groups = tbl.resolve_groups(snap)
    del_groups = {k: ps for k, ps in groups.items()
                  if is_delete_group(k) and ps}
    if not del_groups:
        return None
    require_direct_write(tbl.root, "a read with pending deletes")
    seqs = tbl.group_seqs(snap)
    unattributed = sorted(k for k in del_groups if k not in seqs)
    if unattributed:
        raise RuntimeError(
            f"pending delete group(s) {unattributed[:3]} under {tbl.root} "
            "have no sequence attribution (the chain and group-seqs.json "
            "both lack them): the table's metadata is damaged")
    # oldest delete first: a doc deleted more than once takes the
    # NEWEST delete's seq
    key = tuple(sorted((seqs[k], p) for k, ps in del_groups.items()
                       for p in ps))
    dels = _DELETES_MEMO.get(key)
    if dels is None:
        rows = []
        for s, p in key:
            t = _open_parquet(p).read(columns=["doc_id"])
            rows.append(t.append_column(
                "seq", pa.array(np.full(t.num_rows, s, dtype=np.int64))))
        dels = _Deletes(pa.concat_tables(rows))
        _DELETES_MEMO.clear()
        _DELETES_MEMO[key] = dels
    return (dels.at(_path_seq_map(groups, seqs, key[0][0]))
            if dels.n_ids else None)


# Per-file data skipping (Delta Lake's per-file statistics): before a
# lookup or filtered scan is planned, the driver reads the parquet
# footer row-group statistics of each committed data file and hands the
# scan only the files a row group of which may hold a matching chunk.
# Data files are immutable and uniquely named, so their bounds are
# cached process-wide by path (bounded FIFO, like table._GROUPSET_CACHE).
_FOOTER_COLS = ("salt", "doc_id_min", "doc_id_max", "doc_parts",
                "n_tok_min", "n_tok_max")
_FOOTER_CACHE: dict[str, list[dict]] = {}
_FOOTER_CACHE_MAX = 4096


def _footer_bounds(path: str) -> list[dict] | None:
    """Per-row-group ``{column: (min, max)}`` over _FOOTER_COLS for one
    committed data file, plus ``bytes``: the row group's compressed
    size. A column without statistics, or holding any NULL, is left out
    (unknown). None = the whole file is unknown: an unreadable footer."""
    cached = _FOOTER_CACHE.get(path)
    if cached is not None:
        return cached
    from tokencodec.spark.encode_job import _open_parquet
    try:
        with _open_parquet(path) as pf:
            md = pf.metadata
    except (OSError, ValueError):
        return None
    idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        b = {"bytes": sum(rg.column(j).total_compressed_size
                          for j in range(md.num_columns))}
        for c in _FOOTER_COLS:
            st = rg.column(idx[c]).statistics if c in idx else None
            if (st is not None and st.has_min_max and st.has_null_count
                    and st.null_count == 0):
                b[c] = (st.min, st.max)
        out.append(b)
    if len(_FOOTER_CACHE) >= _FOOTER_CACHE_MAX:
        _FOOTER_CACHE.pop(next(iter(_FOOTER_CACHE)))
    _FOOTER_CACHE[path] = out
    return out


def _rg_may_match(b: dict, targets: list[tuple[str, int | None]] | None,
                  doc_id_min: str | None, doc_id_max: str | None,
                  n_tok_min: int | None, n_tok_max: int | None) -> bool:
    """False only when the row group's bounds prove that none of its
    chunks passes decode's chunk filters — the same predicates, lifted
    from chunks to the row group (min of the chunk minima, max of the
    chunk maxima). ``targets`` pairs each lookup id with its salt
    (None when the table's scheme derives none)."""
    lo = b.get("doc_id_min", (None, None))[0]
    hi = b.get("doc_id_max", (None, None))[1]
    if doc_id_min is not None and hi is not None and hi < doc_id_min:
        return False
    if doc_id_max is not None and lo is not None and lo > doc_id_max:
        return False
    if targets is not None:
        salt = b.get("salt")
        if not any((lo is None or lo <= d) and (hi is None or hi >= d)
                   and (s is None or salt is None
                        or salt[0] <= s <= salt[1])
                   for d, s in targets):
            return False
    if _rg_may_split(b):
        return True  # split parts are exempt from n_tok pruning
    if n_tok_min is not None and "n_tok_max" in b \
            and b["n_tok_max"][1] < n_tok_min:
        return False
    if n_tok_max is not None and "n_tok_min" in b \
            and b["n_tok_min"][0] > n_tok_max:
        return False
    return True


def _rg_may_split(b: dict) -> bool:
    """May the row group hold split parts? Unknown stats say yes."""
    return "doc_parts" not in b or b["doc_parts"][1] > 1


def _data_paths(tbl: SnapshotTable, snap: dict) -> list[str]:
    return [p for k, ps in tbl.resolve_groups(snap).items()
            if not is_delete_group(k) for p in ps]


def _file_plan(root: str, snap: dict, paths: list[str],
               branch: str | None = None,
               targets: list[str] | None = None,
               doc_id_min: str | None = None, doc_id_max: str | None = None,
               n_tok_min: int | None = None,
               n_tok_max: int | None = None) -> dict:
    """What a decode over ``paths`` at ``snap`` reads, decided on the
    driver from manifests and parquet footers, with no Spark job:

    - ``files_considered`` / ``files_kept``: counts before and after
      footer narrowing, ``paths`` the kept files. Narrowing runs only
      for lookups (``targets``) and doc-id / n_tok range filters;
      other decodes keep every file.
    - ``row_groups``: per kept path, the indices of its kept row
      groups, None when unknown (a file without footer stats, or no
      narrowing) — the whole path is then read. ``path_bytes``: per
      kept path, the compressed size of its kept row groups, None when
      unknown. ``row_groups_kept`` / ``bytes_kept`` total them; None
      when any kept path is unknown.
    - ``salts``: the salts ``targets`` hash to under the table's
      salt_mod scheme, None when the scheme derives none.
    - ``stitch``: whether split documents may be read, so the stitch
      branch is planned. The snapshot's ``max_doc_parts_chain`` rules
      it out table-wide; a narrowed decode also needs a kept row group
      with doc_parts max > 1 or unknown.
    """
    salts = None
    if targets:
        sch = _salt_scheme(root, branch=branch, snap=snap)
        if sch is not None:
            import zlib
            n = int(sch["n_salts"])
            salts = [zlib.crc32(d.encode("utf-8")) % n for d in targets]
    stitch = snap["metrics"]["max_doc_parts_chain"] > 1
    kept, rgs, nbytes = paths, [None] * len(paths), [None] * len(paths)
    if targets is not None or any(v is not None for v in (
            doc_id_min, doc_id_max, n_tok_min, n_tok_max)):
        pairs = (None if targets is None else
                 list(zip(targets, salts or [None] * len(targets))))
        kept, rgs, nbytes, may_split = [], [], [], False
        for p in paths:
            bounds = _footer_bounds(p)
            hit = (None if bounds is None else
                   [i for i, b in enumerate(bounds) if _rg_may_match(
                       b, pairs, doc_id_min, doc_id_max, n_tok_min,
                       n_tok_max)])
            if hit is None or hit:
                kept.append(p)
                rgs.append(hit)
                may_split = may_split or hit is None or any(
                    _rg_may_split(bounds[i]) for i in hit)
                nbytes.append(None if hit is None else
                              sum(bounds[i]["bytes"] for i in hit))
        stitch = stitch and may_split
    known = None not in rgs
    return {"files_considered": len(paths), "files_kept": len(kept),
            "paths": kept, "row_groups": rgs, "path_bytes": nbytes,
            "row_groups_kept": sum(map(len, rgs)) if known else None,
            "bytes_kept": sum(nbytes) if known else None,
            "salts": sorted(set(salts)) if salts else None,
            "stitch": stitch}


def _lookup_targets(doc_ids: list[str] | None, doc_id_min: str | None,
                    doc_id_max: str | None) -> list[str] | None:
    """The exact ids a decode looks up: ``doc_ids``, or the one id of a
    point range (doc_id_min == doc_id_max); None for a scan."""
    if doc_ids is not None and (doc_id_min is not None
                                or doc_id_max is not None):
        raise ValueError("pass either doc_ids or doc_id_min/max, not both")
    if doc_ids is not None:
        return sorted(set(doc_ids))
    if doc_id_min is not None and doc_id_min == doc_id_max:
        return [doc_id_min]
    return None


def lookup_report(root: str, doc_ids: list[str] | None = None,
                  snapshot_id: int | None = None,
                  branch: str | None = None,
                  doc_id_min: str | None = None,
                  doc_id_max: str | None = None,
                  n_tok_min: int | None = None,
                  n_tok_max: int | None = None) -> dict:
    """What ``decode`` with the same ``doc_ids`` / doc-id range / n_tok
    range will read, without running a job: files considered, files
    kept (and their paths), the kept row groups per path with their
    count and compressed bytes, the target salts, and whether split
    parts may be read. A point lookup of ``d`` reads on the driver
    exactly the row groups ``lookup_report(root, [d])`` reports; a
    range scan reads the files ``lookup_report(root, doc_id_min=...,
    n_tok_min=...)`` reports. Computed by the same function decode
    plans with (_file_plan)."""
    targets = _lookup_targets(doc_ids, doc_id_min, doc_id_max)
    tbl = SnapshotTable(root, branch=branch)
    snap = _target_snapshot(tbl, snapshot_id)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    return _file_plan(root, snap, _data_paths(tbl, snap), branch=branch,
                      targets=targets, doc_id_min=doc_id_min,
                      doc_id_max=doc_id_max, n_tok_min=n_tok_min,
                      n_tok_max=n_tok_max)


def _read_chunks(path: str, row_groups: list[int] | None,
                 columns: list[str]) -> Iterator[pa.Table]:
    """``columns`` of the chunk rows of one committed data file, read
    with pyarrow one row group at a time: the listed ``row_groups``, or
    all of them (None)."""
    from tokencodec.spark.encode_job import _open_parquet
    with _open_parquet(path) as pf:
        for i in (range(pf.num_row_groups) if row_groups is None
                  else row_groups):
            yield pf.read_row_group(i, columns=columns)


def _chunk_reader(cols: list[str], extras: tuple, packed: bool,
                  dels: _Deletes | None = None,
                  targets: list[str] | None = None,
                  salts: list[int] | None = None,
                  doc_id_min: str | None = None,
                  doc_id_max: str | None = None,
                  buckets: list[int] | None = None,
                  sources: list[str] | None = None,
                  n_tok_min: int | None = None,
                  n_tok_max: int | None = None):
    """The one chunk reader of scans (in tasks) and lookups (on the
    driver): a function from (path, row groups) units to the decoded
    rows of ``cols`` and the extras that pass the filters, and the
    chunk columns it reads.

    Each row group is read with pyarrow and masked to the chunks that
    may hold a matching row: the doc-id and n_tok ranges against the
    chunk's bounds (split parts are exempt from the n_tok range: their
    bounds describe part lengths), lookup ``targets`` (the first target
    at or above a chunk's doc_id_min is not above its doc_id_max) and
    their ``salts``, ``buckets``, and ``sources`` against the chunk's
    JSON source set, a substring test that may keep an extra chunk but
    never drops a matching one (NULL = unknown = keep). Decoded rows
    are then filtered exactly.

    Whole chunks decode as they stream. A file's split parts pass the
    Bloom probe and are held, compressed, until the file ends; then
    _stitch reassembles them, one batch per document (split_docs): every
    writer puts all parts of a split document in one file. A projection
    without tokens or n_tok reads only part 0 of a split document, which
    carries its identity. Pending deletes (``dels``) mask by each file's
    data seq, looked up once per file."""
    import json

    import pyarrow.compute as pc

    stitch = "tokens" in cols or "n_tok" in cols
    fn, page_cols = make_decode_batches(packed, cols, extras,
                                        targets=targets, dels=dels)
    need = {"doc_part", "doc_parts"} | ({"split_uid"} if stitch else set())
    conds, exact = [], []
    for c, op, v in (("doc_id", "greater_equal", doc_id_min),
                     ("doc_id", "less_equal", doc_id_max),
                     ("n_tok", "greater_equal", n_tok_min),
                     ("n_tok", "less_equal", n_tok_max)):
        if v is None:
            continue
        # a chunk may hold a row >= v if its max is, <= v if its min is
        bound = f"{c}_max" if op == "greater_equal" else f"{c}_min"
        need.add(bound)

        def cond(t: pa.Table, op=op, b=bound, v=v, exempt=c == "n_tok"):
            m = getattr(pc, op)(t[b], v)
            return pc.or_(pc.greater(t["doc_parts"], 1), m) if exempt else m
        conds.append(cond)
        exact.append(lambda r, op=op, c=c, v=v: getattr(pc, op)(r[c], v))
    for c, vs in (("doc_id", targets), ("source", sources)):
        if vs is not None:
            exact.append(lambda r, c=c, vs=pa.array(vs, pa.string()):
                         pc.is_in(r[c], value_set=vs))
    if targets is not None:
        need |= {"doc_id_min", "doc_id_max"}
        tgt = np.array(targets, dtype=object)

        def covers(t: pa.Table) -> pa.Array:
            lo = t["doc_id_min"].to_numpy(zero_copy_only=False)
            hi = t["doc_id_max"].to_numpy(zero_copy_only=False)
            first = tgt[np.minimum(np.searchsorted(tgt, lo), len(tgt) - 1)]
            return pa.array((lo <= first) & (first <= hi), pa.bool_())
        conds.append(covers)
    # a doc's salt is crc32(doc_id) % n_salts under the table's one
    # salt_mod scheme, and split parts and compaction rewrites keep
    # it: a lookup reads only its targets' salts of n_salts (65536 at
    # design scale), which hash-spread doc-id ranges alone barely narrow
    for name, vals in (("salt", salts), ("bucket", buckets)):
        if vals is not None:
            need.add(name)
            conds.append(lambda t, name=name, vs=pa.array(vals, pa.int32()):
                         pc.is_in(t[name], value_set=vs))
    if sources is not None:
        need.add("source_set")
        needles = [json.dumps(s) for s in sources]

        def overlaps(t: pa.Table) -> pa.Array:
            m = pc.is_null(t["source_set"])
            for s in needles:
                m = pc.or_kleene(m, pc.match_substring(t["source_set"], s))
            return m
        conds.append(overlaps)
    if not stitch:
        conds.append(lambda t: pc.equal(t["doc_part"], 0))
    # _stitch reads a subset of the whole-chunk kernel's pages
    read = sorted({*page_cols, *need})

    def rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for f in exact:
                b = b.filter(f(b))
            if b.num_rows:
                yield b

    def run(units) -> Iterator[pa.RecordBatch]:
        for path, rgs in units:
            seq = None if dels is None else dels.seq_of(path)
            parts = []
            for t in _read_chunks(path, rgs, read):
                for c in conds:
                    t = t.filter(c(t))
                split = pc.greater(t["doc_parts"], 1)
                if stitch and pc.any(split).as_py():
                    # every part carries its document's id in its Bloom
                    # filter, so a lookup keeps all parts or none
                    parts += _bloom_rows(t.filter(split).to_batches(),
                                         targets)
                    t = t.filter(pc.invert(split))
                if t.num_rows:
                    yield from rows(fn(iter(t.to_batches()), seq))
            if parts:
                yield from rows(_stitch(pa.Table.from_batches(parts), cols,
                                        extras, packed, dels, seq))

    return run, read


def _scan_tasks(snap: dict, plan: dict, n_files: int,
                cores: int) -> list[list[tuple]]:
    """The (path, row groups) units each scan task reads, from a
    _file_plan: one unit per kept file, so all parts of a split document
    land in one task. encode_job.assign_splits sizes and balances the
    tasks by each file's kept bytes; a file read whole (an un-narrowed
    decode reads no footer on the driver) or without stats weighs the
    snapshot's mean file, ``table_totals.enc_bytes / n_files``. A scan
    with no kept file runs one task that reads nothing."""
    from tokencodec.spark.encode_job import assign_splits
    mean = snap["metrics"]["table_totals"]["enc_bytes"] // max(n_files, 1)
    units = [(p, rgs, mean if b is None else b) for p, rgs, b in zip(
        plan["paths"], plan["row_groups"], plan["path_bytes"])]
    return assign_splits(units, cores) or [[]]


def decode(spark: SparkSession, root: str,
           doc_id_min: str | None = None, doc_id_max: str | None = None,
           doc_ids: list[str] | None = None,
           buckets: list[int] | None = None, packed: bool = False,
           columns: list[str] | None = None,
           snapshot_id: int | None = None,
           sources: list[str] | None = None,
           n_tok_min: int | None = None,
           n_tok_max: int | None = None,
           paths: list[str] | None = None,
           tag: str | None = None,
           branch: str | None = None) -> DataFrame:
    """Decode committed pages; optional chunk pruning + page projection.

    Data skipping the reference lacks entirely (it always decodes every
    column chunk of every row group, /root/reference/src/Parquet/Reader.hs:577-585):
    per-chunk stats recorded at encode time — doc-id range, length
    bucket, n_tok range, and the distinct-source set — prune whole
    chunks BEFORE any of their pages is parsed, min/max skipping
    exactly like Iceberg/parquet row-group stats. Every chunk predicate
    is re-applied row-level after decode (chunk ranges merely overlap
    the predicate; rows must match it exactly). A NULL source set (over
    the recording cap) means "unknown" and is never pruned.
    Split-document parts are exempt from n_tok pruning: their stats
    describe part lengths, and the filter applies to the reassembled
    document length.
    ``columns`` projects at the page level: only the requested columns'
    binary pages are read and parsed.
    ``doc_ids`` is the batch exact-match lookup (takedown verification,
    sample fetch): chunks are pruned by id-range overlap, the union of
    the targets' derived salts, and any-of Bloom membership, then rows
    re-filtered to the exact set. Takedown-sized lists by contract
    (the same bound as delete sets); mutually exclusive with
    doc_id_min/max. A lookup (``doc_ids``, or doc_id_min == doc_id_max)
    runs the chunk reader (_chunk_reader) on the driver and returns a
    local DataFrame: no Spark job. Any other decode is a scan:
    ``spark.range`` tasks run the same reader over their files
    (_scan_tasks), with no FileScan and no Exchange in the plan. Either
    way the root must be one pyarrow can address.
    """
    # lookup targets: an exact point lookup is the one-id batch lookup
    targets = _lookup_targets(doc_ids, doc_id_min, doc_id_max)
    from tokencodec.spark.encode_job import require_direct_write
    require_direct_write(root, "a scan" if targets is None else "a lookup")

    # the target snapshot is resolved ONCE; every manifest helper below
    # reads it from here. Time travel by name: a tag
    # (SnapshotTable.create_tag) resolves to its pinned snapshot id
    tbl = SnapshotTable(root, branch=branch)
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass either tag or snapshot_id, not both")
        snapshot_id = tbl.tag(tag)["snapshot_id"]
    snap = _target_snapshot(tbl, snapshot_id)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")

    # schema evolution: extra columns declared anywhere on the chain are
    # part of the logical schema — default projection includes them, and
    # chunks predating a column back-fill NULL (manifest-only resolution)
    from tokencodec.spark.encode_job import table_extra_schema
    extra_schema = table_extra_schema(root, branch=branch, snap=snap)
    req = (list(ALL_COLUMNS) + sorted(extra_schema)
           if columns is None else list(columns))
    bad = [c for c in req if c not in ALL_COLUMNS and c not in extra_schema]
    if bad:
        raise ValueError(f"unknown columns {bad}; available: "
                         f"{ALL_COLUMNS + sorted(extra_schema)}")
    extras = tuple((c, extra_schema[c]) for c in req if c in extra_schema)
    # columns needed internally for row-level re-filters; decoded if
    # missing, dropped again at the end
    cols = [c for c in req if c in ALL_COLUMNS]
    if extras and not cols:
        # an extras-only projection still needs one core page for the
        # chunk row count (NULL back-fill length on pre-column chunks)
        cols = ["doc_id"]
    if sources is not None and "source" not in cols:
        cols = cols + ["source"]
    if (n_tok_min is not None or n_tok_max is not None) and "n_tok" not in cols:
        cols = cols + ["n_tok"]
    if targets == []:  # an empty lookup opens no file
        return spark.createDataFrame(
            _out_schema(cols, packed, extras).empty_table().select(req))
    # row-level deletes (equality-delete manifests): the ids are read
    # on the driver into one _Deletes, which the decode kernels apply
    # to each chunk by its file's commit seq (a delete masks only rows
    # committed strictly BEFORE it, Iceberg's equality-delete rule,
    # which is what makes upsert re-adds visible). Explicit-paths
    # reads (decode_changes) are scoped by their caller and skip them —
    # an incremental consumer sees appends only; delete commits are not
    # a changelog event in this engine.
    dels = None if paths is not None else _pending_deletes(tbl, snap)
    needs_doc = (targets is not None or doc_id_min is not None
                 or doc_id_max is not None or dels is not None
                 or "tokens" in cols or "n_tok" in cols)
    if needs_doc and "doc_id" not in cols:
        cols = ["doc_id"] + cols

    # driver-side file narrowing from manifests and parquet footers
    # (_file_plan — also what lookup_report shows), with no Spark job
    table_paths = _data_paths(tbl, snap)
    plan = _file_plan(root, snap, table_paths if paths is None
                      else list(paths), branch=branch, targets=targets,
                      doc_id_min=doc_id_min, doc_id_max=doc_id_max,
                      n_tok_min=n_tok_min, n_tok_max=n_tok_max)
    run, _ = _chunk_reader(cols, extras, packed, dels=dels,
                           targets=targets, salts=plan["salts"],
                           doc_id_min=doc_id_min, doc_id_max=doc_id_max,
                           buckets=buckets, sources=sources,
                           n_tok_min=n_tok_min, n_tok_max=n_tok_max)
    schema = _out_schema(cols, packed, extras)
    if targets is not None:
        # a lookup reads its kept row groups on the driver and returns a
        # local relation: collect() runs no job. An empty result
        # converts from one empty chunk, never from zero chunks
        out = list(run(zip(plan["paths"], plan["row_groups"])))
        rows = pa.Table.from_batches(out) if out else schema.empty_table()
        return spark.createDataFrame(rows.select(req))

    # a scan: each range task runs the reader over the files
    # _scan_tasks gives it; the assignment travels in the closure,
    # O(files) bytes
    tasks = _scan_tasks(snap, plan, len(table_paths),
                        spark.sparkContext.defaultParallelism)

    def scan(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            for t in b.column(0).to_pylist():
                yield from run(tasks[t])

    from pyspark.sql.pandas.types import from_arrow_schema
    return (spark.range(0, len(tasks), 1, len(tasks))
            .mapInArrow(scan, from_arrow_schema(schema)).select(*req))


def audit(original: DataFrame, decoded: DataFrame, strict: bool = False) -> dict:
    """Distributed per-row equality (token-array equality invariant).

    Fast path (default): compare per-side aggregate signatures — each
    side is scanned ONCE with a partial-aggregate plan (no shuffle of
    row data, only one tiny merge exchange), versus exceptAll's two full
    shuffles of both tables; both sides run inside ONE job so their
    stages overlap. On signature mismatch (or strict=True) the exact
    exceptAll diff runs to report row counts.
    """
    from pyspark.sql import functions as F

    cols = [c for c in ALL_COLUMNS if c in original.columns]
    # schema-evolved extras: compared when both sides carry them
    cols += sorted(c for c in original.columns
                   if c not in cols and c in decoded.columns)
    if not strict:
        # BOTH sides' signatures in ONE job (side-tagged union): the
        # two scan subtrees are independent, so Spark schedules their
        # stages concurrently and the decode side back-fills executors
        # the source side's task tail leaves idle (guide §2.6) —
        # versus two sequential _signature jobs, each under-filling
        # the cluster in its tail. Per-row hash and aggregates are
        # unchanged, so the verdict is bit-identical to the two-job
        # form.
        h = F.xxhash64(*cols)
        rows = (original.select(*cols).withColumn("_side", F.lit(0))
                .unionByName(
                    decoded.select(*cols).withColumn("_side", F.lit(1)))
                .groupBy("_side")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(h.cast("decimal(38,0)")).alias("hsum"),
                     F.bit_xor(h).alias("hxor"))
                .collect())
        sig = {r["_side"]: (r["n"], r["hsum"], r["hxor"]) for r in rows}
        empty = (0, None, None)
        if sig.get(0, empty) == sig.get(1, empty):
            return {"missing": 0, "extra": 0, "ok": True}
    # exceptAll is POSITIONAL: align both sides on the shared column
    # list (decode emits extras in sorted order, which need not match
    # the source's insertion order)
    left, right = original.select(*cols), decoded.select(*cols)
    missing = left.exceptAll(right).count()
    extra = right.exceptAll(left).count()
    return {"missing": missing, "extra": extra,
            "ok": missing == 0 and extra == 0}


def changed_paths(root: str, since_snapshot_id: int,
                  until_snapshot_id: int | None = None) -> list[str]:
    """Data paths ADDED by commits after ``since_snapshot_id`` on the
    current chain (manifest walk only — no Spark job). Append commits
    contribute the paths of their ``new_groups``; replace commits
    (compaction) change only the physical layout of already-committed
    rows and contribute nothing. Raises when ``since`` is not on the
    retained chain: after expiry the walk cannot prove the change set
    is complete (the standard incremental-scan caveat — consume changes
    inside the snapshot-retention window).

    ``until_snapshot_id`` bounds the scan (inclusive) — the
    exactly-once consumer protocol reads its new cursor FIRST, then
    scans (since, until]: a commit racing the scan lands either inside
    this bounded cycle or after the new cursor, never both."""
    tbl = SnapshotTable(root)
    chain = tbl.chain()
    if not chain:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    ids = [s["snapshot_id"] for s in chain]
    if since_snapshot_id not in ids:
        raise ValueError(
            f"snapshot {since_snapshot_id} is not on the retained chain "
            f"{ids} (expired or never committed): incremental changes "
            "cannot be enumerated completely")
    if until_snapshot_id is not None:
        if until_snapshot_id not in ids:
            raise ValueError(
                f"snapshot {until_snapshot_id} is not on the retained "
                f"chain {ids}: cannot bound the incremental scan")
        chain = chain[:ids.index(until_snapshot_id) + 1]
    out: list[str] = []
    for s in chain[ids.index(since_snapshot_id) + 1:]:
        if s.get("metrics", {}).get("op") in ("compact", "purge", "resalt"):
            continue  # rewrite-files: no logical rows added
        keys = [k for k in s.get("new_groups", []) if not is_delete_group(k)]
        if not keys:
            continue  # delete manifests hold ids, not token rows
        # a spill in the same commit can fold new groups into a set
        # file; resolve per snapshot (set files are process-cached)
        resolved = tbl.resolve_groups(s)
        for k in keys:
            out.extend(resolved.get(k, []))
    return out


def decode_changes(spark: SparkSession, root: str, since_snapshot_id: int,
                   packed: bool = False,
                   columns: list[str] | None = None,
                   until_snapshot_id: int | None = None) -> DataFrame:
    """Incremental read (Iceberg's incremental append scan): decode
    ONLY the rows committed after ``since_snapshot_id`` — the shape an
    incremental training-data consumer runs per ingestion cycle, paying
    O(new data), never O(table). Split documents are safe: a split
    group's parts are always committed together inside one group, so
    reassembly sees every part. Paths come straight from the manifest
    chain (changed_paths); files of append commits survive later
    compaction until snapshot expiry, so consume within the retention
    window."""
    return decode(spark, root, packed=packed, columns=columns,
                  paths=changed_paths(root, since_snapshot_id,
                                      until_snapshot_id))
