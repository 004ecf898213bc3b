"""Table maintenance: compaction, row-level deletes and snapshot expiry.

The reference is a read-only decoder; these are the Iceberg-style
maintenance operations a 10^12-sequence table accumulates a need for —
streaming micro-batches and small appends leave under-filled chunks,
takedown deletes leave masked rows behind, and every rewrite leaves
superseded files behind.

``compact`` is "rewrite data files" in one pass and one commit. The
driver plans from manifests and parquet footers: it reads the pending
delete ids with pyarrow and selects small files and files whose footer
doc-id ranges may hold a deleted id (a metadata read of the row groups
whose footers admit split parts finds split documents to re-slice).
``spark.range`` tasks read the selected files whole, as scans do
(_file_source), and re-slice those split documents in the file that
holds them. One Spark job shuffles the chunk rows on ``salt``, sorts
them (salt, bucket, chunk_uid) and runs one mapInArrow kernel. Per
(bucket, salt) run the kernel drops deleted rows (dead chunks vanish,
partly dead ones are re-encoded), merges consecutive under-filled
whole-document chunks into budget-filled ones, and passes every other
chunk through byte-identical. It writes its own parquet file, one salt
per row group (the salt-major layout: a lookup's footer narrowing keeps
only the files holding its salt). One replace-commit swaps the selected
files for the written ones and empties the delete groups; decoded rows
equal the pre-compaction decode (tests audit this). ``purge_deletes``
runs the same rewrite over only the files that may hold a deleted id,
with no merging.

``expire_snapshots`` drops manifests older than the last N snapshots
and deletes data files referenced ONLY by expired snapshots (the
garbage compaction leaves behind). The current snapshot's files are
never touched; time travel keeps working for the retained window.
"""

from __future__ import annotations

import posixpath
from collections import Counter
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokencodec import grouped, pageformat
from tokencodec.spark import partition as part
from tokencodec.spark.decode_job import (_Deletes, _binary_views,
                                         _extra_array, _footer_bounds,
                                         _pending_deletes, _read_chunks,
                                         _rg_may_split, _scheme_from_manifest,
                                         _string_array, decode,
                                         decode_extra_page, doc_tokens,
                                         spark_type_of_extra_page, split_docs)
from tokencodec.spark.encode_job import (_PAGES_TYPES, META_DDL, META_FIELDS,
                                         _encode_chunk, _rows_to_batch,
                                         assign_splits, make_direct_writer,
                                         pyarrow_fs, require_direct_write,
                                         sum_meta, table_extra_schema,
                                         write_from_tasks)
from tokencodec.spark.table import _TOTAL_KEYS, SnapshotTable, is_delete_group

_PAGE_COLS = ["page_tokens", "page_doc_id", "page_n_tok", "page_source"]

# compaction tasks cut a row group at every salt change, and within one
# salt once the buffered chunks hold this many page bytes
_ROW_GROUP_BYTES = 128 << 20


def _mask_chunk(dels: _Deletes, batch: pa.RecordBatch, r: int, pages: dict,
                seq: int, uid_prefix: str) -> tuple[int, dict | None]:
    """Apply pending deletes to chunk row ``r`` of ``batch`` (``pages``:
    its page views; ``seq``: its data seq). Returns (docs deleted, new row): (0, None) keeps
    the chunk as it is, (n, None) drops it (split parts are single-doc,
    so they die whole), else the survivors re-encoded — extras at their
    RECORDED kinds (decode_extra_page sees through DEFLATED/NULLABLE
    wraps; take() keeps NULL slots) — under a uid derived from the
    original (chunk_seq repeats across commit groups)."""
    from tokencodec.spark.encode_job import encode_extra_page

    def col(name):
        return batch.column(name)[r].as_py()

    if not dels.may_hit(col("doc_id_min"), col("doc_id_max")):
        return 0, None
    docs = _string_array(pages["page_doc_id"])
    dead = dels.dead(docs, seq)
    n_dead = int(dead.sum())
    if n_dead in (0, len(docs)):
        return n_dead, None
    keep = ~dead
    ntok = pageformat.decode_int_page(pages["page_n_tok"]).astype(np.int64)
    toks = grouped.decode_tokens_column(pages["page_tokens"])
    ends = np.cumsum(ntok)
    kidx = pa.array(np.flatnonzero(keep))
    ext = col("extra_pages")
    row = _encode_chunk(
        col("bucket"), col("salt"), col("chunk_seq"),
        docs.take(kidx),
        np.concatenate([toks[s:e] for s, e, k
                        in zip(ends - ntok, ends, keep) if k]),
        ntok[keep],
        _string_array(pages["page_source"]).take(kidx).cast(pa.string()),
        uid_prefix=uid_prefix,
        extras={n: encode_extra_page(decode_extra_page(p).take(kidx),
                                     spark_type_of_extra_page(p))
                for n, p in ext} if ext else None)
    row["chunk_uid"] = f"{uid_prefix}-{col('chunk_uid')}"
    return n_dead, row


class _MergeGroups:
    """Merge groups over chunks in (bucket, salt, chunk_uid) order — by
    chunk_uid because chunk_seq repeats across commit groups. Within a
    (bucket, salt) run a chunk is mergeable when it holds whole
    documents below half the budget; with ``cum`` the running sum of
    mergeable tokens its group is ``(cum - 1) // budget``, so groups are
    budget-bounded and a kernel buffers one at a time."""

    def __init__(self, budget: int):
        self.budget = budget
        self.key = None
        self.cum = 0

    def gid(self, key: tuple, n_tokens: int, doc_parts: int) -> int | None:
        if key != self.key:
            self.key, self.cum = key, 0
        if doc_parts != 1 or n_tokens >= self.budget // 2:
            return None
        self.cum += n_tokens
        return (self.cum - 1) // self.budget


def _merges(paths: list[str], budget: int) -> bool:
    """Would a rewrite of ``paths`` merge anything: does _MergeGroups
    put 2+ chunks in one group? Decided on the driver from the files'
    metadata columns, sorted (salt, bucket, chunk_uid) as the rewrite
    sorts them."""
    t = pa.concat_tables([t for p in paths for t in _read_chunks(
        p, None, ["bucket", "salt", "chunk_uid", "n_tokens", "doc_parts"])])
    t = t.sort_by([("salt", "ascending"), ("bucket", "ascending"),
                   ("chunk_uid", "ascending")])
    groups = _MergeGroups(budget)
    gids = Counter()
    for b, s, nt, dp in zip(*(t[c].to_pylist() for c in (
            "bucket", "salt", "n_tokens", "doc_parts"))):
        g = groups.gid((b, s), nt, dp)
        if g is not None:
            gids[b, s, g] += 1
    return any(n >= 2 for n in gids.values())


def _merge_chunks(bucket: int, salt: int, gid: int, parts: list,
                  uid_prefix: str, extras: tuple) -> dict:
    """One chunk from a merge group's chunks, ``parts`` = [(pages,
    extra-page map)] in chunk_uid order. ``extras`` is the table's
    declared extra-column schema (sorted (name, type) pairs): pages
    decode at their recorded width, chunks predating a column back-fill
    NULLs, and the merged chunk re-encodes at the DECLARED width (int-era
    chunks converge onto a later bigint). A column no part carries is
    omitted (a missing page IS all-null); mixed groups get a NULLABLE
    validity wrap."""
    from tokencodec.spark.encode_job import encode_extra_page

    doc_ids, sources, toks, ntoks = [], [], [], []
    ext_arrs: dict[str, list] = {n: [] for n, _ in extras}
    ext_seen: set[str] = set()
    for pages, ext in parts:
        ntok = pageformat.decode_int_page(pages["page_n_tok"]).astype(np.int64)
        toks.append(grouped.decode_tokens_column(pages["page_tokens"]))
        ntoks.append(ntok)
        doc_ids.append(_string_array(pages["page_doc_id"]))
        sources.append(_string_array(pages["page_source"]))
        unknown = set(ext) - {n for n, _ in extras}
        if unknown:
            # merging would silently drop these pages — only possible
            # when the manifest's schema and the pages disagree
            raise RuntimeError(
                "compact: chunk carries extra page(s) "
                f"{sorted(unknown)} absent from the declared schema "
                "chain; refusing to merge (decode would not see them "
                "either — re-declare the column via "
                "encode(extra_cols=...) or purge it)")
        for n, t in extras:
            if ext.get(n) is not None:
                ext_seen.add(n)
            ext_arrs[n].append(_extra_array(ext.get(n), t, len(ntok)))
    return _encode_chunk(
        bucket, salt, gid,
        pa.concat_arrays([a.cast(pa.string()) for a in doc_ids]),
        np.concatenate(toks), np.concatenate(ntoks),
        pa.concat_arrays([a.cast(pa.string()) for a in sources]),
        uid_prefix=uid_prefix,
        extras={n: encode_extra_page(pa.concat_arrays(ext_arrs[n]), t)
                for n, t in extras if n in ext_seen} or None)


def _reslice(parts: pa.Table, uid_prefix: str,
             max_chunk_tokens: int) -> pa.RecordBatch:
    """One file's parts of the split groups _rechunk_groups names,
    re-sliced under ``max_chunk_tokens``: a group's tokens are
    concatenated once in doc_part order and re-sliced into one
    whole-doc chunk when it fits, else fewer, larger parts. chunk_uids
    derive from the (table-unique) split uid, so rewritten chunks never
    collide with each other or with merge output. Extra pages ride
    along VERBATIM: every part of a split group carries the same
    single-doc extras, so each new chunk copies the first part's."""
    rows = []
    for doc in split_docs(parts):
        values = doc_tokens(doc)
        sgrp, bucket, salt = (doc[c][0].as_py()
                              for c in ("split_uid", "bucket", "salt"))
        total = len(values)
        n_parts = max(1, -(-total // max_chunk_tokens))
        doc_id = _string_array(doc["page_doc_id"][0].as_py())
        source = _string_array(doc["page_source"][0].as_py())
        extras = dict(doc["extra_pages"][0].as_py() or {}) or None
        for p in range(n_parts):
            lo, hi = p * max_chunk_tokens, min(total, (p + 1) * max_chunk_tokens)
            row = _encode_chunk(
                bucket, salt, p, doc_id, values[lo:hi],
                np.array([hi - lo], dtype=np.int64), source,
                doc_part=p if n_parts > 1 else 0, doc_parts=n_parts,
                uid_prefix=uid_prefix,
                split_uid=sgrp if n_parts > 1 else "", extras=extras)
            row["chunk_uid"] = (f"{uid_prefix}-r-{sgrp}-p{p}"
                                if n_parts > 1 else f"{uid_prefix}-r-{sgrp}")
            rows.append(row)
    return _rows_to_batch(rows)


def _file_source(spark: SparkSession, paths: list[str], size: dict,
                 columns: list[str], dels: _Deletes | None = None,
                 reslice: tuple | None = None) -> DataFrame:
    """``columns`` of every chunk row of the committed files ``paths``:
    ``spark.range`` tasks read whole files with _read_chunks, assigned
    by encode_job.assign_splits on their bytes (``size``) as a scan's
    _scan_tasks are. ``dels`` adds each file's data seq as ``seq``;
    ``reslice`` = (split uids, uid prefix, budget) re-slices the parts
    of those groups when their file ends (_reslice)."""
    from pyspark.sql.pandas.types import from_arrow_schema
    schema = pa.schema([(c, _PAGES_TYPES[c]) for c in columns]
                       + ([("seq", pa.int64())] if dels is not None else []))
    tasks = assign_splits([(p, None, size[p]) for p in paths],
                          spark.sparkContext.defaultParallelism)
    uids = (None if reslice is None
            else pa.array(sorted(reslice[0]), pa.string()))

    def chunks(path: str) -> Iterator[pa.Table]:
        held = []
        for t in _read_chunks(path, None, columns):
            if uids is not None:
                split = pc.is_in(t["split_uid"], value_set=uids)
                held.append(t.filter(split))
                t = t.filter(pc.invert(split))
            yield t
        if any(h.num_rows for h in held):
            yield pa.Table.from_batches([_reslice(pa.concat_tables(held),
                                                  *reslice[1:])])

    def read(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in it:
            for t in b.column(0).to_pylist():
                for path, _ in tasks[t]:
                    seq = None if dels is None else dels.seq_of(path)
                    for c in chunks(path):
                        if seq is not None:
                            c = c.append_column("seq", pa.repeat(seq, len(c)))
                        yield from c.cast(schema).to_batches()

    return (spark.range(0, len(tasks), 1, len(tasks))
            .mapInArrow(read, from_arrow_schema(schema)))


def _compact_stream(it: Iterator[pa.RecordBatch], budget: int,
                    uid_prefix: str, extras: tuple, dels: _Deletes | None,
                    stats: dict) -> Iterator[pa.Table]:
    """Chunk rows sorted (salt, bucket, chunk_uid) -> pages tables of one
    salt each. Per chunk, in order: pending deletes apply (_mask_chunk,
    the chunk's data seq from its ``seq`` column), the survivor joins a
    merge group (_MergeGroups; a ``budget`` of 0 merges nothing), groups
    of 2+ chunks re-encode as one (_merge_chunks); every other chunk
    passes through byte-identical. ``stats`` counts purged documents (a
    split doc once) and merged chunks."""
    schema = pa.schema(_PAGES_TYPES)
    groups = _MergeGroups(budget)
    kept: list[tuple[pa.RecordBatch, list[int]]] = []  # pass-through rows
    new_rows: list[dict] = []
    buffered = 0
    group: list[tuple] = []  # the open merge group: (batch | None, row, pages)
    group_id = None

    def emit(batch, r, pages):
        nonlocal buffered
        if batch is None:
            new_rows.append(r)
            buffered += len(r["page_tokens"])
            return
        buffered += len(pages["page_tokens"])
        if kept and kept[-1][0] is batch:
            kept[-1][1].append(r)
        else:
            kept.append((batch, [r]))

    def close_group():
        if len(group) >= 2:
            emit(None, _merge_chunks(
                *group_id,
                [(pages or r, dict((r["extra_pages"] if b is None else
                                    b.column("extra_pages")[r].as_py())
                                   or []))
                 for b, r, pages in group], uid_prefix, extras), None)
            stats["n_merged_chunks"] += len(group)
        else:
            for item in group:
                emit(*item)
        group.clear()

    def flush() -> Iterator[pa.Table]:
        nonlocal buffered
        pieces = [pa.Table.from_batches([b.select(schema.names)
                                         .take(pa.array(idx))]).cast(schema)
                  for b, idx in kept]
        if new_rows:
            pieces.append(pa.Table.from_batches([_rows_to_batch(new_rows)]))
        kept.clear()
        new_rows.clear()
        buffered = 0
        if pieces:
            yield pa.concat_tables(pieces)

    key = None
    for batch in it:
        views = {c: _binary_views(batch.column(c)) for c in _PAGE_COLS}
        cols = {c: batch.column(c).to_pylist() for c in
                ("bucket", "salt", "n_tokens", "doc_part", "doc_parts")}
        seqs = batch.column("seq").to_pylist() if dels is not None else None
        for r in range(batch.num_rows):
            k = (cols["bucket"][r], cols["salt"][r])
            if k != key:
                close_group()
                if key is not None and k[1] != key[1]:
                    yield from flush()
                key = k
            if buffered >= _ROW_GROUP_BYTES:
                yield from flush()
            pages = {c: data[off[r]:off[r + 1]]
                     for c, (off, data) in views.items()}
            item = (batch, r, pages)
            n_tok, parts = cols["n_tokens"][r], cols["doc_parts"][r]
            if dels is not None:
                n_dead, row = _mask_chunk(dels, batch, r, pages, seqs[r],
                                          uid_prefix)
                if n_dead and (parts == 1 or cols["doc_part"][r] == 0):
                    stats["n_purged_rows"] += n_dead
                if row is not None:
                    item = (None, row, None)
                    n_tok, parts = row["n_tokens"], row["doc_parts"]
                elif n_dead:
                    continue
            g = groups.gid(k, n_tok, parts)
            if g is None:
                emit(*item)
                continue
            if (*k, g) != group_id:
                close_group()
                group_id = (*k, g)
            group.append(item)
    close_group()
    yield from flush()


# compaction summary rows: the direct writer's per-file columns plus
# what the task purged and merged
_COMPACT_FIELDS = META_FIELDS + [("n_purged_rows", pa.int64()),
                                 ("n_merged_chunks", pa.int64())]
_COMPACT_DDL = META_DDL + ", n_purged_rows bigint, n_merged_chunks bigint"


def _compact_batches(run_dir: str, parquet_codec: str, budget: int,
                     uid_prefix: str, extras: tuple, dels: _Deletes | None):
    """mapInArrow: sorted chunk rows -> this task's compacted file
    (write_task_files) -> its summary row. A task whose every chunk was
    deleted writes no file; its row (file NULL) still counts them."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from tokencodec.spark.encode_job import meta_batch, write_task_files

        stats = {"n_purged_rows": 0, "n_merged_chunks": 0}
        rows = write_task_files(
            _compact_stream(it, budget, uid_prefix, extras, dels, stats),
            run_dir, parquet_codec)
        if rows or stats["n_purged_rows"]:
            rows = rows or [{**dict.fromkeys([n for n, _ in META_FIELDS], 0),
                             "file": None}]
            rows[0].update(stats)  # one file per task (commit_groups=1)
            yield meta_batch(rows, _COMPACT_FIELDS)

    return fn


def _file_may_hit(path: str, dels: _Deletes) -> bool:
    """May a data file hold a deleted id, by its footer's row-group
    doc-id bounds? Unknown stats say yes."""
    bounds = _footer_bounds(path)
    return bounds is None or any(
        dels.may_hit(b.get("doc_id_min", (None, None))[0],
                     b.get("doc_id_max", (None, None))[1]) for b in bounds)


def _rechunk_groups(paths: list[str], max_chunk_tokens: int) -> list[dict]:
    """Complete split groups whose parts would SHRINK under
    ``max_chunk_tokens`` (encode ran with a smaller budget) and all lie
    in one file, as {sgrp, k, file}; a partial group or one spread over
    files (corruption, concurrent surgery) passes through. Reads on the
    driver the metadata columns of only the row groups whose footers
    may hold split parts."""
    parts = []
    for p in paths:
        b = _footer_bounds(p)
        rgs = None if b is None else [i for i, r in enumerate(b)
                                      if _rg_may_split(r)]
        if rgs != []:
            parts += [t.append_column("file", pa.repeat(p, t.num_rows))
                      for t in _read_chunks(
                          p, rgs, ["split_uid", "n_tokens", "doc_parts"])]
    if not parts:
        return []
    t = pa.concat_tables(parts)
    agg = t.filter(pc.greater(t["doc_parts"], 1)).group_by("split_uid") \
        .aggregate([("n_tokens", "sum"), ("doc_parts", "count"),
                    ("doc_parts", "max"), ("file", "distinct")])
    return [{"sgrp": r["split_uid"], "k": r["doc_parts_count"],
             "file": r["file_distinct"][0]} for r in agg.to_pylist()
            if r["doc_parts_count"] == r["doc_parts_max"]
            and len(r["file_distinct"]) == 1
            and -(-r["n_tokens_sum"] // max_chunk_tokens)
            < r["doc_parts_max"]]


def _page_totals(spark: SparkSession, paths: list[str], size: dict) -> dict:
    """Chunk, document, token, byte totals and max doc_parts of
    ``paths``, aggregated from metadata columns (page blobs never read).
    A split document counts once, in its first part."""
    if not paths:
        return dict.fromkeys(_TOTAL_KEYS + ("max_doc_parts",), 0)
    tot = (_file_source(spark, paths, size, ["doc_part", "n_rows", "n_tokens",
                                             "enc_bytes", "doc_parts"])
           .agg(F.count(F.lit(1)).alias("n_chunks"),
                F.sum(F.when(F.col("doc_part") == 0, F.col("n_rows")))
                .alias("n_rows"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("enc_bytes").alias("enc_bytes"),
                F.max("doc_parts").alias("max_doc_parts"))
           .collect()[0].asDict())
    return {k: int(v or 0) for k, v in tot.items()}


def _salt_sorted(df: DataFrame) -> DataFrame:
    return (df.repartition("salt")
            .sortWithinPartitions("salt", "bucket", "chunk_uid"))


def compact(spark: SparkSession, root: str,
            max_chunk_tokens: int = part.MAX_CHUNK_TOKENS,
            parquet_codec: str = "zstd",
            small_file_bytes: int = 64 << 20) -> dict:
    """Purge pending deletes and merge under-filled chunks in one
    rewrite job and one replace-commit. Returns the new snapshot (or the
    current one when there is nothing to do).

    FILE-GRANULAR (Iceberg's rewrite-data-files): only files below
    ``small_file_bytes``, files whose footers may hold a pending
    deleted id and files holding shrinkable split parts are
    rewritten; healthy big files stay referenced untouched. Without
    pending deletes or split groups to re-slice, the driver first looks
    for a merge group of 2+ chunks in the selected files' metadata
    columns (_merges): a no-op compaction runs no Spark job and writes
    and commits nothing. Commit metrics come from
    the tasks' summary rows plus a metadata aggregate over the untouched
    files. The tasks write with pyarrow, so a root pyarrow cannot
    address is refused."""
    return _rewrite(spark, root, max_chunk_tokens, parquet_codec,
                    small_file_bytes)


def _rewrite(spark: SparkSession, root: str, max_chunk_tokens: int,
             parquet_codec: str, small_file_bytes: int, purge: bool = False,
             branch: str | None = None) -> dict:
    """compact's rewrite. ``purge`` is purge_deletes': it rewrites only
    the files _file_may_hit selects, re-slices nothing and commits
    ``op: purge``; its ``max_chunk_tokens`` of 0 merges nothing.
    ``branch`` rewrites that branch's chain. A rewrite that only merges
    runs the salt-shuffled write (two Spark jobs under AQE) plus, when
    files are kept, their metadata aggregate."""
    require_direct_write(root, "purge_deletes" if purge else "compact")
    tbl = SnapshotTable(root, branch=branch)
    snap = tbl.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    grp_map = tbl.resolve_groups(snap)
    has_deletes = any(is_delete_group(k) and ps for k, ps in grp_map.items())
    if purge and not has_deletes:
        return snap
    dels = _pending_deletes(tbl, snap)
    all_paths = [p for k, ps in grp_map.items()
                 if not is_delete_group(k) for p in ps]
    size = {p: tbl.fs.size(p) for p in all_paths}
    selected = {p for p in all_paths
                if (not purge and size[p] < small_file_bytes)
                or (dels is not None and _file_may_hit(p, dels))}
    # shrinkable split groups are reassembled and re-sliced (a table
    # re-compacted with a larger budget would keep its fragments
    # forever otherwise); their files are rewritten in full, whatever
    # their size — leaving them referenced would double-read the parts
    mdp = snap["metrics"]["max_doc_parts_chain"]
    rech = (_rechunk_groups(all_paths, max_chunk_tokens)
            if not purge and mdp > 1 else [])
    selected.update(r["file"] for r in rech)
    if not selected and not has_deletes:
        return snap  # nothing to rewrite and no delete group to empty

    uid_prefix = f"{'prg' if purge else 'cmp'}{snap['snapshot_id'] + 1}"
    meta, new_files = [], []
    if selected:
        paths = sorted(selected)
        if dels is None and not rech and not _merges(paths,
                                                      max_chunk_tokens):
            # only a merge could have changed anything, and the
            # metadata columns show none: no job, no byte written
            return snap
        # re-slice in the source, so a doc that reassembles small enough
        # joins a merge group in this same pass
        pages = _file_source(
            spark, paths, size, list(_PAGES_TYPES), dels,
            reslice=([r["sgrp"] for r in rech], uid_prefix,
                     max_chunk_tokens) if rech else None)
        extras = tuple(sorted(table_extra_schema(
            root, branch=branch, snap=snap).items()))
        meta = write_from_tasks(
            tbl, _salt_sorted(pages),
            lambda run_dir: _compact_batches(
                run_dir, parquet_codec, max_chunk_tokens, uid_prefix,
                extras, dels),
            _COMPACT_DDL)
        new_files = sorted(r["file"] for r in meta if r["file"])

    # table-wide metrics from measured values — what the tasks wrote
    # plus the untouched files — re-anchor the chain's totals; the
    # chain's historical max doc_parts survives a layout that no longer
    # splits
    kept = [p for p in all_paths if p not in selected]
    tot, new = _page_totals(spark, kept, size), sum_meta(meta)
    n_rech_parts = sum(r["k"] for r in rech)
    m = {**{k: tot[k] + new[k] for k in _TOTAL_KEYS},
         "max_doc_parts": max(tot["max_doc_parts"], new["max_doc_parts"],
                              int(mdp)),
         "compacted_chunks": sum(r["n_merged_chunks"] for r in meta)
         + n_rech_parts,
         "rechunked_split_parts": n_rech_parts,
         "rechunked_split_groups": len(rech),
         "kept_files": len(kept),
         "rewritten_files": len(selected),
         "n_delete_ids": dels.n_ids if dels is not None else 0,
         "n_purged_rows": sum(r["n_purged_rows"] for r in meta),
         "op": "purge" if purge else "compact"}
    m["table_totals"] = {k: m[k] for k in _TOTAL_KEYS}
    m["max_doc_parts_chain"] = m["max_doc_parts"]
    # every group keeps its untouched files; the written files attach to
    # the first group key (chunk group identity lives in the chunk_uid
    # prefix); delete groups empty: nothing is left to mask
    new_groups = {}
    attached = False
    for k in sorted(grp_map):
        if is_delete_group(k):
            new_groups[k] = []
            continue
        survivors = [p for p in grp_map[k] if p not in selected]
        new_groups[k] = ([] if attached else new_files) + survivors
        attached = True
    return tbl.commit(new_groups, metrics=m, replace=True)


def _write_ids(tbl: SnapshotTable, ids) -> tuple[list[str], int]:
    """Write delete ids (a pyarrow string array, chunked or not) on the
    driver as one sorted, de-duplicated parquet file under a fresh run
    directory. Returns (its path, or none when there is no id; the
    number of distinct ids)."""
    import pyarrow.parquet as pq

    ids = pc.unique(ids)  # a NULL id is kept: it masks nothing
    if not len(ids):
        return [], 0
    path = posixpath.join(tbl.new_run_dir(), "part-00000-ids.parquet")
    tbl.fs.mkdirs(posixpath.dirname(path))
    pafs_fs, local = pyarrow_fs(path)
    pq.write_table(pa.table({"doc_id": pc.take(ids, pc.sort_indices(ids))}),
                   local, filesystem=pafs_fs)
    return [path], len(ids)


def delete_docs(spark: SparkSession, root: str, doc_ids,
                branch: str | None = None) -> dict:
    """Row-level takedown (VERDICT r4 next #3 — Iceberg v2 equality
    deletes): commit a DELETE manifest of doc_ids. No data file is
    touched; every reader masks the deletes at read time, inside its
    decode kernels (the whole document disappears, every copy committed
    before the delete and every split part), time travel before the
    delete still shows the rows, and ``purge_deletes`` / ``compact``
    later rewrite them away physically.

    ``doc_ids`` is an iterable of ids or a single-column DataFrame (its
    ids collected with one ``toArrow()`` job). The driver writes them
    as one sorted, deduplicated parquet file, so a root pyarrow cannot
    address is refused. Designed for takedown/PII-removal request sizes
    (readers load the id set on the driver and ship it in the kernels'
    closure); bulk filtering of a corpus belongs in an encode-time
    predicate, not here. ``branch`` commits the manifest on that branch
    only (audit a takedown in isolation; purge_deletes(branch=...)
    applies it)."""
    import uuid as _uuid

    require_direct_write(root, "delete_docs")
    tbl = SnapshotTable(root, branch=branch)
    if tbl.current_snapshot() is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select(F.col(doc_ids.columns[0]).cast("string")) \
            .toArrow().column(0)
    else:
        ids = pa.array([str(d) for d in doc_ids], pa.string())
    files, n_ids = _write_ids(tbl, ids)
    # a logical delete changes no pages: the chain totals carry over
    return tbl.commit({f"del:{_uuid.uuid4().hex[:8]}": files},
                      metrics={"op": "delete", "n_delete_ids": n_ids})


def resalt(spark: SparkSession, root: str, n_salts: int,
           max_chunk_tokens: int = part.MAX_CHUNK_TOKENS,
           parquet_codec: str = "zstd") -> dict:
    """Partition evolution (Iceberg's partition-spec evolution, made
    eager): migrate the WHOLE table to a new salt count in one
    replace-commit. The salt scheme fixed at creation sizes the
    metadata slice an exact-id lookup touches (1/n_salts) and the
    (bucket, salt) shuffle granularity — a table that grew 100x past
    its planning assumptions can outlive them here instead of being
    re-ingested. Every chunk is decoded, re-bucketed under the new
    scheme, and re-encoded (rows and their extra columns
    bit-identical; audit-tested); this is honestly O(table) — the same
    cost every engine pays to re-partition data that carries its
    partition in its layout. Pending row-level deletes are applied by
    the decode it re-encodes from, and the replace-commit empties the
    delete groups, so the new layout starts from a clean masking slate;
    time travel below the resalt keeps resolving under the OLD scheme
    (the scheme metric is read from the target snapshot's own chain).
    The tasks write the new layout with pyarrow, so a root pyarrow
    cannot address is refused."""
    require_direct_write(root, "resalt")
    if int(n_salts) <= 0:
        raise ValueError("n_salts must be positive")
    tbl = SnapshotTable(root)
    snap = tbl.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    old = _scheme_from_manifest(root, None, snap=snap)
    if not old or old.get("group_scheme") != "salt_mod":
        raise ValueError(f"resalt requires a salt_mod table; chain "
                         f"records {old!r}")
    if int(old.get("n_salts", 0)) == int(n_salts):
        return snap
    grp_map = tbl.resolve_groups(snap)
    extra_schema = table_extra_schema(root, snap=snap)
    extra_cols = tuple(sorted(extra_schema.items()))
    rows = decode(spark, root, columns=[*part.CORE_COLS,
                                        *(n for n, _ in extra_cols)],
                  snapshot_id=snap["snapshot_id"])
    uid_prefix = f"rs{snap['snapshot_id'] + 1}"
    meta = write_from_tasks(
        tbl, part.bucketed(rows, n_salts=int(n_salts), extra_cols=extra_cols),
        lambda run_dir: make_direct_writer(
            run_dir, parquet_codec, max_chunk_tokens, extra_cols=extra_cols,
            group_prefix=uid_prefix))
    m = sum_meta(meta)
    scheme = {"group_scheme": "salt_mod", "n_salts": int(n_salts),
              "commit_groups": 1}
    m.update({"op": "resalt", "scheme": scheme,
              "n_salts_before": int(old["n_salts"])})
    # the new layout holds the whole table: it re-anchors the chain
    m["table_totals"] = {k: m[k] for k in _TOTAL_KEYS}
    m["max_doc_parts_chain"] = m["max_doc_parts"]
    # replace-commit: every old data group empties, the first carries
    # the new layout (purge's attachment shape); old files stay
    # referenced by parent snapshots until expiry, so time travel
    # below the resalt still decodes under the old scheme
    new_groups: dict[str, list[str]] = {}
    attached = False
    for k in sorted(grp_map):
        if is_delete_group(k):
            new_groups[k] = []
            continue
        new_groups[k] = [] if attached else sorted(r["file"] for r in meta)
        attached = True
    if not attached:
        raise ValueError(f"no data groups to resalt under {root}")
    # conflict validation: a concurrent append planned under the OLD
    # n_salts must not be silently folded into the new scheme (its
    # chunks would be mis-pruned by salt lookups) — refuse and let the
    # operator re-run resalt against the advanced table
    return tbl.commit(new_groups, metrics=m, replace=True,
                      require_parent_id=snap["snapshot_id"])


def upsert_docs(spark: SparkSession, root: str, df: DataFrame,
                max_chunk_tokens: int = part.MAX_CHUNK_TOKENS,
                parquet_codec: str = "zstd",
                branch: str | None = None) -> dict:
    """Atomic MERGE by doc_id (Iceberg's row-level MERGE over equality
    deletes): replace the table's current rows for ``df``'s doc_ids
    with ``df``'s rows in ONE commit — readers see either the old
    versions or the new ones, never a mix and never a gap. The commit
    carries the re-encoded data group AND a delete manifest of the same
    ids at EQUAL sequence number; decode's equality-delete rule ("a
    delete masks only rows committed strictly before it",
    table.group_seqs) keeps the replacements visible while every older
    copy — including pre-existing rows the same ids had — disappears.
    This is the re-crawl/curation-refresh shape a training corpus
    needs; for pure takedown use ``delete_docs``, for bulk rewrite
    re-encode.

    Branch note: ``branch=`` upserts commit onto that branch for
    ISOLATED inspection (decode(branch=...));
    ``purge_deletes(branch=...)`` cleans the branch up afterwards
    without touching main. They cannot be published to main via
    publish_branch — a fast-forward can only ADD groups, and an upsert
    logically modifies shared pre-fork data (the same constraint
    Iceberg's fast-forward has). To land an audited upsert on main,
    run the same upsert_docs against main: it is already atomic, and
    replaying the identical frame is content-idempotent.

    ``df`` must carry the core columns (doc_id, tokens, n_tok, source);
    extra columns follow encode's schema-evolution rules. New chunks
    are bucketed under the TABLE's committed salt scheme, so salt and
    Bloom pruning keep working on the replacements.

    The tasks write the replacements' pages files with pyarrow, so
    lookups narrow them by their footers like any other file; the
    driver writes the delete manifest from ids collected with one
    ``toArrow()`` job. A root pyarrow cannot address is refused."""
    import uuid as _uuid
    from tokencodec.spark.encode_job import extra_schema_of

    require_direct_write(root, "upsert_docs")
    tbl = SnapshotTable(root, branch=branch)
    snap = tbl.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    scheme = _scheme_from_manifest(root, None, snap=snap)
    if not scheme or scheme.get("group_scheme") != "salt_mod" \
            or int(scheme.get("n_salts", 0)) <= 0:
        raise ValueError(
            "upsert_docs requires a table with a committed salt_mod "
            "scheme (encode_job.encode writes one); this chain records "
            f"{scheme!r}")
    missing = set(part.CORE_COLS) - set(df.columns)
    if missing:
        raise ValueError(f"upsert frame lacks core columns {sorted(missing)}")
    extra_schema = extra_schema_of(df)
    extra_cols = tuple(sorted(extra_schema.items()))
    nonce = _uuid.uuid4().hex[:8]
    prefix = f"ups{nonce}-"

    # the source frame feeds two jobs (the delete-id collect and the
    # re-encode) and may itself be an expensive pipeline: pin it
    # (released in the finally below, error paths included)
    df = df.persist()
    try:
        return _upsert_pinned(tbl, df, scheme, extra_schema, extra_cols,
                              nonce, prefix, max_chunk_tokens, parquet_codec)
    finally:
        df.unpersist()


def _upsert_pinned(tbl, df, scheme, extra_schema, extra_cols, nonce, prefix,
                   max_chunk_tokens, parquet_codec) -> dict:
    # replacement ids -> delete manifest (same shape as delete_docs)
    del_files, n_ids = _write_ids(tbl, df.select("doc_id").toArrow().column(0))
    if n_ids == 0:
        raise ValueError("empty upsert frame (use delete_docs for "
                         "pure deletions)")
    # re-encode the replacements under the table's own salt scheme
    meta = write_from_tasks(
        tbl, part.bucketed(df, n_salts=int(scheme["n_salts"]),
                           extra_cols=extra_cols),
        lambda run_dir: make_direct_writer(
            run_dir, parquet_codec, max_chunk_tokens, extra_cols=extra_cols,
            group_prefix=prefix))
    m = {**sum_meta(meta), "op": "upsert", "n_delete_ids": n_ids,
         "scheme": scheme}
    if extra_schema:
        m["extra_schema"] = extra_schema
    # ONE commit: replacements + their equality-delete manifest land
    # at the same sequence number (all-or-nothing for readers)
    return tbl.commit({f"{prefix}0": sorted(r["file"] for r in meta),
                       f"del:{nonce}": del_files}, metrics=m)


def purge_deletes(spark: SparkSession, root: str,
                  parquet_codec: str = "zstd",
                  branch: str | None = None) -> dict:
    """Physically remove rows covered by committed DELETE manifests
    (Iceberg's rewrite-data-files over position/equality deletes):
    compact's one-pass rewrite, restricted to the files whose footers
    may hold a deleted id, with no merging. The delete groups are
    replace-committed to empty (``op: purge``), and the superseded
    files age out with snapshot expiry. Returns the new snapshot (or
    the current one when there is nothing to purge). Like compact, it
    refuses a root pyarrow cannot address.

    ``branch`` purges THAT branch's delete manifests: rewritten files
    are committed on the branch chain only (shared pre-fork files stay
    referenced by main untouched — a replace commit changes references,
    never files), with attribution resolved in the branch's own
    timeline (fork-carried sub-zero seqs included). This is how a
    branch that audited an upsert cleans up without touching main."""
    return _rewrite(spark, root, 0, parquet_codec, 0, purge=True,
                    branch=branch)


def publish_staged(main_root: str, staging_root: str,
                   retire_staging: bool = True, fs=None) -> dict:
    """Write-audit-publish: adopt an audited staging table's committed
    groups into the main table with ONE metadata-only commit — no data
    is moved or rewritten, so publish is O(manifest) regardless of how
    many terabytes the staging encode produced.

    The intended workflow (Iceberg's WAP pattern): encode a new batch
    to its own staging root with a DISTINCT ``group_prefix``, run
    audit/fsck against it in isolation, then publish. Readers of the
    main table see all of it or none of it.

    Group keys are adopted VERBATIM: the group key is also the chunk-uid
    namespace, so the commit's existing duplicate-key refusal doubles as
    the uid-collision guard — a staging table encoded with the default
    prefix against a main table that already has those keys is refused
    with the advice to re-encode under a fresh prefix.

    Refused loudly: a staging table carrying delete manifests (they
    apply table-wide at read and must not sneak in via publish), a
    partitioning scheme different from the main table's (compaction and
    resume reason about one layout), roots on different filesystem
    schemes (expiry must be able to delete adopted absolute paths), and
    incompatible extra-column schema evolution (merge_extra_schema
    rules).

    ``retire_staging`` (default True) deletes the staging MANIFEST dir
    after a successful publish: ownership of the data files transfers
    to the main table, and leaving a second manifest pointing at them
    would let the staging root's own expiry/GC delete files the main
    table references. Pass False only if you delete the staging
    manifests yourself.

    Token and vector tables publish alike: the commit carries the
    staging snapshot's ``kind``, so a staging table of the other kind
    than main is refused by the commit, which writes nothing."""
    from urllib.parse import urlparse

    if urlparse(main_root).scheme != urlparse(staging_root).scheme:
        raise ValueError(
            f"main ({main_root}) and staging ({staging_root}) are on "
            "different filesystem schemes; expiry could not manage the "
            "adopted files")
    src = SnapshotTable(staging_root, fs=fs)
    s_snap = src.current_snapshot()
    if s_snap is None:
        raise ValueError(f"staging table {staging_root} has no "
                         "committed snapshot")
    s_groups = src.committed_groups()
    # only ACTIVE delete manifests refuse (matching every other call
    # site): purge_deletes/compact leave exhausted del:* keys behind as
    # empty lists forever, and refusing on those would make any staging
    # table that EVER committed a delete unpublishable — even after
    # following this very error's advice (ADVICE r5 #1)
    if any(is_delete_group(k) and ps for k, ps in s_groups.items()):
        raise ValueError(
            "staging table carries delete manifests; purge them there "
            "(purge_deletes) before publishing")
    # strip exhausted del:* keys from the adopted map: they carry no
    # rows, and adopting the key would squat the main table's del
    # namespace for no reason
    s_groups = {k: ps for k, ps in s_groups.items()
                if not is_delete_group(k)}
    sm = s_snap["metrics"]
    s_totals = sm["table_totals"]

    dst = SnapshotTable(main_root, fs=fs)
    parent = dst.current_snapshot()
    # every commit inherits its parent's scheme
    s_scheme = sm.get("scheme")
    d_scheme = parent["metrics"].get("scheme") if parent is not None else None
    if d_scheme is not None and s_scheme is not None \
            and s_scheme != d_scheme:
        raise ValueError(
            f"staging partitioning scheme {s_scheme} != main "
            f"{d_scheme}; encode the staging batch with the main "
            "table's n_salts/commit_groups")

    s_extra = sm["extra_schema_chain"]
    # the staging chain's max doc_parts: compaction may have shrunk real
    # part counts, and an overestimate only makes decode plan the
    # (correct) reassembly branch conservatively
    s_parts = sm["max_doc_parts_chain"]
    m = {
        "op": "publish_staged",
        "published_from": staging_root,
        "published_snapshot_id": s_snap["snapshot_id"],
        "n_chunks": s_totals["n_chunks"],
        "n_rows": s_totals["n_rows"],
        "n_tokens": s_totals["n_tokens"],
        "enc_bytes": s_totals["enc_bytes"],
        "max_doc_parts": s_parts,
    }
    if s_scheme is not None and d_scheme is None:
        m["scheme"] = s_scheme  # first data on an empty main table
    if s_extra:
        m["extra_schema"] = s_extra
    snap = dst.commit(dict(s_groups), metrics=m, kind=s_snap["kind"])
    if retire_staging:
        src.fs.delete(src.manifest_dir, recursive=True)
    return snap


def publish_branch(root: str, name: str, drop: bool = False,
                   fs=None) -> dict:
    """Fast-forward the main table to a branch (SnapshotTable.
    create_branch): adopt every group the branch APPENDED since its
    fork in ONE metadata-only commit on main. The write-audit-publish
    workflow without a second table root — encode onto the branch,
    audit/fsck the branch handle in isolation, publish.

    Append-only by contract: a branch history that REWROTE a group it
    shares with main (compaction, purge_deletes) or that carries delete
    manifests is refused — those mutate shared state and cannot be
    adopted as an append. Main may have advanced since the fork; the
    adoption then lands on the new head (groups collide → commit's
    duplicate-key refusal fires, exactly like publish_staged).

    ``drop=True`` removes the branch's manifest chain after a
    successful publish. The default keeps it (an Iceberg fast-forward
    leaves the branch in place); either way the data files are shared
    with main, so nothing is moved or re-owned."""
    main = SnapshotTable(root, fs=fs)
    br = SnapshotTable(root, fs=fs, branch=name)
    head = br.current_snapshot()
    fork = br.snapshot(0)
    fork_groups = br.resolve_groups(fork)
    head_groups = br.committed_groups()
    mutated = [k for k in head_groups
               if k in fork_groups and head_groups[k] != fork_groups[k]]
    dropped = [k for k in fork_groups if k not in head_groups]
    if mutated or dropped:
        raise ValueError(
            f"branch {name!r} rewrote shared groups "
            f"(mutated={sorted(mutated)[:3]}, dropped={sorted(dropped)[:3]}); "
            "publish adopts appends only — re-fork and re-encode, or run "
            "the rewrite on main directly")
    delta = {k: v for k, v in head_groups.items() if k not in fork_groups}
    if any(is_delete_group(k) for k in delta):
        raise ValueError(
            f"branch {name!r} carries delete manifests; deletes apply "
            "table-wide at read and must be issued on main, not "
            "published from a branch")
    if not delta:
        raise ValueError(f"branch {name!r} has no appended groups to publish")

    hm = head["metrics"]
    h_tot, f_tot = hm["table_totals"], fork["metrics"]["table_totals"]
    b_parts = hm["max_doc_parts_chain"]
    b_extra = hm["extra_schema_chain"]
    m = {
        "published_branch": name,
        "published_snapshot_id": head["snapshot_id"],
        "n_chunks": h_tot["n_chunks"] - f_tot["n_chunks"],
        "n_rows": h_tot["n_rows"] - f_tot["n_rows"],
        "n_tokens": h_tot["n_tokens"] - f_tot["n_tokens"],
        "enc_bytes": h_tot["enc_bytes"] - f_tot["enc_bytes"],
        "max_doc_parts": b_parts,
    }
    if b_extra:
        m["extra_schema"] = b_extra
    snap = main.commit(delta, metrics=m)
    if drop:
        main.drop_branch(name)
    return snap


def rewrite_manifests(root: str, fs=None) -> dict:
    """Consolidate the table's spilled group manifests into key-ordered,
    range-disjoint set files in ONE metadata-only commit (Iceberg's
    rewrite_manifests procedure). Commits already self-consolidate past
    the set-list cap; this forces it on demand — after a burst of small
    appends left many tiny sets, or before handing the table to a
    read-heavy consumer (disjoint ranges make commit-time validation
    and replace lookups prune to one set per key). No data is touched;
    groups are unchanged; superseded set files age out with snapshot
    expiry / orphan GC. No-op (returns the current snapshot) when the
    metadata is already in its best shape: no sets and an inline map
    under the spill threshold, or a single consolidated set."""
    from tokencodec.spark.table import spill_threshold

    tbl = SnapshotTable(root, fs=fs)
    snap = tbl.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    sets = snap.get("group_manifests", [])
    if (not sets and len(snap["groups"]) <= spill_threshold()) or \
            (len(sets) == 1 and not snap["groups"]):
        return snap
    m = {"op": "rewrite_manifests", "sets_before": len(sets),
         "inline_before": len(snap["groups"])}
    return tbl.commit({}, metrics=m, consolidate=True, kind=snap["kind"])


def _branch_live_refs(tbl: SnapshotTable) -> tuple[set[str], set[str]]:
    """(data paths, groupset file names) referenced by ANY snapshot of
    ANY branch of ``tbl`` — branches are retention holds for GC/expiry,
    like tags. Branch snapshots reference set files in the shared
    {root}/_manifest/groupsets dir, so both kinds of refs pin."""
    live: set[str] = set()
    live_sets: set[str] = set()
    for b in tbl.branches():
        br = SnapshotTable(tbl.root, fs=tbl.fs, branch=b["name"])
        for s in br.snapshots():
            for ps in br.resolve_groups(s).values():
                live.update(ps)
            live_sets.update(e["name"]
                             for e in s.get("group_manifests", []))
    return live, live_sets


def remove_orphan_files(root: str, older_than_hours: float = 24.0,
                        fs=None) -> dict:
    """Delete data/run-* entries referenced by NO snapshot and last
    modified more than ``older_than_hours`` ago — Iceberg's
    remove-orphan-files. These are the debris of jobs that crashed
    between writing a run dir and committing it (or whose commit was
    refused); readers never see them, but they accumulate. The age
    guard protects a concurrent writer's in-flight run dir — never set
    it below your longest plausible job wall time."""
    import time as _time

    tbl = SnapshotTable(root, fs=fs)
    cutoff = _time.time() - older_than_hours * 3600
    # Unreachable manifests (off the committed parent chain) cannot be
    # produced by the sequential-claim commit protocol, but legacy
    # tables written under the old claim-then-swap protocol can still
    # hold them; once old enough, drop them so the run dirs they
    # reference stop being pinned (those fall to the sweep below on the
    # next pass). SAFETY ANCHOR: classification requires a committed
    # chain to exist — when current_snapshot() is None yet manifests
    # are present (a damaged/partially-restored table), EVERY manifest
    # would classify as unreachable and this phase would erase the
    # whole table's metadata, then the sweep its data. Refuse instead:
    # that state is recoverable (roll-forward already re-anchors on the
    # highest manifest; a missing CURRENT alone no longer even gets
    # here) and GC must never turn it into permanent loss.
    all_snaps = tbl.snapshots()
    chain_ids = ({s["snapshot_id"] for s in tbl.chain()}
                 if tbl.current_snapshot() is not None else None)
    if chain_ids is None and all_snaps:
        raise RuntimeError(
            f"refusing to GC {root}: snapshot manifests exist but no "
            "committed chain anchor was found — repair the table before "
            "running remove_orphan_files")
    # tagged snapshots legitimately live OFF the chain once expiry has
    # dropped the manifests between them and the current head — a tag
    # is a retention hold, not legacy-claim debris
    tagged_ids = {ref["snapshot_id"] for ref in tbl.tags()}
    deleted_claims = 0
    for s in all_snaps:
        if s["snapshot_id"] in chain_ids or s["snapshot_id"] in tagged_ids:
            continue
        path = posixpath.join(tbl.manifest_dir,
                              f"snapshot-{s['snapshot_id']:06d}.json")
        if tbl.fs.exists(path) and tbl.fs.mtime(path) <= cutoff:
            tbl.fs.delete(path)
            deleted_claims += 1
    # TORN manifest files (parse failures — the old O_EXCL-then-write
    # protocol could crash mid-claim-write) never appear in snapshots(),
    # but a torn file at parent+1 blocks every commit of the sequential
    # protocol; age them out here so the table self-heals. Well-formed
    # chain members were already excluded above; a file that parses to
    # a chain id is never touched.
    wellformed = {s["snapshot_id"] for s in all_snaps}
    for name in tbl.fs.listdir(tbl.manifest_dir):
        if not (name.startswith("snapshot-") and name.endswith(".json")):
            continue
        sid_txt = name[len("snapshot-"):-len(".json")]
        if not sid_txt.isdigit() or int(sid_txt) in wellformed:
            continue
        path = posixpath.join(tbl.manifest_dir, name)
        if tbl.fs.exists(path) and tbl.fs.mtime(path) <= cutoff:
            tbl.fs.delete(path)
            deleted_claims += 1
    referenced: set[str] = set()
    referenced_sets: set[str] = set()
    for s in tbl.snapshots():
        for ps in tbl.resolve_groups(s).values():
            referenced.update(ps)
        referenced_sets.update(e["name"]
                               for e in s.get("group_manifests", []))
    # branch chains share {root}/data: their run dirs are referenced,
    # not orphans (a branch is a retention hold, like a tag)
    br_paths, br_sets = _branch_live_refs(tbl)
    referenced |= br_paths
    referenced_sets |= br_sets
    for p in list(referenced):
        referenced.add(p.rsplit("/", 1)[0])  # file's run dir
    data_dir = posixpath.join(root, "data")
    deleted = 0
    if tbl.fs.exists(data_dir):
        for name in sorted(tbl.fs.listdir(data_dir)):
            if not name.startswith("run-"):
                continue
            p = posixpath.join(data_dir, name)
            if p in referenced or tbl.fs.mtime(p) > cutoff:
                continue
            tbl.fs.delete(p, recursive=True)
            deleted += 1
    # groupset files leaked by lost commit races / crashes before the
    # claim are referenced by no snapshot: age them out like run dirs
    # (the age guard protects an in-flight committer's freshly written
    # set whose claim has not landed yet)
    gdir = tbl.groupsets_dir()
    deleted_sets = 0
    if tbl.fs.exists(gdir):
        for name in sorted(tbl.fs.listdir(gdir)):
            if not name.startswith("groupset-") or name in referenced_sets:
                continue
            p = posixpath.join(gdir, name)
            if tbl.fs.mtime(p) <= cutoff:
                tbl.fs.delete(p)
                deleted_sets += 1
    return {"deleted_orphan_dirs": deleted,
            "deleted_claim_manifests": deleted_claims,
            "deleted_orphan_groupsets": deleted_sets}


def expire_snapshots(root: str, keep_last: int = 1,
                     older_than_hours: float | None = None,
                     fs=None) -> dict:
    """Drop all but the last ``keep_last`` snapshots and delete the data
    files referenced only by the dropped ones, and the run directories
    that leaves empty. Tagged snapshots (SnapshotTable.create_tag) are
    retention holds: their manifests and data files survive expiry
    regardless of age — also when the tagged snapshot already sits
    OUTSIDE the retained parent chain from an earlier expire (a tag is
    resolvable for as long as it exists).

    ``older_than_hours`` adds Iceberg's time-based retention policy on
    top of the count: a snapshot committed more recently than the
    cutoff is kept even beyond ``keep_last`` (its manifest AND files),
    so "keep the last snapshot plus anything from the past 7 days"
    expresses directly."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    import time as _time
    cutoff_ms = (None if older_than_hours is None
                 else (_time.time() - older_than_hours * 3600) * 1000)
    tbl = SnapshotTable(root, fs=fs)
    # the committed parent_id chain ONLY: snapshots() would also list
    # claim files from committers that crashed before their CURRENT
    # swap, and trusting one of those as the "newest" snapshot would
    # delete the real current manifest and its solely-referenced data.
    # Unreachable claims are left for remove_orphan_files' age guard.
    snaps = tbl.chain()
    tagged = []
    for ref in tbl.tags():
        s = tbl._read_snap(ref["snapshot_id"])
        if s is not None:
            tagged.append(s)
    tagged_ids = {s["snapshot_id"] for s in tagged}
    if len(snaps) <= keep_last:
        return {"expired_snapshots": 0, "deleted_dirs": 0}
    keep = snaps[-keep_last:]
    drop = [s for s in snaps[:-keep_last]
            if s["snapshot_id"] not in tagged_ids
            and (cutoff_ms is None
                 or s.get("timestamp_ms", 0) <= cutoff_ms)]
    drop_ids = {s["snapshot_id"] for s in drop}
    # too-young history kept by the age policy pins its files exactly
    # like the count-retained window does
    kept_hist = [s for s in snaps[:-keep_last]
                 if s["snapshot_id"] not in drop_ids
                 and s["snapshot_id"] not in tagged_ids]
    live = {p for s in keep + tagged + kept_hist
            for ps in tbl.resolve_groups(s).values() for p in ps}
    # branch chains pin their data files through main-table expiry: a
    # fork references the base groups, so expiring main history never
    # deletes files a branch can still read
    br_paths, br_sets = _branch_live_refs(tbl)
    live |= br_paths
    # resolve the dropped snapshots BEFORE their set files are deleted
    dead = {p for s in drop
            for ps in tbl.resolve_groups(s).values() for p in ps} - live
    # groupset files referenced only by the dropped snapshots expire
    # with them; anything a surviving snapshot / tag / branch still
    # references is pinned
    live_sets = {e["name"] for s in keep + tagged + kept_hist
                 for e in s.get("group_manifests", [])} | br_sets
    dead_sets = {e["name"] for s in drop
                 for e in s.get("group_manifests", [])} - live_sets
    for n in sorted(dead_sets):
        p = posixpath.join(tbl.groupsets_dir(), n)
        if tbl.fs.exists(p):
            tbl.fs.delete(p)
    for p in sorted(dead):
        tbl.fs.delete(p, recursive=True)
    # drop run dirs emptied by file-granular deletes (file-list commits
    # delete individual parquet files; their parent run dir may now hold
    # nothing). Candidates are ONLY the parents of dead .parquet paths
    # and only run-* dirs themselves: every writer commits files, but a
    # committed directory path (which fsck reports) has {root}/data as
    # its parent, and sweeping that would destroy every sibling run dir
    # — including the live ones, whose parquet files are invisible to a
    # non-recursive listdir of data/.
    parents = {p.rsplit("/", 1)[0] for p in dead
               if "/" in p and p.endswith(".parquet")}
    live_parents = {p.rsplit("/", 1)[0] for p in live if "/" in p} | live
    for d in sorted(parents - live_parents):
        if (d.rsplit("/", 1)[-1].startswith("run-")
                and tbl.fs.exists(d) and tbl.fs.isdir(d)):
            left = tbl.fs.listdir(d)
            if not any(n.endswith(".parquet") for n in left):
                tbl.fs.delete(d, recursive=True)
    # sequence-number attribution (table.group_seqs) must survive chain
    # truncation for every snapshot that stays READABLE — retained
    # window, kept history, tags — and still carries an ACTIVE (non-
    # empty) delete manifest; otherwise a delete older than the
    # retention window would start masking data committed AFTER it
    # (upsert re-adds). Persist {group: first-commit seq} over the
    # union of the survivors' groups BEFORE the dropped manifests
    # disappear, merging the existing side file with a full pre-
    # deletion ancestry walk (current chain + each tag's chain). With
    # no active deletes anywhere in the surviving window the file is
    # DROPPED: attribution only serves delete masking, and data whose
    # attribution expires delete-free correctly predates any future
    # delete ("ancient" = masked). Empty del groups left by purge
    # mask nothing and hold no attribution alive.
    survivors = keep + kept_hist + tagged
    active_dels = any(is_delete_group(k) and ps
                      for s in survivors
                      for k, ps in tbl.resolve_groups(s).items())
    if active_dels:
        # one tested implementation (table.group_seqs) per survivor —
        # it already merges side file + chain with rewrite-skip and
        # first-wins, pruned to that snapshot's own groups
        attr: dict[str, int] = {}
        for s in survivors:
            for k, v in tbl.group_seqs(s).items():
                attr.setdefault(k, v)
        tbl.write_group_seqs(attr)
    elif tbl.fs.exists(tbl._group_seqs_path()):
        tbl.fs.delete(tbl._group_seqs_path())  # stale: no dels to serve
    for s in drop:
        tbl.fs.delete(posixpath.join(
            tbl.manifest_dir, f"snapshot-{s['snapshot_id']:06d}.json"))
    return {"expired_snapshots": len(drop), "deleted_dirs": len(dead)}
