"""Integrity verification (fsck) for an encoded snapshot table.

Distributed analog of the reference's page-byte accounting and
validation discipline (`validate_consumed_page_bytes`
/root/reference/src/Parquet/Stream/Reader.hs:349-353, rep/def zip
checks :111-120): every committed chunk's four pages are parsed,
CRC-verified, and cross-checked — tokens page value count must equal
the n_tok page's sum, string pages must carry n_rows values, and the
recorded enc/raw byte metrics must match the page headers. It also
checks the invariants the readers assume of this table format: a
chunk's salt, doc-id bounds, split and n_tok columns are set, its
source set is NULL or a JSON array, every committed data path is a
parquet file, and each split document's parts 0..doc_parts-1 appear
exactly once, all in one data file (the scan planner gives each file to
one task, which stitches its split parts when the file ends). Runs as
one mapInArrow pass plus one aggregate over the split parts' metadata;
returns a per-chunk report DataFrame. A vector table (the snapshot's
``kind``) gets the same discipline over its three pages.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from tokencodec import pageformat
from tokencodec.spark.decode_job import _data_paths, decode_extra_page
from tokencodec.spark.encode_job import read_pages
from tokencodec.spark.table import SnapshotTable

REPORT_DDL = ("chunk_uid string, ok boolean, error string, "
              "n_rows int, n_tokens bigint, crc_checked int")

_COLS = ["chunk_uid", "n_rows", "n_tokens", "raw_bytes", "enc_bytes",
         "page_tokens", "page_doc_id", "page_n_tok", "page_source",
         "extra_pages", "doc_bloom", "salt", "doc_id_min", "doc_id_max",
         "doc_part", "doc_parts", "split_uid", "n_tok_min", "n_tok_max",
         "source_set"]
# chunk columns every writer sets: decode, lookups and compaction read
# them without a NULL fallback
_NOT_NULL = ("salt", "doc_id_min", "doc_id_max", "doc_part", "doc_parts",
             "split_uid", "n_tok_min", "n_tok_max")


def _check_chunk(row: dict) -> tuple[bool, str, int]:
    checked = 0
    nulls = [c for c in _NOT_NULL if row[c] is None]
    if nulls:
        return False, f"NULL {', '.join(nulls)}", checked
    try:
        ss = row["source_set"]
        ss_ok = ss is None or isinstance(json.loads(ss), list)
    except ValueError:
        ss_ok = False
    if not ss_ok:
        return False, f"source_set {ss[:60]!r} is not a JSON array", checked
    try:
        ntok = pageformat.decode_int_page(row["page_n_tok"])
        checked += 1
        h_tok = pageformat.read_header(row["page_tokens"])
        tok = pageformat.decode_int_page(row["page_tokens"])  # CRC-verified
        checked += 1
        do, dd = pageformat.decode_string_page(row["page_doc_id"])
        checked += 1
        # Bloom integrity: every stored doc_id must test positive in the
        # chunk's filter (false positives are fine; a false negative
        # means decode's point-lookup pruning would DROP this chunk's
        # rows). A NULL blob (an empty chunk) is legitimate.
        if row.get("doc_bloom") is not None and len(do) - 1 == row["n_rows"]:
            from tokencodec import bloom
            ids = pa.Array.from_buffers(
                pa.large_utf8(), row["n_rows"],
                [None, pa.py_buffer(np.ascontiguousarray(do)),
                 pa.py_buffer(dd)]).to_numpy(zero_copy_only=False)
            if not bloom.contains_all(row["doc_bloom"], ids):
                return (False, "doc_bloom misses a stored doc_id "
                        "(point lookups would mis-prune)", checked)
            checked += 1
        so, _ = pageformat.decode_string_page(row["page_source"])
        checked += 1
        # schema-evolution extra pages: CRC + per-row count, and their
        # bytes participate in the enc/raw metric reconciliation
        extras = dict(row.get("extra_pages") or {})
        for name, page in extras.items():
            # full decode through every wrapper layer (DEFLATED /
            # NULLABLE / value codec) — CRCs verify at each layer; the
            # declared width is irrelevant to integrity, so decode at
            # the recorded kind
            n_vals = len(decode_extra_page(page))
            checked += 1
            if n_vals != row["n_rows"]:
                return (False, f"extra page '{name}' count {n_vals} != "
                        f"n_rows {row['n_rows']}", checked)
        if len(ntok) != row["n_rows"]:
            return False, f"n_tok count {len(ntok)} != n_rows {row['n_rows']}", checked
        if int(ntok.sum()) != row["n_tokens"] or len(tok) != row["n_tokens"]:
            return (False, f"token count mismatch: sum(n_tok)={int(ntok.sum())} "
                    f"decoded={len(tok)} recorded={row['n_tokens']}", checked)
        if len(do) - 1 != row["n_rows"] or len(so) - 1 != row["n_rows"]:
            return False, "string page row-count mismatch", checked
        enc = (sum(len(row[p]) for p in ("page_tokens", "page_doc_id",
                                         "page_n_tok", "page_source"))
               + sum(len(p) for p in extras.values()))
        if enc != row["enc_bytes"]:
            return False, f"enc_bytes metric {row['enc_bytes']} != pages {enc}", checked
        raw = (sum(pageformat.read_header(row[p])["raw_size"]
                   for p in ("page_tokens", "page_doc_id",
                             "page_n_tok", "page_source"))
               + sum(pageformat.read_header(p)["raw_size"]
                     for p in extras.values()))
        if raw != row["raw_bytes"]:
            return False, f"raw_bytes metric {row['raw_bytes']} != headers {raw}", checked
        if h_tok["n_values"] != row["n_tokens"]:
            return False, "tokens header n_values mismatch", checked
        return True, "", checked
    except Exception as e:  # corrupt page: CRC, truncation, bad magic
        return False, f"{type(e).__name__}: {e}", checked


_PAGE_COLS = ("page_tokens", "page_doc_id", "page_n_tok", "page_source")


_REPORT = pa.schema([("chunk_uid", pa.string()), ("ok", pa.bool_()),
                     ("error", pa.string()), ("n_rows", pa.int32()),
                     ("n_tokens", pa.int64()), ("crc_checked", pa.int32())])


def _report_batches(check, cols: list[str], page_cols: tuple):
    """mapInArrow kernel: one report row per chunk row of ``cols``,
    from ``check(row)``."""
    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from tokencodec.spark.decode_job import (_binary_views,
                                                 _map_binary_views)
        for batch in it:
            if batch.num_rows == 0:
                continue
            c = {n: batch.column(n) for n in cols}
            # zero-copy page access: memoryview slices into the binary
            # columns (incl. the extra_pages map values); .as_py() would
            # copy every page's bytes per row. Scalar metadata converts
            # once per batch, not per row.
            views = {n: _binary_views(c[n]) for n in page_cols}
            maps = (_map_binary_views(c["extra_pages"])
                    if "extra_pages" in c else None)
            scalars = {n: c[n].to_pylist() for n in cols
                       if n not in page_cols and n != "extra_pages"}
            out = []
            for r in range(batch.num_rows):
                row = {n: v[r] for n, v in scalars.items()}
                for n, (off, data) in views.items():
                    row[n] = data[off[r]:off[r + 1]]
                if maps is not None:
                    moff, mkeys, voff, vdata = maps
                    row["extra_pages"] = {
                        mkeys[j]: vdata[voff[j]:voff[j + 1]]
                        for j in range(moff[r], moff[r + 1])}
                ok, err, chk = check(row)
                out.append((row["chunk_uid"], ok, err, row["n_rows"],
                            row.get("n_tokens", 0), chk))
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, f.type) for v, f in zip(zip(*out), _REPORT)],
                schema=_REPORT)

    return fn


def _split_groups(pages: DataFrame) -> DataFrame:
    """One bad report row (``chunk_uid`` holding the split uid) per
    split document whose parts are not exactly 0..doc_parts-1, each
    once, in one data file. A scan stitches each file's split parts on
    their own, so parts spread over two files decode as two truncated
    rows with the same doc_id; no writer leaves that."""
    from pyspark.sql import functions as F
    g = (pages.filter(F.col("doc_parts") > 1).groupBy("split_uid")
         .agg(F.sort_array(F.collect_list("doc_part")).alias("parts"),
              F.max("doc_parts").alias("of"),
              F.countDistinct("doc_parts").alias("counts"),
              F.countDistinct("_metadata.file_path").alias("files")))
    whole = ((F.col("parts") == F.sequence(F.lit(0), F.col("of") - 1))
             & (F.col("counts") == 1) & (F.col("files") == 1))
    return g.filter(~whole).select(
        F.col("split_uid").alias("chunk_uid"), F.lit(False).alias("ok"),
        F.format_string("split document parts %s of doc_parts %d in %d "
                        "data files", F.col("parts").cast("string"), "of",
                        "files").alias("error"),
        F.lit(0).alias("n_rows"), F.lit(0).cast("bigint").alias("n_tokens"),
        F.lit(0).alias("crc_checked"))


def fsck(spark: SparkSession, root: str,
         branch: str | None = None) -> DataFrame:
    """One report row per chunk of the current snapshot (token or vector
    chunks, by the snapshot's ``kind``), plus one bad row (``chunk_uid``
    holding the path) per committed data path that is not a
    ``.parquet`` file and, in a token table, one (holding the split
    uid) per split document whose parts are incomplete, repeated or
    spread over several files."""
    tbl = SnapshotTable(root, branch=branch)
    snap = tbl.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    paths = _data_paths(tbl, snap)
    if snap["kind"] == "vectors":
        from tokencodec.spark.vectors import read_vector_pages
        rep = (read_vector_pages(spark, root, paths=paths).select(_VCOLS)
               .mapInArrow(_report_batches(_check_vec_chunk, _VCOLS,
                                           _VPAGE_COLS), REPORT_DDL))
    else:
        pages = read_pages(spark, root, paths=paths)
        rep = pages.select(_COLS).mapInArrow(
            _report_batches(_check_chunk, _COLS, _PAGE_COLS), REPORT_DDL)
        if paths:
            rep = rep.unionByName(_split_groups(pages))
    bad = [(p, False, "committed data path is not a .parquet file", 0, 0, 0)
           for p in paths if not p.endswith(".parquet")]
    return rep.unionByName(spark.createDataFrame(bad, REPORT_DDL)) \
        if bad else rep


# ------------------------------------------------------------ vector tables

_VCOLS = ["chunk_uid", "n_rows", "dim", "vec_id_min", "vec_id_max",
          "raw_bytes", "enc_bytes", "page_vec_id", "page_emb", "page_label"]
_VPAGE_COLS = ("page_vec_id", "page_emb", "page_label")


def _check_vec_chunk(row: dict) -> tuple[bool, str, int]:
    checked = 0
    try:
        ids = pageformat.decode_int_page(row["page_vec_id"])
        checked += 1
        emb = pageformat.decode_float_page(row["page_emb"])
        checked += 1
        lab = pageformat.decode_int_page(row["page_label"])
        checked += 1
        n = row["n_rows"]
        if len(ids) != n or len(lab) != n:
            return False, f"id/label count != n_rows {n}", checked
        if len(emb) != n * row["dim"]:
            return (False, f"embedding values {len(emb)} != "
                    f"n_rows*dim {n * row['dim']}", checked)
        if n and (int(ids.min()) != row["vec_id_min"]
                  or int(ids.max()) != row["vec_id_max"]):
            return False, "vec_id stats do not match decoded ids", checked
        enc = sum(len(row[p]) for p in _VPAGE_COLS)
        if enc != row["enc_bytes"]:
            return False, f"enc_bytes metric {row['enc_bytes']} != pages {enc}", checked
        return True, "", checked
    except Exception as e:  # corrupt page: CRC, truncation, bad magic
        return False, f"{type(e).__name__}: {e}", checked
