"""Per-layer probes for the traced run. Each probe times calls into one
layer's public functions, on the workload's own seeded source and
committed table, after the timed loop has finished."""

from __future__ import annotations

import os
import statistics
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.metrics import TOKEN_CODECS
from perfbench.workloads import Bench, audit_source, noop
from tokencodec import codecs, pageformat
from tokencodec.spark import decode_job, encode_job, maintenance
from tokencodec.spark import partition as part
from tokencodec.spark.table import SnapshotTable

_ENCODE_COLS = ["doc_id", "tokens", "n_tok", "source", "bucket", "salt"]
# token cap for the in-process (single-core) kernel probes
KERNEL_TOKENS = 6_000_000


def timed(fn, reps: int = 2) -> float:
    """Median wall of ``reps`` calls. The workload's own operations have
    already warmed the paths the probes call."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _source_plan(b: Bench):
    splits, n_rows, n_bytes = encode_job.parquet_splits(b.src.path,
                                                        return_stats=True)
    n_salts = part.salts_for(n_rows)
    partitions = max(b.spark.sparkContext.defaultParallelism,
                     n_bytes // encode_job.TARGET_TASK_BYTES)
    return splits, n_salts, partitions


def source_and_partition(b: Bench) -> dict:
    splits, n_salts, partitions = _source_plan(b)

    def packed():
        return encode_job.pack_source(b.spark, b.src.path, splits)

    def bucketed():
        return part.bucketed(packed(), n_salts=n_salts, partitions=partitions)

    t_pack = timed(lambda: noop(packed()))
    t_bucket = timed(lambda: noop(bucketed()))
    t_encode = timed(lambda: noop(bucketed().select(_ENCODE_COLS).mapInArrow(
        encode_job.make_encoder(), encode_job.PAGES_DDL)))
    groups = [r[0] for r in bucketed().groupBy("bucket", "salt")
              .agg(F.sum("n_tok")).collect()]
    encode_wall = statistics.median(b.walls.get("encode") or b.encode_walls)
    return {"source.tok_per_s": b.src.n_tokens / t_pack,
            "partition.shuffle_s": t_bucket - t_pack,
            "partition.group_tok_max_over_mean":
                max(groups) / (sum(groups) / len(groups)),
            "partition.split_docs": b.src.n_split_docs,
            "encode.write_commit_s": encode_wall - t_encode}


def _source_files(b: Bench) -> list[str]:
    """Source files holding about KERNEL_TOKENS tokens, always including
    the first oversized document's file (the split path)."""
    files = sorted(os.path.join(b.src.path, f) for f in os.listdir(b.src.path)
                   if f.endswith(".parquet"))
    out, tok = [], 0
    big = None
    for f in files:
        n = pq.read_table(f, columns=["n_tok"]).column("n_tok")
        if big is None and pc.max(n).as_py() > part.MAX_CHUNK_TOKENS:
            big = f
            tok += pc.sum(n).as_py()
        elif tok < KERNEL_TOKENS:
            out.append(f)
            tok += pc.sum(n).as_py()
    return out + ([big] if big else [])


def encoder_kernels(b: Bench) -> dict:
    """make_encoder in-process on one core over pre-bucketed batches:
    the (bucket, salt, n_tok, doc_id) order partition.bucketed gives."""
    _, n_salts, _ = _source_plan(b)
    t = pa.concat_tables(pq.read_table(f, columns=["doc_id", "tokens", "n_tok",
                                                   "source"])
                         for f in _source_files(b))
    ntok = t.column("n_tok").to_numpy()
    bucket = np.array([int(n).bit_length() for n in ntok], dtype=np.int32)
    salt = np.array([zlib.crc32(d.encode("utf-8")) % n_salts
                     for d in t.column("doc_id").to_pylist()], dtype=np.int32)
    t = (t.append_column("bucket", pa.array(bucket))
         .append_column("salt", pa.array(salt))
         .sort_by([("bucket", "ascending"), ("salt", "ascending"),
                   ("n_tok", "ascending"), ("doc_id", "ascending")]))
    batches = t.combine_chunks().to_batches(max_chunksize=16384)
    enc = encode_job.make_encoder()
    t0 = time.perf_counter()
    out = list(enc(iter(batches)))
    wall = time.perf_counter() - t0
    n_tok = int(ntok.sum())
    enc_bytes = sum(pc.sum(o.column("enc_bytes")).as_py() for o in out)
    return {"encoder.tok_per_s": n_tok / wall,
            "encoder.bytes_per_tok": enc_bytes / n_tok}


def _table_files(b: Bench) -> list[str]:
    out = []
    for p in SnapshotTable(b.table).data_paths():
        p = p[len("file:"):] if p.startswith("file:") else p
        if os.path.isdir(p):
            out += [os.path.join(d, f) for d, _, fs in os.walk(p)
                    for f in fs if f.endswith(".parquet")]
        else:
            out.append(p)
    return sorted(out)


def _inner_header(page: bytes) -> dict:
    h = pageformat.read_header(page)
    if h["codec"] == codecs.DEFLATED:
        start = pageformat.HEADER_SIZE
        h = pageformat.read_header(
            zlib.decompress(page[start:start + h["payload_len"]]))
    return h


def codec_mix(b: Bench) -> dict:
    """Token-page codecs and the DEFLATE wrap rate, from page headers of
    every committed chunk."""
    counts = dict.fromkeys(TOKEN_CODECS, 0)
    tried = wrapped = 0
    cols = ["page_tokens", "page_doc_id", "page_n_tok", "page_source"]
    for f in _table_files(b):
        t = pq.read_table(f, columns=cols)
        for page in t.column("page_tokens").to_pylist():
            name = _inner_header(page)["codec_name"]
            if name in counts:
                counts[name] += 1
        for c in cols:
            for page in t.column(c).to_pylist():
                outer = pageformat.read_header(page)["codec"]
                if outer == codecs.DEFLATED:
                    wrapped += 1
                    tried += 1
                elif outer != codecs.GROUPED and len(page) >= 128:
                    tried += 1
    out = {f"codec.{c}.chunks": n for c, n in counts.items()}
    out["deflate.wrapped_over_tried"] = wrapped / tried if tried else 0.0
    return out


def decoder_kernels(b: Bench) -> dict:
    """make_decode_batches (packed) in-process on committed page rows."""
    fn, page_cols = decode_job.make_decode_batches(packed=True)
    cols = page_cols + ["doc_part", "doc_parts", "split_uid", "n_tokens"]
    tables, tok = [], 0
    for f in _table_files(b):
        t = pq.read_table(f, columns=cols)
        tables.append(t)
        tok += pc.sum(t.column("n_tokens")).as_py() or 0
        if tok >= KERNEL_TOKENS:
            break
    batches = pa.concat_tables(tables).drop_columns(["n_tokens"]).to_batches()
    t0 = time.perf_counter()
    rows = sum(o.num_rows for o in fn(iter(batches)))
    wall = time.perf_counter() - t0
    if rows == 0:
        raise RuntimeError("decoder probe decoded no rows")
    return {"decoder.tok_per_s": tok / wall}


def audit_rate(b: Bench) -> dict:
    """Audit throughput: bulk's timed audits against the source, or one
    here; table_ops, whose table has drifted from its source by design,
    audits its table against itself."""
    if b.all_walls("audit"):
        wall = statistics.median(b.all_walls("audit"))
        return {"audit.tok_per_s": b.src.n_tokens / wall}
    if b.state is None:
        return {"audit.tok_per_s": b.src.n_tokens / timed(
            lambda: audit_source(b, b.table), reps=1)}
    tokens = sum(n for n, _ in b.state.live.values())

    def run():
        r = decode_job.audit(
            decode_job.decode(b.spark, b.table, packed=True),
            decode_job.decode(b.spark, b.table, packed=True))
        if not r["ok"]:
            raise RuntimeError(f"table_ops self-audit not ok: {r}")
    return {"audit.tok_per_s": tokens / timed(run, reps=1)}


def split_stitch(b: Bench) -> dict:
    """Decode of the oversized documents alone: every whole-document
    chunk is pruned by n_tok, split parts are exempt and get stitched."""
    def run():
        noop(decode_job.decode(b.spark, b.table, packed=True,
                               n_tok_min=part.MAX_CHUNK_TOKENS + 1))
    return {"decode.split_docs_s": timed(run)}


def _plan_nodes(jplan):
    """Physical plan nodes, descending through adaptive and query-stage
    wrappers."""
    stack = [jplan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield n
        kids = n.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _metric(node, key: str):
    m = node.metrics()
    return int(m.apply(key).value()) if m.contains(key) else None


def _rows_into_map_in_arrow(df) -> int:
    """Rows fed to the decode MapInArrow nodes, from the executed plan's
    SQL metrics: the nearest descendant that counts its output rows."""
    total = 0
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if "MapInArrow" not in n.getClass().getSimpleName():
            continue
        stack = [n.children().apply(i) for i in range(n.children().size())]
        while stack:
            c = stack.pop()
            rows = _metric(c, "numOutputRows")
            if rows is not None:
                total += rows
                continue
            stack.extend(c.children().apply(i) for i in range(c.children().size()))
    return total


def lookups(b: Bench) -> dict:
    rng = np.random.default_rng([b.seed, 0x100C])
    live = sorted(b.state.live if b.state is not None else b.src.docs)
    builds, execs, chunks, hits = [], [], 0, 0
    for j in rng.choice(len(live), size=5, replace=False):
        d = live[j]
        t0 = time.perf_counter()
        df = decode_job.decode(b.spark, b.table, doc_id_min=d, doc_id_max=d)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        if len(rows) != 1:
            raise RuntimeError(f"probe lookup {d} returned {len(rows)} rows")
        builds.append(t1 - t0)
        execs.append(t2 - t1)
        chunks += _rows_into_map_in_arrow(df)
        hits += 1
    return {"plan.build_s": statistics.median(builds[1:]),
            "plan.exec_s": statistics.median(execs[1:]),
            "lookup.chunks_decoded_per_hit": chunks / hits}


def table_metadata(b: Bench) -> dict:
    tbl = SnapshotTable(b.table)
    snap_walls, resolve_walls = [], []
    for _ in range(21):  # the first call of each warms caches
        t0 = time.perf_counter()
        snap = SnapshotTable(b.table).current_snapshot()
        t1 = time.perf_counter()
        groups = tbl.resolve_groups(snap)
        t2 = time.perf_counter()
        snap_walls.append(t1 - t0)
        resolve_walls.append(t2 - t1)
    files = [os.path.join(tbl.manifest_dir,
                          f"snapshot-{snap['snapshot_id']:06d}.json")]
    files += [os.path.join(tbl.groupsets_dir(), e["name"])
              for e in snap.get("group_manifests", [])]
    return {"table.current_snapshot_s": statistics.median(snap_walls[1:]),
            "table.resolve_groups_s": statistics.median(resolve_walls[1:]),
            "table.groups": len(groups),
            "table.manifest_bytes": sum(os.path.getsize(f) for f in files)}


def maintenance_ops(b: Bench) -> dict:
    """Median walls table_ops timed in its loop; an op the loop did not
    run (every op, for bulk) is run once here, last: it changes the
    table."""
    out = {f"maintenance.{k}_s": statistics.median(b.all_walls(k))
           for k in ("append", "delete", "compact") if b.all_walls(k)}
    if "maintenance.append_s" not in out:
        df = inputs.docs_frame(b.spark, b.seed, b.src.n_docs + 1_000_000, 400, 1)
        t0 = time.perf_counter()
        encode_job.encode(b.spark, df, b.table, commit_groups=1,
                          group_prefix="probe", direct_write=True)
        out["maintenance.append_s"] = time.perf_counter() - t0
    if "maintenance.delete_s" not in out:
        t0 = time.perf_counter()
        maintenance.delete_docs(b.spark, b.table, sorted(b.src.docs)[:5])
        out["maintenance.delete_s"] = time.perf_counter() - t0
    if "maintenance.compact_s" not in out:
        t0 = time.perf_counter()
        maintenance.compact(b.spark, b.table)
        out["maintenance.compact_s"] = time.perf_counter() - t0
    return out


PROBES = [source_and_partition, encoder_kernels, codec_mix, decoder_kernels,
          audit_rate, split_stitch, lookups, table_metadata, maintenance_ops]
