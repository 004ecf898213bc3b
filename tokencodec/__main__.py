"""CLI: python -m tokencodec <encode|decode|audit|fsck|snapshots> ...

The operational surface a user of the reference's `parquet-hs` CLI
(/root/reference/src/Main.hs:15-18 — read a file, print records) would
switch to, Spark-sized: encode a token table, decode it back, audit
round-trip equality, verify integrity, inspect snapshots.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tokencodec")
    p.add_argument("--cores", type=int, default=None, help="local[N] cores")
    p.add_argument("--allow-unsafe-root", action="store_true",
                   help="opt a rename-unsafe manifest scheme with no "
                        "native client (oss://, ...) into single-writer "
                        "commits; equivalent to "
                        "TOKENCODEC_ALLOW_UNSAFE_ROOT=1. s3://, gs://, "
                        "wasb[s]:// and abfs[s]:// commit natively via "
                        "conditional PUT and need no opt-in")
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="encode a parquet token table into a snapshot table")
    enc.add_argument("src", help="parquet dir with (doc_id, tokens, n_tok, source)")
    enc.add_argument("out", help="snapshot table root")
    enc.add_argument("--commit-groups", type=int, default=2)
    enc.add_argument("--max-chunk-tokens", type=int, default=1 << 20)
    enc.add_argument("--branch", default=None,
                     help="commit onto this branch instead of main "
                     "(create with the branch subcommand first)")
    enc.add_argument("--group-prefix", default="g",
                     help="commit-group key prefix (fresh prefix = append "
                     "a new batch)")

    dec = sub.add_parser("decode", help="decode a snapshot table back to parquet")
    dec.add_argument("root")
    dec.add_argument("out")
    dec.add_argument("--doc-id-min")
    dec.add_argument("--doc-id-max")
    dec.add_argument("--doc-ids",
                     help="comma-separated EXACT doc_id batch lookup "
                          "(salt + Bloom chunk pruning; takedown-sized "
                          "lists; mutually exclusive with --doc-id-min/max)")
    dec.add_argument("--packed", action="store_true",
                     help="tokens as LE-int32 binary blobs (fast transport)")
    dec.add_argument("--columns",
                     help="comma-separated projection (page-level pushdown), "
                          "e.g. doc_id,n_tok")
    dec.add_argument("--snapshot-id", type=int,
                     help="time travel: decode the table as of this snapshot")
    dec.add_argument("--since-snapshot", type=int,
                     help="incremental read: ONLY rows committed after "
                          "this snapshot (O(new data), never O(table))")
    dec.add_argument("--sources", help="comma-separated source filter "
                                       "(chunk pruning + row re-filter)")
    dec.add_argument("--n-tok-min", type=int)
    dec.add_argument("--n-tok-max", type=int)
    dec.add_argument("--branch", default=None,
                     help="read the named branch instead of main")
    dec.add_argument("--at-tag",
                     help="time travel by name: decode the table as of "
                          "the snapshot this tag pins")

    pck = sub.add_parser(
        "pack", help="pack documents into fixed-length training "
                     "sequences, committed as a page-format table "
                     "(doc-span lineage parquet under <out>/lineage)")
    pck.add_argument("src", help="parquet dir with (doc_id, tokens, "
                                 "n_tok, source)")
    pck.add_argument("out", help="packed table root")
    pck.add_argument("--seq-len", type=int, default=2048)

    aud = sub.add_parser(
        "audit",
        help="round-trip equality vs a source table (aggregate hash "
             "signature by default; --strict for the full exceptAll proof)")
    aud.add_argument("src")
    aud.add_argument("root")
    aud.add_argument("--packed", action="store_true",
                     help="compare LE-int32 blobs (pyarrow fast source both sides)")
    aud.add_argument("--strict", action="store_true",
                     help="exact exceptAll diff instead of the hash signature")

    fs = sub.add_parser("fsck", help="verify CRCs + counts of every committed chunk")
    fs.add_argument("root")
    fs.add_argument("--branch", default=None,
                     help="fsck the named branch (pre-publish audit)")

    snaps = sub.add_parser("snapshots", help="list committed snapshots")
    snaps.add_argument("root")

    tagp = sub.add_parser(
        "tag", help="pin a named immutable tag to a snapshot (retention "
                    "hold: survives expire-snapshots)")
    tagp.add_argument("root")
    tagp.add_argument("name")
    tagp.add_argument("--snapshot-id", type=int,
                      help="snapshot to pin (default: current)")

    dtag = sub.add_parser("drop-tag", help="remove a tag (its snapshot "
                                           "becomes expirable again)")
    dtag.add_argument("root")
    dtag.add_argument("name")

    ltag = sub.add_parser("tags", help="list tags")
    ltag.add_argument("root")

    brc = sub.add_parser(
        "branch", help="fork a mutable branch from a snapshot: the "
        "write-audit-publish workflow on one table root (encode "
        "--branch, fsck --branch, then publish-branch)")
    brc.add_argument("root")
    brc.add_argument("name")
    brc.add_argument("--snapshot-id", type=int, default=None,
                     help="fork point (default: current snapshot)")

    dbr = sub.add_parser("drop-branch", help="remove a branch's manifest "
                         "chain (shared data files stay; branch-only files "
                         "fall to remove-orphans)")
    dbr.add_argument("root")
    dbr.add_argument("name")

    lbr = sub.add_parser("branches", help="list branches")
    lbr.add_argument("root")

    pbr = sub.add_parser(
        "publish-branch", help="fast-forward main to a branch's appended "
        "groups in one metadata-only commit (append-only branch history "
        "required)")
    pbr.add_argument("root")
    pbr.add_argument("name")
    pbr.add_argument("--drop", action="store_true",
                     help="drop the branch after a successful publish")

    pub = sub.add_parser(
        "publish", help="write-audit-publish: adopt an audited staging "
                        "table's groups into the main table of the same "
                        "kind, token or vector (one metadata-only "
                        "commit; no data movement)")
    pub.add_argument("main_root")
    pub.add_argument("staging_root")
    pub.add_argument("--keep-staging-manifests", action="store_true",
                     help="leave the staging _manifest dir in place "
                          "(default: retired — ownership of the data "
                          "files transfers to the main table)")

    desc = sub.add_parser(
        "describe",
        help="table summary from the manifest alone (no Spark, no scan)")
    desc.add_argument("root")

    cmp_ = sub.add_parser(
        "compact",
        help="rewrite under-filled chunks into budget-filled ones "
             "(replace-commit; decoded rows are unchanged)")
    cmp_.add_argument("root")
    cmp_.add_argument("--max-chunk-tokens", type=int, default=1 << 20)
    cmp_.add_argument("--small-file-bytes", type=int, default=64 << 20,
                      help="file-granular mode: only committed files below "
                           "this size are read and rewritten")

    dele = sub.add_parser(
        "delete",
        help="row-level takedown: commit an equality-delete manifest of "
             "doc_ids (applied at read; 'purge'/'compact' rewrite them away)")
    dele.add_argument("root")
    dele.add_argument("doc_ids", help="comma-separated doc_ids, or @file "
                                      "with one id per line")
    dele.add_argument("--branch",
                      help="commit the delete manifest on THIS branch "
                           "only (audit a takedown in isolation)")

    ups = sub.add_parser(
        "upsert",
        help="atomic MERGE by doc_id: replace the table's rows for the "
             "source's doc_ids with the source's rows in ONE commit "
             "(re-encoded data group + equality-delete manifest at equal "
             "sequence number — older copies vanish, replacements stay)")
    ups.add_argument("src", help="parquet dir of replacement rows "
                                 "(doc_id, tokens, n_tok, source [+ extras])")
    ups.add_argument("root")

    rs = sub.add_parser(
        "resalt",
        help="partition evolution: rewrite the WHOLE table under a new "
             "salt count (O(table) by nature; purges pending deletes "
             "first; time travel below the resalt keeps the old scheme)")
    rs.add_argument("root")
    rs.add_argument("--n-salts", type=int, required=True)
    rs.add_argument("--max-chunk-tokens", type=int, default=None,
                    help="token budget for the rewritten chunks "
                         "(default: the encoder's standard budget — "
                         "pass the table's own budget to keep its "
                         "chunk granularity)")

    prg = sub.add_parser(
        "purge",
        help="physically rewrite files to drop rows covered by committed "
             "delete manifests")
    prg.add_argument("root")
    prg.add_argument("--branch",
                     help="purge THIS branch's delete manifests (branch "
                          "chain only; shared files stay referenced by "
                          "main untouched)")

    orph = sub.add_parser(
        "remove-orphans",
        help="delete run dirs referenced by no snapshot (crashed-job debris)")
    orph.add_argument("root")
    orph.add_argument("--older-than-hours", type=float, default=24.0)

    exp = sub.add_parser(
        "expire-snapshots",
        help="drop old snapshot manifests and delete files only they reference")
    exp.add_argument("root")
    exp.add_argument("--keep-last", type=int, default=2)
    exp.add_argument("--older-than-hours", type=float,
                     help="also KEEP any snapshot committed more "
                          "recently than this (time-based retention on "
                          "top of the count)")

    rwm = sub.add_parser(
        "rewrite-manifests",
        help="consolidate spilled group manifests into range-disjoint "
        "set files (metadata-only; Iceberg's rewrite_manifests)")
    rwm.add_argument("root")

    venc = sub.add_parser(
        "encode-vectors",
        help="store a (vec_id, embedding, label) parquet table on float pages")
    venc.add_argument("src", help="parquet with (vec_id, embedding array<float>, label)")
    venc.add_argument("out", help="vector table root")
    venc.add_argument("--chunk-rows", type=int, default=4096)
    venc.add_argument("--group", default="vectors",
                      help="commit-group name (fresh name = append a new "
                      "batch, or a staging batch for publish)")

    vdec = sub.add_parser("decode-vectors",
                          help="decode a vector table back to parquet (bit-exact)")
    vdec.add_argument("root")
    vdec.add_argument("out")
    vdec.add_argument("--vec-id-min", type=int)
    vdec.add_argument("--vec-id-max", type=int)
    vdec.add_argument("--at-tag", help="time travel by tag name")

    args = p.parse_args(argv)
    if args.allow_unsafe_root:
        # fs_for reads this at every resolution point (SnapshotTable,
        # encode, maintenance) — the flag just sets it process-wide
        import os
        os.environ["TOKENCODEC_ALLOW_UNSAFE_ROOT"] = "1"

    if args.cmd == "expire-snapshots":  # manifest-only, no Spark needed
        from tokencodec.spark.maintenance import expire_snapshots
        print(json.dumps(expire_snapshots(
            args.root, keep_last=args.keep_last,
            older_than_hours=args.older_than_hours)))
        return 0

    if args.cmd == "remove-orphans":  # manifest-only, no Spark needed
        from tokencodec.spark.maintenance import remove_orphan_files
        print(json.dumps(remove_orphan_files(
            args.root, older_than_hours=args.older_than_hours)))
        return 0

    if args.cmd == "rewrite-manifests":  # manifest-only, no Spark needed
        from tokencodec.spark.maintenance import rewrite_manifests
        snap = rewrite_manifests(args.root)
        print(json.dumps({"snapshot_id": snap["snapshot_id"],
                          "sets": len(snap.get("group_manifests", [])),
                          "inline_groups": len(snap["groups"]),
                          "metrics": snap["metrics"]}))
        return 0

    if args.cmd == "describe":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        tbl = SnapshotTable(args.root)
        snap = tbl.current_snapshot()
        if snap is None:
            print(json.dumps({"error": "no committed snapshot"}))
            return 1
        resolved = tbl.resolve_groups(snap)
        n_files = sum(len(ps) for ps in resolved.values())
        out = {"snapshot_id": snap["snapshot_id"],
               "groups": sorted(resolved),
               "n_data_paths": n_files,
               "group_manifests": len(snap.get("group_manifests", [])),
               "inline_groups": len(snap["groups"]),
               "table_totals": snap["metrics"]["table_totals"],
               "max_doc_parts": snap["metrics"]["max_doc_parts_chain"],
               "n_snapshots": len(tbl.snapshots()),
               "tags": {r["name"]: r["snapshot_id"] for r in tbl.tags()},
               "branches": {b["name"]: b["head_snapshot_id"]
                            for b in tbl.branches()}}
        print(json.dumps(out))
        return 0

    if args.cmd == "tag":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        ref = SnapshotTable(args.root).create_tag(
            args.name, snapshot_id=args.snapshot_id)
        print(json.dumps(ref))
        return 0

    if args.cmd == "drop-tag":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        SnapshotTable(args.root).drop_tag(args.name)
        print(json.dumps({"dropped": args.name}))
        return 0

    if args.cmd == "tags":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        for ref in SnapshotTable(args.root).tags():
            print(json.dumps(ref))
        return 0

    if args.cmd == "branch":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        fork = SnapshotTable(args.root).create_branch(
            args.name, snapshot_id=args.snapshot_id)
        print(json.dumps({"name": args.name,
                          "forked_from": fork["metrics"]["forked_from"]}))
        return 0

    if args.cmd == "drop-branch":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        SnapshotTable(args.root).drop_branch(args.name)
        print(json.dumps({"dropped": args.name}))
        return 0

    if args.cmd == "branches":  # manifest-only, no Spark needed
        from tokencodec.spark.table import SnapshotTable
        for b in SnapshotTable(args.root).branches():
            print(json.dumps(b))
        return 0

    if args.cmd == "publish-branch":  # manifest-only, no Spark needed
        from tokencodec.spark.maintenance import publish_branch
        from tokencodec.spark.table import SnapshotTable
        snap = publish_branch(args.root, args.name, drop=args.drop)
        print(json.dumps({
            "snapshot_id": snap["snapshot_id"],
            "groups": sorted(SnapshotTable(args.root).resolve_groups(snap)),
            "metrics": snap["metrics"]}))
        return 0

    if args.cmd == "publish":  # manifest-only, no Spark needed
        from tokencodec.spark.maintenance import publish_staged
        from tokencodec.spark.table import SnapshotTable
        snap = publish_staged(args.main_root, args.staging_root,
                              retire_staging=not args.keep_staging_manifests)
        print(json.dumps({
            "snapshot_id": snap["snapshot_id"],
            "groups": sorted(
                SnapshotTable(args.main_root).resolve_groups(snap)),
            "metrics": snap["metrics"]}))
        return 0

    if args.cmd == "snapshots":  # no Spark needed
        from tokencodec.spark.table import SnapshotTable
        for s in SnapshotTable(args.root).snapshots():
            print(json.dumps({k: s[k] for k in
                              ("snapshot_id", "new_groups", "timestamp_ms", "metrics")}))
        return 0

    from pyspark.sql import SparkSession

    from tokencodec.spark.session import get_spark
    # only stop a session this CLI invocation CREATED: getOrCreate
    # returns any live session, and in-process callers (tests, library
    # users driving the CLI) must get theirs back intact
    owned = SparkSession.getActiveSession() is None
    spark = get_spark("tokencodec-cli", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "encode":
            from tokencodec.spark import encode_job
            encode_job.encode_from_parquet(
                spark, args.src, args.out, commit_groups=args.commit_groups,
                max_chunk_tokens=args.max_chunk_tokens,
                group_prefix=args.group_prefix, branch=args.branch)
            pages = encode_job.read_pages(spark, args.out, branch=args.branch)
            from pyspark.sql import functions as F
            m = pages.agg(F.count("*").alias("chunks"), F.sum("n_tokens").alias("tokens"),
                          F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
                          ).collect()[0]
            print(json.dumps({"chunks": m.chunks, "tokens": int(m.tokens),
                              "raw_bytes": int(m.raw), "enc_bytes": int(m.enc),
                              "ratio": round(m.enc / m.raw, 4)}))
        elif args.cmd == "pack":
            from tokencodec.spark import packing
            # the commit's own totals: no file listing, no aggregate job
            t = packing.encode_packed(
                spark, spark.read.parquet(args.src), args.out,
                seq_len=args.seq_len)["metrics"]["table_totals"]
            print(json.dumps({"chunks": t["n_chunks"],
                              "sequences": t["n_rows"],
                              "tokens": t["n_tokens"],
                              "seq_len": args.seq_len}))
        elif args.cmd == "decode" and args.since_snapshot is not None:
            from tokencodec.spark import decode_job
            df = decode_job.decode_changes(
                spark, args.root, args.since_snapshot, packed=args.packed,
                columns=(args.columns.split(",") if args.columns else None))
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count()}))
        elif args.cmd == "decode":
            from tokencodec.spark import decode_job
            df = decode_job.decode(spark, args.root, doc_id_min=args.doc_id_min,
                                   doc_id_max=args.doc_id_max,
                                   doc_ids=(args.doc_ids.split(",")
                                            if args.doc_ids else None),
                                   packed=args.packed,
                                   columns=(args.columns.split(",")
                                            if args.columns else None),
                                   snapshot_id=args.snapshot_id,
                                   sources=(args.sources.split(",")
                                            if args.sources else None),
                                   n_tok_min=args.n_tok_min,
                                   n_tok_max=args.n_tok_max,
                                   tag=args.at_tag, branch=args.branch)
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count()}))
        elif args.cmd == "encode-vectors":
            from pyspark.sql import functions as F

            from tokencodec.spark import vectors
            vectors.encode_vectors(
                spark, spark.read.parquet(args.src), args.out,
                chunk_rows=args.chunk_rows, group=args.group)
            pages = vectors.read_vector_pages(spark, args.out)
            m = pages.agg(F.count("*").alias("chunks"),
                          F.sum("n_rows").alias("rows"),
                          F.sum("raw_bytes").alias("raw"),
                          F.sum("enc_bytes").alias("enc")).collect()[0]
            print(json.dumps({"chunks": m.chunks, "rows": int(m.rows),
                              "raw_bytes": int(m.raw), "enc_bytes": int(m.enc),
                              "ratio": round(m.enc / m.raw, 4)}))
        elif args.cmd == "decode-vectors":
            from tokencodec.spark import vectors
            df = vectors.decode_vectors(spark, args.root,
                                        vec_id_min=args.vec_id_min,
                                        vec_id_max=args.vec_id_max,
                                        tag=args.at_tag)
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": spark.read.parquet(args.out).count()}))
        elif args.cmd == "audit":
            from tokencodec.spark import decode_job, encode_job
            if args.packed:
                original = encode_job.pack_source(spark, args.src)
            else:
                original = spark.read.parquet(args.src)
            res = decode_job.audit(
                original, decode_job.decode(spark, args.root, packed=args.packed),
                strict=args.strict)
            print(json.dumps(res))
            return 0 if res["ok"] else 1
        elif args.cmd == "resalt":
            from tokencodec.spark import maintenance, partition
            snap = maintenance.resalt(
                spark, args.root, args.n_salts,
                max_chunk_tokens=(args.max_chunk_tokens
                                  if args.max_chunk_tokens is not None
                                  else partition.MAX_CHUNK_TOKENS))
            print(json.dumps({"snapshot_id": snap["snapshot_id"],
                              "metrics": snap["metrics"]}))
        elif args.cmd == "upsert":
            from tokencodec.spark import maintenance
            snap = maintenance.upsert_docs(spark, args.root,
                                           spark.read.parquet(args.src))
            print(json.dumps({"snapshot_id": snap["snapshot_id"],
                              "metrics": snap["metrics"]}))
        elif args.cmd == "delete":
            from tokencodec.spark import maintenance
            if args.doc_ids.startswith("@"):
                with open(args.doc_ids[1:]) as f:
                    ids = [line.strip() for line in f if line.strip()]
            else:
                ids = [d for d in args.doc_ids.split(",") if d]
            snap = maintenance.delete_docs(spark, args.root, ids,
                                           branch=args.branch)
            print(json.dumps({"snapshot_id": snap["snapshot_id"],
                              "metrics": snap.get("metrics", {})}))
        elif args.cmd == "purge":
            from tokencodec.spark import maintenance
            snap = maintenance.purge_deletes(spark, args.root,
                                             branch=args.branch)
            print(json.dumps({"snapshot_id": snap["snapshot_id"],
                              "metrics": snap.get("metrics", {})}))
        elif args.cmd == "compact":
            from tokencodec.spark import maintenance
            snap = maintenance.compact(spark, args.root,
                                       max_chunk_tokens=args.max_chunk_tokens,
                                       small_file_bytes=args.small_file_bytes)
            print(json.dumps({"snapshot_id": snap["snapshot_id"],
                              "metrics": snap.get("metrics", {})}))
        elif args.cmd == "fsck":
            from pyspark.sql import functions as F

            from tokencodec.spark import fsck
            rep = fsck.fsck(spark, args.root, branch=args.branch)
            bad = rep.filter(~F.col("ok"))
            n_bad = bad.count()
            for r in bad.limit(20).collect():
                print(f"BAD {r.chunk_uid}: {r.error}", file=sys.stderr)
            print(json.dumps({"chunks": rep.count(), "bad": n_bad}))
            return 0 if n_bad == 0 else 1
    finally:
        if owned:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
