"""Structured Streaming encode: incremental ingestion of token batches.

The reference exposes an incremental conduit source (`sourceParquet`,
/root/reference/src/Parquet/Reader.hs:282-290) — "streaming" there
means incremental IO, not event time. Our Spark-native analog: a
`readStream` file source over the token table directory, encoded
micro-batch by micro-batch via ``foreachBatch`` into the same snapshot
table, one commit group per micro-batch (so the stream inherits the
engine's resume/lineage semantics). `Trigger.AvailableNow` gives
batch-incremental catch-up runs — new source files since the last
checkpoint are encoded and committed, then the query stops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from tokencodec.spark import partition as part
from tokencodec.spark.encode_job import (make_direct_writer,
                                         require_direct_write, sum_meta,
                                         write_from_tasks)
from tokencodec.spark.synth import SCHEMA_DDL
from tokencodec.spark.table import SnapshotTable


def encode_stream(spark: SparkSession, source_dir: str, out_root: str,
                  checkpoint_dir: str | None = None,
                  max_chunk_tokens: int = part.MAX_CHUNK_TOKENS) -> None:
    """Encode all new files in ``source_dir`` (parquet, input_hint
    schema) into ``out_root``, one snapshot commit per micro-batch.
    Runs with availableNow and blocks until caught up.

    Every micro-batch is salted under the table's scheme, so point and
    batch lookups find streamed documents (``_batch_scheme``).

    Core-schema only by contract: the stream reads exactly
    (doc_id, tokens, n_tok, source) — schema-evolution extra columns
    in the source files are not ingested on this path (batch
    ``encode`` handles them); the fixed readStream schema makes that
    explicit rather than silent.

    Tasks write each micro-batch's pages files with pyarrow and the
    commit lists them, so a root pyarrow cannot address is refused."""
    require_direct_write(out_root, "encode_stream")
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(out_root, "_stream_checkpoint")
    tbl = SnapshotTable(out_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        key = f"stream-batch-{batch_id}"
        if key in tbl.committed_groups():
            return  # replayed micro-batch after restart: already committed
        n_salts, scheme = _batch_scheme(tbl, batch_df)
        # per-batch uid prefix: each micro-batch is its own commit group
        # and restarts chunk_seq per (bucket, salt), so appended batches
        # would otherwise repeat chunk uids
        meta = write_from_tasks(
            tbl, part.bucketed(batch_df, n_salts=n_salts),
            lambda run_dir: make_direct_writer(
                run_dir, "zstd", max_chunk_tokens, commit_groups=1,
                uid_prefix=key))
        m = {**sum_meta(meta), "batch_id": batch_id}
        if scheme is not None:
            m["scheme"] = scheme
        tbl.commit({key: sorted(r["file"] for r in meta)}, metrics=m)

    stream = (spark.readStream.schema(SCHEMA_DDL).parquet(source_dir)
              .writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir)
              .trigger(availableNow=True)
              .start())
    stream.awaitTermination()


def _batch_scheme(tbl: SnapshotTable,
                  batch_df: DataFrame) -> tuple[int, dict | None]:
    """The micro-batch's salt count, and the scheme its commit stamps.

    Lookups derive a doc's salt from the one scheme the chain records,
    so every chunk of a stamped table must be salted under it:

    - a stamped table: the batch adopts its n_salts and re-stamps the
      same scheme (no row count needed);
    - an unstamped table (no data yet: only empty micro-batches leave
      one, since every writer that adds rows stamps): the batch picks
      ``salts_for(rows)`` and stamps it, so later batches and
      ``encode()`` appends adopt it.

    An empty batch stamps nothing, so it cannot pin a salt count."""
    from tokencodec.spark.decode_job import _salt_scheme
    snap = tbl.current_snapshot()
    tbl.require_kind(snap, "tokens")
    sch = None if snap is None else _salt_scheme(tbl.root, snap=snap)
    if sch is not None:
        return int(sch["n_salts"]), sch
    n_rows = batch_df.count()
    n_salts = part.salts_for(n_rows)
    if n_rows == 0:
        return n_salts, None
    return n_salts, {"group_scheme": "salt_mod", "n_salts": n_salts,
                     "commit_groups": 1}


def dedup_stream(spark: SparkSession, source_dir: str, out_dir: str,
                 checkpoint_dir: str | None = None,
                 ttl_ms: int | None = None) -> None:
    """Stateful cross-batch exact dedup: emit only the FIRST occurrence
    of each doc_id ever seen by the stream, remembering seen keys in
    per-group state (`applyInPandasWithState`) that survives restarts
    via the checkpoint — the custom-stateful-operator pattern for
    incremental training-data ingestion (a doc re-appearing in a later
    crawl drop is suppressed without re-reading history). State is
    partitioned by doc_id, so it shards across executors.

    ``ttl_ms=None`` (default): no timeout — dedup state is permanent by
    design. With a TTL, keys idle for ``ttl_ms`` of processing time are
    garbage-collected (`ProcessingTimeTimeout`), bounding total state
    for unbounded key spaces: a doc re-appearing AFTER its state
    expired is re-admitted (the dedup window is a sliding TTL since the
    key's last sighting — every sighting, emitted or suppressed,
    re-arms the clock). Expiry fires at the next micro-batch boundary
    after the deadline, Spark's contract for processing-time timeouts."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(out_dir, "_dedup_checkpoint")

    def first_only(key, pdfs, state):
        if ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: drop the key so a future sighting
            # re-admits (invoked with an empty iterator, nothing to emit)
            state.remove()
            return
        if not state.exists:
            for pdf in pdfs:
                if len(pdf):
                    state.update((True,))
                    if ttl_ms is not None:
                        state.setTimeoutDuration(ttl_ms)
                    yield pd.DataFrame({"doc_id": [pdf["doc_id"].iloc[0]],
                                        "n_tok": [pdf["n_tok"].iloc[0]],
                                        "source": [pdf["source"].iloc[0]]})
                    break
        elif ttl_ms is not None:
            # suppressed duplicate: re-arm the GC clock (sliding TTL)
            state.setTimeoutDuration(ttl_ms)

    src = (spark.readStream.schema(SCHEMA_DDL).parquet(source_dir)
           .select("doc_id", "n_tok", "source"))
    out = src.groupBy("doc_id").applyInPandasWithState(
        first_only, "doc_id string, n_tok int, source string",
        "seen boolean", "append",
        GroupStateTimeout.NoTimeout if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout)
    q = (out.writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    if ttl_ms is None:
        q.awaitTermination()
        return
    # With processing-time timeouts every completed batch schedules a
    # successor (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    # true whenever the clock advanced), so an availableNow query never
    # self-terminates. Drain the available data, let a couple of idle
    # batches fire any DUE timers, then stop: not-yet-due timers stay in
    # the checkpointed state and fire on a later run — the documented
    # "next micro-batch after the deadline" contract.
    import time as _time
    deadline = _time.time() + 600
    idle_batches: set[int] = set()
    while q.isActive and _time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] == 0:
            idle_batches.add(p["batchId"])
            if len(idle_batches) >= 2:
                break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()
