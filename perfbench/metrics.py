"""Metric names, units and directions the benchmark emits.

End-to-end metrics are emitted by every workload (``--trace 0``); each
workload gives the generic name the meaning of its own operations:

===============  ==============================  ==========================
metric           bulk                            table_ops
===============  ==============================  ==========================
write_tok_per_s  tokens / median encode pass     median of appended tokens
                 wall (fresh encode, empty root) / append wall
read_p50_s       median full packed decode wall  median point-lookup wall
ops_per_s        operations per second of the workload's fixed schedule
                 (encode, decode, encode, decode, audit | the 24-op
                 table mix with one compaction), from per-kind medians
size_vs_ref      committed table bytes / bytes of the same rows from
                 Spark's default parquet writer (the freshly built table)
ok_frac          operations and checks that passed / attempted
                 (1 - failed_frac: a metric must never read 0)
peak_rss_mb      peak summed RSS of the benchmark process, its JVM and
                 the JVM's Python workers
setup_s          JVM start + input generation + base table + warm-up
===============  ==============================  ==========================

Per-layer metrics come from the traced run (``--trace 1``).
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("write_tok_per_s", "tok/s", "higher"),
    ("read_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("size_vs_ref", "ratio", "lower"),
    ("ok_frac", "frac", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

# inner codec of a chunk's token page, read from its page header
TOKEN_CODECS = ["grouped", "basepack", "bitpack", "dict", "rle", "srle",
                "for", "delta", "constant", "plain"]

# span layers: the first dotted component of a span name
LAYERS = ["bench", "spark", "encode_job", "partition", "decode_job",
          "table", "maintenance"]

PER_LAYER = [
    ("session.jvm_start_s", "s", "lower"),
    ("source.tok_per_s", "tok/s", "higher"),
    ("partition.shuffle_s", "s", "lower"),
    ("partition.group_tok_max_over_mean", "ratio", "lower"),
    ("partition.split_docs", "count", "lower"),
    ("encoder.tok_per_s", "tok/s", "higher"),
    ("encoder.bytes_per_tok", "B/tok", "lower"),
    *[(f"codec.{c}.chunks", "count", "higher") for c in TOKEN_CODECS],
    ("deflate.wrapped_over_tried", "ratio", "higher"),
    ("encode.write_commit_s", "s", "lower"),
    ("decoder.tok_per_s", "tok/s", "higher"),
    ("audit.tok_per_s", "tok/s", "higher"),
    ("decode.split_docs_s", "s", "lower"),
    ("plan.build_s", "s", "lower"),
    ("plan.exec_s", "s", "lower"),
    ("lookup.chunks_decoded_per_hit", "ratio", "lower"),
    ("table.current_snapshot_s", "s", "lower"),
    ("table.resolve_groups_s", "s", "lower"),
    ("table.groups", "count", "lower"),
    ("table.manifest_bytes", "B", "lower"),
    ("maintenance.append_s", "s", "lower"),
    ("maintenance.delete_s", "s", "lower"),
    ("maintenance.compact_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.gc_count", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    *[(f"self.{layer}_s", "s", "lower") for layer in LAYERS],
    ("trace.spans", "count", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
