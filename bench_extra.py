"""Supplementary benchmarks (bench.py is FROZEN for measurement; extra
evidence lives here — guide §1.4 noop-sink isolation and the
host-invariant interleaved A/B of VERDICT r5 next #2/#8).

Usage:
  python bench_extra.py ab [prev_tree] [n_rows] [rounds]
      Interleaved A/B of the three engine walls (encode / decode packed
      / audit) between PREV_TREE (a git worktree of the comparison
      commit — e.g. `git worktree add /tmp/r5tree <round-start-sha>`)
      and THIS tree, at the N-row synth corpus (default 1600000 = the
      sf1.0 @4x corpus). AB_REPS (default 2) sets min-of-reps inside
      each child.
      Alternating subprocess runs on one host, min-of-rounds — the
      protocol BASELINE.md's 5b-vs-5 A/B used, generalized, so
      cross-round comparisons stop depending on host-day state.
  python bench_extra.py phases [n_rows]
      Noop-sink phase isolation of the encode pipeline (guide §1.4):
      source read+pack alone, +shuffle, +kernel, full job.

Prints ONE JSON line per mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

_CHILD = r"""
import sys, time, shutil, json, os
tree, n_rows, mode = sys.argv[1], int(sys.argv[2]), sys.argv[3]
sys.path.insert(0, tree)
from tokencodec.spark.session import get_spark
from tokencodec.spark import decode_job, encode_job
spark = get_spark("ab-bench", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                  shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
spark.sparkContext.setLogLevel("ERROR")
src = f"/tmp/tokencodec_bench/src_n{n_rows}_s42"
root = f"/tmp/ab_root_{os.getpid()}"
out = {}
def timed(name, fn, reps=int(os.environ.get("AB_REPS", "2"))):
    # min-of-reps inside one warmed process: the first rep carries the
    # cold-JVM/codegen constant that would otherwise swamp the kernel
    # delta the A/B exists to measure (bench.py's own protocol)
    best = None
    for _ in range(reps):
        t0 = time.perf_counter(); fn(); w = time.perf_counter() - t0
        best = w if best is None or w < best else best
    out[name] = round(best, 3)
def fresh_encode():
    shutil.rmtree(root, ignore_errors=True)
    encode_job.encode_from_parquet(spark, src, root, commit_groups=1)
timed("encode", fresh_encode)
timed("decode", lambda: decode_job.decode(spark, root, packed=True).count())
timed("audit", lambda: decode_job.audit(encode_job.pack_source(spark, src),
                                        decode_job.decode(spark, root, packed=True)))
shutil.rmtree(root, ignore_errors=True)
print(json.dumps(out))
spark.stop()
"""


def _run_tree(tree: str, n_rows: int) -> dict:
    r = subprocess.run([sys.executable, "-c", _CHILD, tree, str(n_rows), "ab"],
                       capture_output=True, text=True, timeout=1800)
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if not line:
        raise RuntimeError(f"A/B child failed for {tree}: {r.stderr[-2000:]}")
    return json.loads(line[-1])


def ab(prev_tree: str, n_rows: int, rounds: int) -> None:
    if not os.path.isdir(os.path.join(prev_tree, "tokencodec")):
        raise SystemExit(
            f"{prev_tree} is not a tokencodec tree; create one with "
            f"`git worktree add {prev_tree} <comparison-sha>`")
    res = {"prev": [], "head": []}
    for i in range(rounds):
        # alternate order each round so warm-cache bias cancels
        order = [("prev", prev_tree), ("head", REPO)] if i % 2 == 0 \
            else [("head", REPO), ("prev", prev_tree)]
        for name, tree in order:
            res[name].append(_run_tree(tree, n_rows))
    summary = {"mode": "ab", "n_rows": n_rows, "rounds": rounds,
               "prev_tree": prev_tree, "samples": res}
    for side in ("prev", "head"):
        for k in ("encode", "decode", "audit"):
            summary[f"{side}_{k}_min"] = min(s[k] for s in res[side])
    print(json.dumps(summary))


def phases(n_rows: int) -> None:
    import time

    from tokencodec.spark import encode_job
    from tokencodec.spark import partition as part
    from tokencodec.spark.session import get_spark
    spark = get_spark("phases", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    src = f"/tmp/tokencodec_bench/src_n{n_rows}_s42"
    splits, nr, n_bytes = encode_job.parquet_splits(src, return_stats=True)
    n_salts = part.salts_for(nr)
    partitions = max(spark.sparkContext.defaultParallelism,
                     n_bytes // encode_job.TARGET_TASK_BYTES)
    out = {"mode": "phases", "n_rows": nr, "splits": len(splits)}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    spark.sparkContext.setJobDescription("warm")
    encode_job.pack_source(spark, src, splits).limit(1).count()
    for name, fn in [
        ("pack_source", lambda: noop(encode_job.pack_source(spark, src, splits))),
        ("pack+shuffle", lambda: noop(part.bucketed(
            encode_job.pack_source(spark, src, splits),
            n_salts=n_salts, partitions=partitions))),
        ("pack+shuffle+encode", lambda: noop(part.bucketed(
            encode_job.pack_source(spark, src, splits),
            n_salts=n_salts, partitions=partitions)
            .mapInArrow(encode_job.make_encoder(commit_groups=1),
                        encode_job.PAGES_DDL))),
    ]:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "ab"
    if mode == "ab":
        prev = sys.argv[2] if len(sys.argv) > 2 else "/tmp/r5tree"
        n_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 1600000
        rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        ab(prev, n_rows, rounds)
    elif mode == "phases":
        phases(int(sys.argv[2]) if len(sys.argv) > 2 else 1600000)
    else:
        raise SystemExit(f"unknown mode {mode}")
