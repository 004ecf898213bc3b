#!/usr/bin/env python3
"""Run one tokencodec benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine runs in this process under a
``local[nproc]`` SparkSession; every file the run writes (inputs,
tables, Spark scratch, temp files) lives under ``.perfbench_work/`` in
the checkout and is removed when the run ends. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``); progress and failure tracebacks go to stderr.
``--size smoke`` shrinks every input for the self-test
(``perfbench/selftest.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_BASE = ROOT / ".perfbench_work"
SPANS_DIR = ROOT / ".perfbench_out"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path) -> None:
    """Keep every file inside the checkout and one thread per Python
    worker; must run before pyspark starts the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["TMPDIR"] = str(tmp)
    env["TOKENCODEC_LOCAL_DIR"] = env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TOKENCODEC_DRIVER_MEM"] = "2g"
    # one thread per Python worker: Spark already runs nproc of them
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        env[var] = "1"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={shlex.quote(str(work / 'warehouse'))}",
        # no hsperfdata file: the JVM would write it under /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell"])
    import tempfile
    tempfile.tempdir = None


def span_targets():
    """(owner, attribute, span name) for every traced engine entry point."""
    from tokencodec.spark import decode_job, encode_job, maintenance
    from tokencodec.spark import partition as part
    from tokencodec.spark.table import SnapshotTable
    return [
        (encode_job, "encode_from_parquet", "encode_job.encode_from_parquet"),
        (encode_job, "encode", "encode_job.encode"),
        (encode_job, "pack_source", "encode_job.pack_source"),
        (part, "bucketed", "partition.bucketed"),
        (decode_job, "decode", "decode_job.decode"),
        (decode_job, "audit", "decode_job.audit"),
        (maintenance, "delete_docs", "maintenance.delete_docs"),
        (maintenance, "compact", "maintenance.compact"),
        (maintenance, "purge_deletes", "maintenance.purge_deletes"),
        (SnapshotTable, "commit", "table.commit"),
        (SnapshotTable, "current_snapshot", "table.current_snapshot"),
        (SnapshotTable, "resolve_groups", "table.resolve_groups"),
    ]


def run(args, work: Path, nproc: int, rss) -> dict:
    from perfbench import metrics, sysmon, workloads
    from perfbench.tracing import Tracer

    t_start = time.perf_counter()
    from tokencodec.spark.session import get_spark
    spark = get_spark("perfbench", cores=nproc)
    jvm_start_s = time.perf_counter() - t_start
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    if args.trace:
        tracer.instrument(span_targets())
    try:
        setup, step, wl_metrics, min_ops = workloads.WORKLOADS[args.workload]
        b = workloads.Bench(spark, str(work), args.seed,
                            workloads.SIZES[args.size][args.workload], tracer)
        setup(b)
        size_vs_ref = workloads.table_bytes(b.table) / b.src.ref_bytes
        b.attempt("size_check", lambda: size_vs_ref,
                  lambda r: workloads.check(r <= 1.0, f"size_vs_ref {r} > 1"),
                  timed=False)
        setup_s = time.perf_counter() - t_start
        log(f"setup {setup_s:.2f}s; {b.src.n_docs} docs, {b.src.n_tokens} "
            f"tokens, {b.src.n_split_docs} split; timed loop {args.seconds}s")

        sc = spark.sparkContext
        gc0 = sysmon.jvm_gc(spark)
        sc.setJobGroup(workloads.TIMED_GROUP, "perfbench timed loop")
        workloads.timed_loop(b, args.seconds, lambda i: step(b, i), min_ops,
                             trace_split=bool(args.trace))
        sc.setLocalProperty("spark.jobGroup.id", None)
        gc1 = sysmon.jvm_gc(spark)
        tracer.enabled = False
        peak_rss_mb = rss.peak_mb
        log(f"timed walls {json.dumps(b.walls)}; attempted {b.attempted}, "
            f"failed {b.failed}")

        if not args.trace:
            values = {"setup_s": setup_s,
                      "size_vs_ref": size_vs_ref,
                      "ok_frac": (b.attempted - b.failed) / b.attempted,
                      "peak_rss_mb": peak_rss_mb,
                      **wl_metrics(b)}
            names = [m[0] for m in metrics.END_TO_END]
        else:
            from perfbench import probes
            values = {"session.jvm_start_s": jvm_start_s,
                      "jvm.gc_count": gc1[0] - gc0[0],
                      "jvm.gc_s": gc1[1] - gc0[1],
                      "spark.tasks": sysmon.group_tasks(spark,
                                                        workloads.TIMED_GROUP)}
            self_t = tracer.self_times()
            for layer in metrics.LAYERS:
                values[f"self.{layer}_s"] = self_t.get(layer, 0.0)
            values["trace.spans"] = len(tracer.spans)
            values["trace.overhead_frac"] = trace_overhead(b)
            SPANS_DIR.mkdir(exist_ok=True)
            spans = SPANS_DIR / f"spans-{args.workload}-seed{args.seed}.jsonl"
            tracer.write(str(spans))
            log(f"{len(tracer.spans)} spans written to {spans}")
            for probe in probes.PROBES:
                t0 = time.perf_counter()
                values.update(probe(b))
                log(f"probe {probe.__name__} {time.perf_counter() - t0:.2f}s")
            names = [m[0] for m in metrics.PER_LAYER]
        missing = [n for n in names if n not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {"correct": b.failed == 0, "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {n: {"value": values[n], "unit": metrics.UNITS[n]}
                            for n in names}}
    finally:
        tracer.restore()
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit: closing its stdin tells the gateway to shut down."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


def trace_overhead(b) -> float:
    """Median traced wall over median untraced wall, minus one, for the
    operation kind both halves of the traced loop ran most."""
    kinds = [k for k in b.walls if k in b.traced_walls]
    if not kinds:
        return 0.0
    k = max(kinds, key=lambda k: min(len(b.walls[k]), len(b.traced_walls[k])))
    return (statistics.median(b.traced_walls[k])
            / statistics.median(b.walls[k]) - 1.0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk", "table_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "smoke"], default="default")
    args = ap.parse_args(argv)

    if not (ROOT / "tokencodec" / "spark" / "encode_job.py").is_file():
        log(f"no tokencodec engine under {ROOT}: run from a full checkout")
        return 2
    sys.path[0] = str(ROOT)  # import perfbench as a package, not its modules
    nproc = len(os.sched_getaffinity(0))
    work = WORK_BASE / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from perfbench.sysmon import RssSampler
    try:
        with RssSampler() as rss:
            result = run(args, work, nproc, rss)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
