"""The two workloads: setup, the timed closed loop (one client, each
operation sent after the previous one returns), and the output checks.

Every operation runs through ``Bench.attempt``: a JVM GC first, then the
timed call, then its correctness check outside the timed region. An
operation that raises or fails its check counts as failed (traceback on
stderr) and its wall is left out of the latency figures.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs, sysmon
from tokencodec.spark import decode_job, encode_job, maintenance
from tokencodec.spark.table import SnapshotTable

TIMED_GROUP = "perfbench-timed"

# workload sizes: regular documents and total tokens of the seeded source
# (oversized documents top it up), commit groups of the table_ops base
# table (past the 64-group manifest spill threshold)
SIZES = {
    "default": {"bulk": {"docs": 11000, "tokens": 12_500_000},
                "table_ops": {"docs": 2500, "tokens": 3_500_000,
                              "groups": 72}},
    "smoke": {"bulk": {"docs": 1200, "tokens": 2_400_000},
              "table_ops": {"docs": 1200, "tokens": 2_400_000,
                            "groups": 72}},
}

# table_ops: the closed-loop mix, one 24-op period. A takedown delete and
# the compaction that purges it open each period, so the lookups of one
# period all see the same kind of table: compacted, with appends
# accumulating after the compaction.
TABLE_SCHEDULE = (["delete", "compact"]
                  + ["lookup", "append", "lookup", "batch",
                     "lookup", "append", "lookup", "scan"] * 2
                  + ["lookup", "append", "lookup", "batch", "lookup", "scan"])
ABSENT_EVERY = 8  # one point lookup in 8 asks for an absent id
BATCH_IDS = 20
BATCH_ABSENT = 2
APPEND_TOKENS = 300_000
APPEND_MAX_DOCS = 1000
DELETE_IDS = 5


class CheckFailed(Exception):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Bench:
    """Run state shared by setup, the timed loop and the layer probes."""

    def __init__(self, spark, work: str, seed: int, size: dict, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        self.traced_walls: dict[str, list[float]] = {}
        self.src: inputs.Source | None = None
        self.table: str | None = None  # the committed table probes read
        self.encode_walls: list[float] = []  # set-up encodes
        self.expected_totals: dict | None = None  # bulk
        self.state: TableState | None = None  # table_ops
        self.append_tok: list[int] = []  # table_ops: untraced timed appends

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def attempt(self, kind: str, fn, verify=None, timed: bool = True,
                required: bool = False):
        """GC, time ``fn()``, then ``verify(result)`` untimed. A failed
        ``required`` step (set-up) re-raises after being counted."""
        self.attempted += 1
        sysmon.full_gc(self.spark)
        try:
            t0 = time.perf_counter()
            with self.tracer.span(f"bench.{kind}"):
                res = fn()
            wall = time.perf_counter() - t0
            if not timed:
                print(f"[perfbench] {kind} {wall:.2f}s", file=sys.stderr,
                      flush=True)
            if verify is not None:
                verify(res)
        except Exception:
            self.failed += 1
            print(f"[perfbench] {kind} FAILED:\n{traceback.format_exc()}",
                  file=sys.stderr, flush=True)
            if required:
                raise
            return None
        if timed:
            walls = self.traced_walls if self.tracer.enabled else self.walls
            walls.setdefault(kind, []).append(wall)
        return res

    def action(self, df_fn):
        """A Spark action the benchmark itself forces."""
        with self.tracer.span("spark.action"):
            return df_fn()

    def setup_source(self) -> inputs.Source:
        t0 = time.perf_counter()
        self.src = inputs.build_source(self.spark, self.path("src"), self.seed,
                                       self.size["docs"], self.size["tokens"])
        print(f"[perfbench] input built in {time.perf_counter() - t0:.2f}s",
              file=sys.stderr, flush=True)
        return self.src

    def all_walls(self, kind: str) -> list[float]:
        return self.walls.get(kind, []) + self.traced_walls.get(kind, [])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_bytes(root: str) -> int:
    n = 0
    for p in SnapshotTable(root).data_paths():
        p = p[len("file:"):] if p.startswith("file:") else p
        if os.path.isdir(p):
            for d, _, fs in os.walk(p):
                n += sum(os.path.getsize(os.path.join(d, f))
                         for f in fs if f.endswith(".parquet"))
        else:
            n += os.path.getsize(p)
    return n


def table_totals(root: str) -> dict:
    return SnapshotTable(root).current_snapshot()["metrics"]["table_totals"]


def audit_source(b: Bench, root: str) -> dict:
    return decode_job.audit(encode_job.pack_source(b.spark, b.src.path),
                            decode_job.decode(b.spark, root, packed=True))


def verify_audit(r: dict) -> None:
    check(r.get("ok") is True, f"audit not ok: {r}")


def timed_loop(b: Bench, seconds: float, step, min_ops: int,
               trace_split: bool = False) -> None:
    """Closed loop for ``seconds``, at least ``min_ops`` operations. With
    ``trace_split`` the schedule runs twice for half the time each, the
    second time traced, so one run gives traced and untraced walls of
    every operation kind."""
    if trace_split:
        timed_loop(b, seconds / 2, step, min_ops)
        b.tracer.enabled = True
        timed_loop(b, seconds / 2, step, min_ops)
        return
    start = time.perf_counter()
    i = 0
    while i < min_ops or time.perf_counter() - start < seconds:
        step(i)
        i += 1


# ---------------------------------------------------------------- bulk

def setup_bulk(b: Bench) -> None:
    src = b.setup_source()
    root = b.path("table")
    t0 = time.perf_counter()
    b.attempt("warmup_encode", lambda: encode_job.encode_from_parquet(
        b.spark, src.path, root), timed=False, required=True)
    b.encode_walls.append(time.perf_counter() - t0)
    b.table = root
    b.expected_totals = table_totals(root)
    decode_pass(b, timed=False, required=True)
    b.attempt("warmup_audit", lambda: audit_source(b, root), verify_audit,
              timed=False, required=True)


def encode_pass(b: Bench) -> None:
    """A fresh encode of the source into an empty root."""
    root = b.path("fresh")

    def verify(_):
        got = table_totals(root)
        check(got == b.expected_totals,
              f"encode pass totals {got} != warm-up {b.expected_totals}")

    b.attempt("encode", lambda: encode_job.encode_from_parquet(
        b.spark, b.src.path, root), verify)
    shutil.rmtree(root, ignore_errors=True)


def decode_pass(b: Bench, timed: bool = True, required: bool = False) -> None:
    """A full packed decode of the committed table, row and token-byte
    counts observed on the way."""
    from pyspark.sql import Observation
    obs = Observation()

    def run():
        df = decode_job.decode(b.spark, b.table, packed=True)
        b.action(lambda: noop(df.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("tokens")).alias("bytes"))))
        return obs.get

    def verify(got):
        check(got["rows"] == b.src.n_docs and got["bytes"] == 4 * b.src.n_tokens,
              f"decode pass saw {got}, expected {b.src.n_docs} rows / "
              f"{4 * b.src.n_tokens} token bytes")

    b.attempt("decode", run, verify, timed=timed, required=required)


BULK_CYCLE = ["encode", "decode", "encode", "decode", "audit"]


def step_bulk(b: Bench, i: int) -> None:
    kind = BULK_CYCLE[i % len(BULK_CYCLE)]
    if kind == "encode":
        encode_pass(b)
    elif kind == "decode":
        decode_pass(b)
    else:
        b.attempt("audit", lambda: audit_source(b, b.table), verify_audit)


def mix_rate(b: Bench, schedule: list[str]) -> float:
    """Operations per second of the workload's fixed schedule, from the
    median wall of each kind: insensitive to where in the schedule the
    time window happened to end."""
    busy = sum(median(b.walls[k]) for k in schedule)
    return len(schedule) / busy


def metrics_bulk(b: Bench) -> dict:
    return {"write_tok_per_s": b.src.n_tokens / median(b.walls["encode"]),
            "read_p50_s": median(b.walls["decode"]),
            "ops_per_s": mix_rate(b, BULK_CYCLE)}


# ---------------------------------------------------------------- table_ops

class TableState:
    """The expected live table: doc_id -> (n_tok, source)."""

    def __init__(self, docs: dict, seed: int):
        self.live = dict(docs)
        self.rng = np.random.default_rng([seed, 0x7AB1E])
        self.next_doc = 0
        self.n_lookups = 0
        self.n_appends = 0

    def pick(self, k: int) -> list[str]:
        ids = sorted(self.live)
        return [ids[j] for j in self.rng.choice(len(ids), size=k, replace=False)]

    def absent(self) -> str:
        # sorts between live ids, so min/max range pruning cannot skip it
        return self.pick(1)[0] + "x"


def setup_table_ops(b: Bench) -> None:
    src = b.setup_source()
    root = b.path("table")
    t0 = time.perf_counter()
    b.attempt("base_table", lambda: encode_job.encode_from_parquet(
        b.spark, src.path, root, commit_groups=b.size["groups"]),
        timed=False, required=True)
    b.encode_walls.append(time.perf_counter() - t0)
    b.table = root
    b.state = TableState(src.docs, b.seed)
    b.state.next_doc = src.n_docs + 1_000_000
    for kind in ("lookup", "batch", "scan", "append", "delete"):
        table_op(b, kind, timed=False, required=True)


def _count_check(b: Bench, what: str) -> None:
    n = b.action(lambda: decode_job.decode(
        b.spark, b.table, columns=["doc_id"]).count())
    check(n == len(b.state.live),
          f"{what}: table holds {n} rows, expected {len(b.state.live)}")


def table_op(b: Bench, kind: str, timed: bool = True,
             required: bool = False) -> None:
    st: TableState = b.state
    spark, root = b.spark, b.table
    if kind == "lookup":
        st.n_lookups += 1
        absent = st.n_lookups % ABSENT_EVERY == ABSENT_EVERY // 2
        d = st.absent() if absent else st.pick(1)[0]

        def run():
            df = decode_job.decode(spark, root, doc_id_min=d, doc_id_max=d)
            return b.action(df.collect)

        def verify(rows):
            if absent:
                check(len(rows) == 0, f"absent id {d} returned {len(rows)} rows")
                return
            check(len(rows) == 1, f"id {d} returned {len(rows)} rows")
            r = rows[0]
            n_tok = st.live[d][0]
            check(r["doc_id"] == d and r["n_tok"] == n_tok
                  and len(r["tokens"]) == n_tok, f"lookup {d} returned bad row")

        b.attempt("lookup", run, verify, timed, required)
    elif kind == "batch":
        ids = st.pick(BATCH_IDS - BATCH_ABSENT) \
            + [st.absent() for _ in range(BATCH_ABSENT)]

        def run():
            df = decode_job.decode(spark, root, doc_ids=ids, packed=True)
            return b.action(df.collect)

        def verify(rows):
            got = [r["doc_id"] for r in rows]
            want = {d for d in ids if d in st.live}
            check(len(got) == len(set(got)) and set(got) == want,
                  f"batch lookup returned {sorted(got)}, expected {sorted(want)}")
            for r in rows:
                check(len(r["tokens"]) == 4 * st.live[r["doc_id"]][0],
                      f"batch row {r['doc_id']} has a bad token count")

        b.attempt("batch", run, verify, timed, required)
    elif kind == "scan":
        source = ["web", "code", "books", "wiki", "chat"][
            int(st.rng.integers(0, 5))]
        lo = int(st.rng.choice([300, 600, 1200, 2400]))
        hi = 2 * lo

        def run():
            df = decode_job.decode(spark, root, columns=["doc_id", "n_tok"],
                                   sources=[source], n_tok_min=lo, n_tok_max=hi)
            return b.action(df.collect)

        def verify(rows):
            want = {d for d, (n, s) in st.live.items()
                    if s == source and lo <= n <= hi}
            got = [r["doc_id"] for r in rows]
            check(len(got) == len(set(got)) and set(got) == want,
                  f"scan source={source} n_tok in [{lo},{hi}] returned "
                  f"{len(got)} rows, expected {len(want)}")

        b.attempt("scan", run, verify, timed, required)
    elif kind == "append":
        start = st.next_doc
        st.n_appends += 1
        prefix = f"app{st.n_appends:04d}g"
        # the longest run of fresh documents within the token budget, so
        # every append moves about the same number of tokens
        batch = inputs.docs_batch(b.seed, start, APPEND_MAX_DOCS)
        csum = np.cumsum(batch.column(2).to_numpy())
        n_docs = max(1, int(np.searchsorted(csum, APPEND_TOKENS, side="right")))
        batch = batch.slice(0, n_docs)
        st.next_doc += APPEND_MAX_DOCS
        new = dict(zip(batch.column(0).to_pylist(),
                       zip(batch.column(2).to_pylist(),
                           batch.column(3).to_pylist())))
        n_tok = sum(n for n, _ in new.values())

        def run():
            df = inputs.docs_frame(spark, b.seed, start, n_docs, 1)
            encode_job.encode(spark, df, root, commit_groups=1,
                              group_prefix=prefix, direct_write=True)
            return SnapshotTable(root).current_snapshot()

        def verify(snap):
            m = snap["metrics"]
            check(f"{prefix}0" in snap["new_groups"]
                  and m["n_rows"] == n_docs and m["n_tokens"] == n_tok,
                  f"append {prefix} committed {m.get('n_rows')} rows / "
                  f"{m.get('n_tokens')} tokens, expected {n_docs} / {n_tok}")
            st.live.update(new)

        if b.attempt("append", run, verify, timed, required) is not None \
                and timed and not b.tracer.enabled:
            b.append_tok.append(n_tok)
    elif kind == "delete":
        ids = st.pick(DELETE_IDS)

        def run():
            return maintenance.delete_docs(spark, root, ids)

        def verify(snap):
            check(snap["metrics"]["n_delete_ids"] == DELETE_IDS,
                  f"delete committed {snap['metrics']}")
            for d in ids:
                del st.live[d]
            _count_check(b, "after delete_docs")

        b.attempt("delete", run, verify, timed, required)
    elif kind == "compact":
        b.attempt("compact", lambda: maintenance.compact(spark, root),
                  lambda _: _count_check(b, "after compact"), timed, required)
    else:
        raise ValueError(kind)


def step_table_ops(b: Bench, i: int) -> None:
    table_op(b, TABLE_SCHEDULE[i % len(TABLE_SCHEDULE)])


def metrics_table_ops(b: Bench) -> dict:
    rates = [t / w for t, w in zip(b.append_tok, b.walls["append"])]
    return {"write_tok_per_s": median(rates),
            "read_p50_s": median(b.walls["lookup"]),
            "ops_per_s": mix_rate(b, TABLE_SCHEDULE)}


def first_of_each(schedule: list[str]) -> int:
    """Ops needed before every kind in ``schedule`` has run once."""
    return max(schedule.index(k) for k in set(schedule)) + 1


# name -> (setup, loop step, workload metrics, minimum timed ops)
WORKLOADS = {
    "bulk": (setup_bulk, step_bulk, metrics_bulk, first_of_each(BULK_CYCLE)),
    "table_ops": (setup_table_ops, step_table_ops, metrics_table_ops,
                  first_of_each(TABLE_SCHEDULE)),
}
