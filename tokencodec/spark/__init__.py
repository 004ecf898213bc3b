"""Spark-side orchestration: synth data, partitioning, encode/decode jobs,
snapshot table with resume. All heavy lifting is vectorized Arrow/numpy
inside mapInArrow — no per-row Python anywhere (BASELINE.json input_hint)."""

from pyspark import TaskContext

if TaskContext.get() is not None:  # inside a Spark Python worker
    from .worker import install

    install()
