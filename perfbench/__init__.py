"""tokencodec engine benchmark: seeded workloads timed from outside the
engine through its public functions. Entry point: ``perfbench/run.py``."""
