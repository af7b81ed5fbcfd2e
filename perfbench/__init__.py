"""Benchmark of the tile engine: end-to-end workloads plus a traced run
that reports per-layer metrics. Entry point: ``python3 perfbench/run.py``;
see ``perfbench/README.md``."""
