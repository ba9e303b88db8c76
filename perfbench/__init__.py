"""Repository benchmark: seeded workloads, correctness checks and
per-layer tracing. Entry point: ``python3 perfbench/run.py --help``."""
