"""Benchmark of record for wally_spark: seeded workloads, reference
checks, untraced end-to-end metrics and traced per-layer metrics.
Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``."""
