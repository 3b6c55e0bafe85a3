"""Closed-loop benchmark of bpaotu_spark: workloads, tracing and output checks.

Run ``python3 perfbench/run.py --workload portal --seed 1 --seconds 10
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
