"""Seeded three-workload benchmark for the spark-graft package.

Entry point: ``python3 graftbench/run.py --workload <ingest|dashboard|fixpoint>
--seed N --seconds S --trace 0|1`` from the repository root.
"""
