"""Seeded, layer-mapped benchmark for datarepo_spark.

Entry point: ``python3 lakebench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` from the repository root. See ``run.py``.
"""
