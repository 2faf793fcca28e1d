"""Seeded end-to-end and per-layer benchmark for the als_hadoop_spark engine.

Run one workload from the repository root::

    python3 perfbench/run.py --workload als_recsys --seed 1 --seconds 8 --trace 0

See perfbench/README.md for the workloads, the metrics and how each
per-layer metric maps to the end-to-end metric it should move.
"""
