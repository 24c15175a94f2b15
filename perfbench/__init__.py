"""Seeded end-to-end and per-layer benchmark of the extraction engine.

Run from the repository root::

    python3 perfbench/run.py --workload extract_fused --seed 1 --seconds 8 --trace 0

See ``perfbench/README.md`` for the workloads and metric definitions.
"""
