"""End-to-end and per-layer benchmark of the engine (see DESIGN.md).

Run one workload with ``python3 perfbench/run.py --workload etl --seed 1
--seconds 14 --trace 0`` from the repository root.
"""
