"""Workload benchmark for the click-stream engine.

Run one workload per process from the repository root::

    python3 perfbench/run.py --workload click_stream --seed 1 --seconds 5 --trace 0

The last stdout line is the JSON result; ``BENCHMARK.json`` at the
repository root lists the workloads and metrics.
"""
