"""Seeded end-to-end benchmark for the report ETL and the query catalog.

Run one workload with ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root; the
last stdout line is the JSON result. ``BENCHMARK.json`` at the root
names the workloads and metrics.
"""
