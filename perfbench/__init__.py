"""End-to-end and per-layer benchmark of nexus_event_stream_spark.

Run from the repository root::

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 25 --trace 0

See perfbench/README.md for the workloads and metrics.
"""
