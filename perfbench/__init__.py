"""The repository benchmark: seeded inputs, workloads, tracing and the
runner (``python3 perfbench/run.py``)."""
