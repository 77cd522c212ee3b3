"""Repository benchmark: workloads, tracing and comparison (see run.py)."""
