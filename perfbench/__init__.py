"""COLF benchmark: workloads, oracle, tracing and metrics (see README.md)."""
