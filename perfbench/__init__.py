"""Benchmark of the graph-ETL engine: sync cycle and analytics workloads."""
