"""Benchmark for the registered queries and the Report1 ETL (see README.md)."""
