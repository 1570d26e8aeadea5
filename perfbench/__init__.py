"""Workload benchmark for entwiner_spark: see README.md in this directory."""
