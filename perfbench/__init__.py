"""Standalone benchmark harness for surge_spark; see run.py."""
