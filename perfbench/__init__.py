"""Benchmark for the ex_elasticlunr_spark engine (see run.py)."""
