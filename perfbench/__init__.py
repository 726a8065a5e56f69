"""Extraction benchmark for horus_spark (see run.py)."""
