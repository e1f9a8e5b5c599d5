"""Seeded, fixed-length benchmark of interference_spark (see run.py)."""
