"""Seeded, oracle-checked benchmark of the optimizing_spark engine."""
