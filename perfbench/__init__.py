"""Seeded benchmark for the xapian_spark engine; run with perfbench/run.py."""
