"""Seeded benchmark of the extraction pipeline, its lineage path and the
text operators. Entry point: ``python3 perfbench/run.py --help``."""
