"""Seeded end-to-end benchmark of the BM25 engine; entry point ``run.py``."""
