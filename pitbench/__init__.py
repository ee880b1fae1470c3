"""Seeded end-to-end and per-layer benchmark for pitfeat (see run.py)."""
