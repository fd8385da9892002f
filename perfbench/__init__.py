"""Seeded end-to-end and per-layer benchmark for hunt_spark (see run.py)."""
