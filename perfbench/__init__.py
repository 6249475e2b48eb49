"""Seeded end-to-end benchmark of the streamforge engine (see run.py)."""
