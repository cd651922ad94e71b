"""Seeded end-to-end and per-layer benchmark for the engine (see README.md)."""
