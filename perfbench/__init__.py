"""Seeded, checked, per-layer-traced benchmark of the engine (see README.md)."""
