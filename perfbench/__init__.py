"""Seeded benchmark of the engine: see README.md."""
