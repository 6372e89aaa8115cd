"""Seeded, checked benchmark of irkit_spark's public API (see DESIGN.md)."""
