"""Seeded benchmark for the airline warehouse engine; ``run.py`` is the
entry point and documents the workloads and metrics."""
