"""The repository's benchmark: seeded workloads, verified end-to-end
metrics and an outside-in per-layer trace. Entry point: ``run.py``."""
