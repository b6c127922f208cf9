"""The repository benchmark: seeded GridFIA workloads on local[4]."""
