"""Engine benchmark: seeded workloads driven through the engine's public
entry points, timed from outside, with an optional traced run that splits
each pass into per-layer numbers read from Spark's own status stores."""
