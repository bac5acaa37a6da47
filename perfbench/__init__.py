"""The repository benchmark: seeded workloads run through the package's
public entry points, with end-to-end and traced per-layer metrics.
See README.md."""
