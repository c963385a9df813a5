"""Repository benchmark: seeded workloads, checks and traced layer metrics."""
