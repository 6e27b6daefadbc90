"""Benchmark of the crawl system: seeded workloads, oracle-checked outputs,
end-to-end metrics and a separate traced run for per-layer metrics."""
