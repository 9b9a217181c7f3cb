"""The logpipe benchmark: seeded inputs, workloads, oracles and tracing (see README.md)."""
