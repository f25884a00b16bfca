"""blspark benchmark: workloads, tracing and input generation (see README.md)."""
