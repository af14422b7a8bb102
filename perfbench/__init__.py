"""KG-build benchmark: workloads, oracle gate and per-layer tracing."""
