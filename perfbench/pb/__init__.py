"""Analysis half of the benchmark: build, inputs, metrics, checks, traces."""
