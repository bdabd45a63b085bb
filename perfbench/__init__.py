"""Benchmark for the erddap2agol_spark engine (see BENCHMARK.json)."""
