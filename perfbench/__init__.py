"""CDC ingest benchmark (see run.py and BENCHMARK.json at the repository root)."""
