"""Benchmark of the query catalog, the streaming pipeline and the KSQL front-end."""
