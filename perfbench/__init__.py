"""Benchmark of the klinker_spark blocking pipeline and query lanes; see README.md."""
