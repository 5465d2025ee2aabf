"""Benchmark of geoutils_spark on this host: see README.md."""
