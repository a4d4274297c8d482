"""Benchmark for the S3 -> Postgres drain and the analytic catalog (see README.md)."""
