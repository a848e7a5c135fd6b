"""Seeded CDC benchmark for bitcoin_etl_spark (see README.md)."""
