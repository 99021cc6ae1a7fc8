"""Closed-loop, output-checked benchmark for util_gis_spark (see README.md)."""
