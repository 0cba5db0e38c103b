"""Layered end-to-end benchmark for geodata_spark (see README.md)."""
