"""Dedup benchmark (see README.md)."""
