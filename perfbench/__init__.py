"""Sync benchmark of the hephaestus_spark program (see README.md)."""
