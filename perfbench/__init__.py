"""Datacube-ML benchmark (see README.md)."""
