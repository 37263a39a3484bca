"""Extraction-engine benchmark (see run.py)."""
