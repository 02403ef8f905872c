"""Benchmark of the KG-construction library: see DESIGN.md and run.py."""
