"""Layered benchmark for the engine; see README.md and run.py."""
