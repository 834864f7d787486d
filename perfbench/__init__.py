"""Closed-loop benchmark of the engine: see ``perfbench/run.py``."""
