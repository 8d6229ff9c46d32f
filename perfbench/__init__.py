"""Closed-loop benchmark of the engine package; run ``perfbench/run.py``."""
