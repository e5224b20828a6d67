"""Layered top-N benchmark for the engine; run ``perfbench/run.py``."""
