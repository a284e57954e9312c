"""Closed-loop benchmark for the engine; see perfbench/README.md."""
