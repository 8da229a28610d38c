"""Closed-loop benchmark for the engine: query_mix, graph_iterative, store_ops.

Entry point: ``perfbench/run.py`` (see README.md in this directory).
"""
