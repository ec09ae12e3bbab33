"""Benchmark of record for the decision-tree trainer and predictor."""
