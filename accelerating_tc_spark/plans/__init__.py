"""Explicit physical-plan constructors: 2D edge blocking, the web-graph pipeline."""
