"""Seeded workloads, answer checks and tracing for the gopensearch_spark benchmark."""
