"""Benchmark of the temporal serving stack (see README.md)."""
