"""Benchmark for the streaming_data_spark engine; see run.py."""
