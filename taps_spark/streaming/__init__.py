"""Structured Streaming harness over the events table; the streaming
queries themselves live in taps_spark/queries/streaming.py."""
