"""Watermarked event-stream operators, run in batch by the query registry."""
