"""Structured Streaming operators, each drained to a batch result.

Each module exports its registry keys as module-level ``*_QUERIES`` /
``*_ORACLES`` dicts; ``__spark_entry__.discover`` collects them.
"""
