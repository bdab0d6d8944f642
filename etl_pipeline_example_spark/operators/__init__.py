"""Corpus, text, dedup, similarity and multimodal operators.

Each module exports its registry keys as module-level ``*_QUERIES`` /
``*_ORACLES`` dicts; ``__spark_entry__.discover`` collects them.
"""
