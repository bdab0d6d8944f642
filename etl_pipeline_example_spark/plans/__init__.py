"""Relational, analytic, data-quality and graph query plans.

Each module exports its registry keys as module-level ``*_QUERIES`` /
``*_ORACLES`` dicts; ``__spark_entry__.discover`` collects them.
"""
