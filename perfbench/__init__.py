"""Layered crawl / extraction benchmark; see run.py."""
