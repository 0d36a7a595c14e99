"""Crawl-loop benchmark (see README.md)."""
