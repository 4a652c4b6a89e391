"""Closed-loop benchmark of sparkcheck's public API (see README.md)."""
