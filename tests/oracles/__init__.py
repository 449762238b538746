"""Executable specs that production fast paths are checked against."""
