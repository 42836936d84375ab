"""Benchmark of graphlite-spark through its public API; see NOTES.md."""
