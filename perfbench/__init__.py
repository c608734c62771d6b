"""End-to-end benchmark of the mpes_spark engine (see README.md)."""
