"""End-to-end and per-layer extraction benchmark (see README.md)."""
