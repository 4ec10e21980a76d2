"""Pipeline benchmark (see README.md)."""
