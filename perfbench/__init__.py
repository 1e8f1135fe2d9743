"""Pipeline benchmark (see run.py)."""
