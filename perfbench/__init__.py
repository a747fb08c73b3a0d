"""KG-construction benchmark (see run.py)."""
