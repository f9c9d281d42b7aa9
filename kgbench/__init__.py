"""Repository benchmark for the mmore_spark KG pipeline (see README.md)."""
