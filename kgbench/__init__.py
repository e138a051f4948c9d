"""KG-construction benchmark over the cimpy_spark pipeline (see README.md)."""
