"""Layered, seeded benchmark of the elastic_indexer4s_spark engine (see README.md)."""
