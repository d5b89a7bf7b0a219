"""Layered, oracle-checked benchmark of the lucene_spark engine (see README.md)."""
