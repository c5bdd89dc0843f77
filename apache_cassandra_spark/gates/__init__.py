"""Declared gate queries, one module per operator family.

Each module holds one family's ``q_*`` builders, their private helpers
and, after them, the module's ``ORACLES`` dict: the ANSI-SQL each
exactly-checked builder must match when DuckDB runs it on the same
tables. ``apache_cassandra_spark.queries`` merges the dicts into the
registry. The canonical value encoding
(``sources/ingest._canon``) is chosen so both engines produce
byte-identical strings; all hashing is md5; all float outputs are either
exact-decimal-derived doubles or rounded at 6 digits after bit-identical
double arithmetic (verified empirically in tools/check_oracle.py).
"""
