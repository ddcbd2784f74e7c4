"""Spark SQL query surface over landed tables (SURVEY.md §2.9).

The reference has no relational operators of its own — downstream queries run
in Hive over the tables it maintains (docs/hdfs_connector.rst:192-200). In the
rebuild that surface is Spark SQL; this package holds the representative
analytical plans the driver verifies against DuckDB.
"""
