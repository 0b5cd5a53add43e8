"""Closed-loop benchmark of the hbase_tools_spark engine (see run.py)."""
