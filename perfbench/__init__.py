"""Closed-loop benchmark of the top_produce_etl_spark package (see run.py)."""
