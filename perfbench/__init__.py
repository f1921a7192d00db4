"""Closed-loop benchmark of the projectone_spark engine; see README.md."""
