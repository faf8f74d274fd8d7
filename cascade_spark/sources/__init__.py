"""Batch sources & sinks (parquet/csv/json scans, partitioned writes).

Deliberately imports nothing: Python data-source workers unpickle
``cascade_bus`` classes in fresh interpreters, and an eager import here
would pull the whole query surface into each of them
(``plans.registry.load_all`` imports the modules that register queries).
"""
