"""Per-family registry segments.

Each module holds the query callables and DuckDB oracle SQL for one slice
of the registry and ends with its ``QUERIES`` table. ``order.py`` freezes
the driver order (generated by ``scripts/registry_rotation.py``);
``legal_document_ocr_spark.queries`` merges the tables into SPARK/ORACLE.
"""
