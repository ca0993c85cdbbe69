"""PySpark-native document-understanding extraction engine.

A from-scratch rebuild of the *computations* of
aws-samples/amazon-textract-transformer-pipeline (reference snapshot at
/root/reference, cited per-operator as ``file:line`` in docstrings) on an
idiomatic Spark substrate. The extraction plan is scan → the one ``fused``
``mapInArrow`` kernel (parse, assemble, enrich, mention and consolidate
each page in one Python pass) → sink. The execution model is documented in
SURVEY.md; the data model in FIXTURES.md.

Grain convention:
  * **doc grain** — one row per url, ``pages ARRAY<STRUCT<...>>`` nested.
    The whole extraction path is embarrassingly parallel at this grain
    (the reference has no cross-document joins, SURVEY.md §2.9), so the
    hot path runs shuffle-free.
  * **page / word grain** — ``explode`` views for relational operators
    (driver-gate queries, oracles and tests).
"""

__version__ = "0.1.0"
