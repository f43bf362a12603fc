"""associationabacminer_spark — a from-scratch PySpark-native distributed
sketch / approximate-aggregation engine with the query capabilities of the
reference repo MWSanders/AssociationAbacMiner (see SURVEY.md).

Layout
------
- ``sketch/``     pure-numpy mergeable sketch kernels (HLL, CMS, KLL,
                  t-digest, Bloom) — zero Spark dependencies, fully
                  vectorized (no per-row Python).
- ``operators/``  Spark-side operators: the sorted-stream sketch fold
                  (mapInPandas partial builds, then a tree merge), dedup,
                  similarity search, top-k, windowing.
- ``functions/``  scalar column functions (normalization, text analysis,
                  hashing) — built-in ``pyspark.sql.functions`` only,
                  JVM-side / codegen'd.
- ``sources/``    table loaders + the deterministic transcript synthesizer
                  (the ``input_hint`` table shape).
- ``plans/``      lineage/checkpoint ledger and its observed metrics.
"""

__version__ = "0.1.0"
