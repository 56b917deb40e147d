"""fatespark — a PySpark-native full-text inverted-index + BM25 query engine.

A from-scratch re-expression of the capabilities of jeffrafter/fates (a
pure-Ruby suffix-array full-text library) as an idiomatic Spark engine:
vectorized pandas-UDF tokenization, per-partition compressed posting segments,
salted skew-aware merge into a doc-bucketed parquet/Iceberg index, and BM25
top-k querying with posting intersection and vectorized exhaustive scoring.
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
