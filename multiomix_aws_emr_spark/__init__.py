"""multiomix_aws_emr_spark — a PySpark-native analytics engine.

A from-scratch re-foundation of the capabilities of
``omics-datascience/multiomix-aws-emr`` (reference at /root/reference/,
MIT) on idiomatic Spark SQL / DataFrame primitives:

- ``sources``   — parquet/TSV ingestion, the normalized ``events_v`` view,
                  survival-data (molecules/clinical) readers.
- ``queries``   — the declared query inventory (SURVEY.md §2.2): each query
                  is a ``(spark, sf_dir) -> DataFrame`` callable registered
                  together with its DuckDB oracle SQL.
- ``operators`` — reusable dataflow operators (as-of join, dedup family,
                  similarity search, text analysis, multimodal plumbing).
- ``functions`` — column-expression builders (vector math, projections).
- ``plans``     — driver-side planning helpers (observed plan metrics,
                  table statistics, the sketch cache).
- ``streaming`` — Structured Streaming jobs (watermarked aggregations).
- ``fs``        — feature-selection metaheuristics (BBHA) re-expressed as a
                  driver loop with one ``mapInPandas`` evaluation job per
                  iteration, one task per bin of stars.
"""

__version__ = "0.1.0"
