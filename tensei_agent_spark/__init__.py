"""tensei_agent_spark — a PySpark-native analytics / ETL engine.

A from-scratch re-expression of the capabilities of the reference engine
Tensei-Data/tensei-agent (an actor-based, row-at-a-time schema-driven ETL
engine — see SURVEY.md) as an idiomatic Spark DataFrame engine, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) the reference lacks.

Layout
------
- ``session``      SparkSession factory tuned for the driver harness
- ``catalog``      test-table loading helpers
- ``spec``         pipeline spec model (≙ reference Cookbook/Recipe ADTs)
- ``plans``        plan compiler: validation, FK topo-sort, schema derivation
- ``sources``      csv / json / xml / excel / jdbc / network-staged readers
- ``sinks``        csv / json (nested) / jdbc (insert + upsert + DDL) writers
- ``functions``    transformer registry (≙ reference transformers, §2.7)
- ``operators``    joins (row-align, key), dedup, similarity, text, stats,
                   multimodal plumbing
- ``infer``        schema inference (≙ SchemaExtractor)
"""

__version__ = "0.1.0"
