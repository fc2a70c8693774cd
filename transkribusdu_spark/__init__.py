"""transkribusdu_spark — a from-scratch PySpark-native document-understanding
and main-content extraction engine with the query/data-processing
capabilities of the Transkribus/TranskribusDU reference (see SURVEY.md).

Architecture (Spark-first, NOT a port):

- One row per document (``url``); every graph-shaped step of the reference
  (parse -> nodes -> edges -> features -> score -> cluster -> extract) is
  document-local (reference: one Graph per file/page,
  ``graph/Graph_Multi_SinglePageXml.py:77-133``), so it runs inside
  vectorized Arrow UDFs over hash-partitioned batches.
- Only *fitting* (quantiles, vocabularies, class weights, model training)
  aggregates across documents — expressed as plain DataFrame aggregations
  with results broadcast back into the scoring UDFs.
- Everything relational (dedup, similarity search, text analytics,
  evaluation) is declarative DataFrame/SQL so Catalyst handles pushdown,
  pruning, AQE and join strategy.
"""

__version__ = "0.1.0"

SEED = 42
