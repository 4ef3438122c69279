"""automem_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of verygoodplugins/automem.

The reference system is a Flask service over FalkorDB (property graph) +
Qdrant (vector store). This engine re-expresses its entire query surface —
hybrid recall, graph expansion, enrichment, consolidation — as idiomatic
Spark DataFrame programs designed for 100 TB batch scale:

- columnar Parquet/Delta storage instead of row-oriented dual stores
- filters pushed into the Parquet scan instead of hand-compiled store filters
- similarity joins instead of per-row ANN calls
- window top-k instead of per-request LIMIT loops

See SURVEY.md for the operator-by-operator mapping.
"""

__version__ = "0.1.0"
