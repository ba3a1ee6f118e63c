"""outreach_etl_tool_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the `cmbramwell/outreach-etl-tool`
reference (a single-threaded pandas REST-ETL pipeline), extended with
the LLM-training-data operators a 100 TB pipeline needs (dedup,
similarity search, text analysis, multimodal plumbing).

Design principles (see SURVEY.md):
- Declare logical plans with the DataFrame/SQL API; let Catalyst +
  Tungsten + AQE choose physical strategy.
- Explicit StructType schemas everywhere (the reference's
  schema-declared model, SURVEY.md §1.1) — never infer on core tables.
- The JSON-API ingest flattens each record once, at the fetch
  (`ingest.flatten.flatten_record`), to the reference's declared
  flat layout.
- UDFs are the slow path: built-in/higher-order functions first,
  Arrow-batched pandas UDFs where Python is unavoidable.
"""

__version__ = "0.1.0"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
