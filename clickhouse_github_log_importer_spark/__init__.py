"""PySpark-native analytics engine with the query and data-processing
capabilities of frank-zsy/clickhouse-github-log-importer.

Not a port: the reference is a Node.js ETL shell around ClickHouse; this
package re-expresses its data model (one wide ``events`` table,
ReplacingMergeTree versioned dedup, monthly partitioning), its ingest
dataflow (manifest-driven download -> validate -> parse -> append), and its
documented query surface as idiomatic DataFrame / Spark-SQL plans, and adds
the large-scale training-data operators (dedup, similarity search, text
analysis, multimodal columns) a 100 TB pipeline needs.

Layout
------
- ``session``            SparkSession factory (UTC, AQE, sane shuffle sizing)
- ``schema``             the wide GH events StructType (FieldMap parity)
- ``operators.parsers``  P1-P11 event parsers as one constant SQL projection
- ``operators.dedup_replacing``  ReplacingMergeTree semantics (SURVEY 4.3)
- ``operators.dedup_text``       exact / MinHash-LSH / SimHash / Jaccard dedup
- ``operators.similarity``       cosine top-k ANN (brute force + LSH)
- ``operators.text_analysis``    lang-id, quality score, tokens, fingerprints
- ``operators.multimodal``       binary-column plumbing (decode stubbed)
- ``operators.graph``            nodes/edges projection (Neo4j/TuGraph model)
- ``sources.gharchive``  manifest enumeration + NDJSON.gz scan (S2/S3/S4)
- ``sources.manifest``   file-state machine meta.json (S11/T3)
- ``sources.gitee``      Gitee API event normalization (P15-P17, T6)
- ``plans.queries``      the declared query surface (SURVEY 2) as plans
- ``streaming.pipeline`` incremental micro-batch + Structured Streaming ingest
- ``api``                db_schema / status / query facade (response envelope)
"""

__version__ = "0.1.0"

# convenience surface: the engine is usable with two imports
from .session import get_spark  # noqa: E402,F401
from .schema import EVENTS_SCHEMA, db_schema  # noqa: E402,F401
