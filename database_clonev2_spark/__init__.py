"""database_clonev2_spark — a PySpark-native analytics engine with the
capability surface of allanRnobre/Database-CloneV2.

The reference (`/root/reference/Program.cs`) is a single-threaded SQL Server →
SQL Server cloning ETL: catalog introspection, idempotent DDL generation, and
batched row copy. This package re-expresses that capability surface — plus the
large-scale training-data-pipeline extensions mandated by BASELINE.json — as an
idiomatic Spark DataFrame/SQL engine:

- ``session``    SparkSession factory tuned for scale (AQE, UTC, Arrow).
- ``types``      SQL Server ↔ Spark type mapping (ref Program.cs:813-886).
- ``render``     literal/DDL rendering as Catalyst column expressions
                 (ref Program.cs:748-781).
- ``catalog``    catalog-snapshot DataFrames, the engine's introspection IR
                 (ref Program.cs:160-186; sys.columns analogue).
- ``commit``     the on-disk commit primitives shared by every durable
                 store (atomic JSON write, batch ledger, recovery lock).
- ``operators``  tier-A relational operators (SURVEY.md §2.A) as query
                 builders checked against a DuckDB oracle.
- ``pipeline``   tier-B clone pipeline: DDL gen + executor + table copy
                 (ref Program.cs:56-112,598-743).
- ``extensions`` dedup / similarity / text-analysis / multimodal operators
                 for 100 TB training-data pipelines.
- ``streaming``  Structured Streaming mirrors of the batch operators.
"""

__version__ = "0.1.0"
