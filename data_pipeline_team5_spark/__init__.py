"""data_pipeline_team5_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query/data-processing semantics of
``hhwwan/Data_pipeline_Team5`` (an Airflow + dbt + Redshift box-office ETL
pipeline; read-only snapshot at ``/root/reference``) as an idiomatic Apache
Spark engine: DataFrame/SQL declarative plans optimized by Catalyst, Parquet
partitioned storage instead of table-per-day naming conventions, Structured
Streaming for incremental arrival, and LLM-data-pipeline extensions (dedup,
similarity search, text analysis, multimodal plumbing) designed for 100 TB
scale.

Layout:
    session    — SparkSession builder tuned for local[32] testing / cluster scale
    sources    — readers/writers + the KOFIC-shaped JSON ingest shim
    functions  — deterministic scalar/vector helpers shared by operators
    operators  — one module per SURVEY.md §2 operator family
    plans      — the named-query catalog (Spark fn + DuckDB oracle SQL pairs)
    models     — dbt-style SQL models executed natively via spark.sql
    streaming  — Structured Streaming jobs (SURVEY.md §2.9)
    pipeline   — the batch runner replacing the reference's Airflow DAGs
"""

import os

__version__ = "0.1.0"

# Untracked working space for bench indexes and catalog side effects: the
# checkout's .scratch/ (git-ignored), wherever the checkout lives.
SCRATCH_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
