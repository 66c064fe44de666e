"""Table provisioning (reference S8: db/create_table_and_roles.sql —
sequence + ``conditions`` table + 8 indexes + hypertable conversion +
roles; teardown in cleanup_table_and_roles.sql).

Spark mapping (SURVEY §2.1 S8):
- hypertable time-chunking  → parquet table PARTITIONED BY (date),
  ``date = to_date(timestamp)`` in the session time zone; the panel
  queries prune it like chunk exclusion through the ``date`` range
  predicate ``operators.timeseries._slice`` derives from their
  ``timestamp`` window (a ``timestamp`` filter alone prunes nothing),
  exact for stores written under the engine's UTC session;
- 8 secondary indexes       → parquet row-group min/max statistics +
  predicate pushdown (no index maintenance cost at ingest);
- sequence surrogate key    → ``monotonically_increasing_id`` at write
  (non-contiguous — documented semantic difference);
- roles/grants              → catalog-level concern (Unity/HMS/Ranger),
  intentionally out of engine scope.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

CONDITIONS_DDL_COLUMNS = """
  timestamp              TIMESTAMP NOT NULL,
  measurement_subject    STRING    NOT NULL,
  measurement_publisher  STRING    NOT NULL,
  measurement_of         STRING    NOT NULL,
  measurement_number     DOUBLE,
  measurement_string     STRING,
  measurement_bool       BOOLEAN,
  measurement_location   STRING,
  correlation_id         STRING,
  measurement_unique_id  BIGINT,
  date                   DATE
"""


def provision_conditions_table(
    spark: SparkSession,
    path: str,
    table_name: str = "conditions",
) -> None:
    """CREATE TABLE IF NOT EXISTS ... USING PARQUET PARTITIONED BY (date)."""
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table_name} ({CONDITIONS_DDL_COLUMNS})
        USING PARQUET
        PARTITIONED BY (date)
        LOCATION '{path}'
        """
    )


def cleanup_conditions_table(spark: SparkSession, table_name: str = "conditions") -> None:
    """Metadata teardown (reference cleanup script). External data files
    are NOT deleted — dropping an external table never destroys data."""
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
