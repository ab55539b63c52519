"""Reporting-table sinks: partitioned, per-class dynamic tables.

Parity with the reference reporting layer (save_reporting_data.py):
- fixed-schema metric/metering tables written under date partitions
  (`evaluation_metrics/.../date=YYYY-MM-DD`, :541-772, :1004-1125) ->
  `partitionBy("date")` parquet (Iceberg `PARTITIONED BY (days(ts))`
  in production — same layout, atomic snapshots);
- per-class dynamic-schema `document_sections/{class}` tables
  (:1127-1337): attribute JSON parsed with the per-class StructType
  (the Spark analog of `_infer_pyarrow_type`/`_create_dynamic_schema`)
  and written one table per class.

Every write overwrites its table. Locally the warehouse is a parquet
directory tree; the same calls target an Iceberg catalog by swapping the
parquet writes for `df.writeTo(tbl).createOrReplace()`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.attributes import attribute_schema


def write_metrics_table(metrics: DataFrame, warehouse: str, name: str) -> None:
    """Overwrite the table, one partition per value of the ``date``
    column the caller supplies (the report date)."""
    metrics.write.mode("overwrite").partitionBy("date").parquet(os.path.join(warehouse, name))


def write_document_sections(attrs: DataFrame, warehouse: str,
                            classes: dict | None = None) -> list[str]:
    """One structured table per document class: attributes_json parsed with
    the class schema, flattened one level (group fields -> dotted columns),
    overwriting document_sections_{class}. Returns written table names."""
    written = []
    cls_rows = [r.classification for r in
                attrs.select("classification").distinct().collect()]
    for cls in sorted(cls_rows):
        schema = attribute_schema(cls, classes)
        if not schema.fields:
            continue
        sub = attrs.where(F.col("classification") == cls).select(
            "doc_id", "section_id",
            F.from_json("attributes_json", schema).alias("a"),
        )
        cols = [F.col("doc_id"), F.col("section_id")]
        for field in schema.fields:
            safe = field.name.replace(" ", "_").lower()
            cols.append(F.col(f"a.`{field.name}`").alias(safe))
        name = f"document_sections_{cls}"
        sub.select(*cols).write.mode("overwrite").parquet(os.path.join(warehouse, name))
        written.append(name)
    return written


def list_warehouse_tables(spark: SparkSession, warehouse: str) -> list[str]:
    """Catalog-metadata read (§2.11 get_database_info analog; with an
    Iceberg catalog this is spark.catalog.listTables)."""
    if not os.path.isdir(warehouse):
        return []
    return sorted(
        d for d in os.listdir(warehouse)
        if os.path.isdir(os.path.join(warehouse, d))
    )
