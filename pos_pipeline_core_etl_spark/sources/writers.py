"""Sinks: partitioned parquet (internal) + Excel-friendly CSV export.

The medallion layers store Parquet partitioned by ``operating_date``
(and optionally ``sucursal``) so downstream reads get partition pruning
for free (SURVEY §4). The reference's utf-8-sig CSVs
(``payments_cleaner.py:717-729``) remain available as an EXPORT format
for small marts: a driver-side BOM file, byte-compatible with Excel
expectations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("operating_date",),
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def export_csv_bom(df: DataFrame, path: str) -> str:
    """Driver-side utf-8-sig CSV (Excel BOM) for SMALL marts only.

    The whole frame is collected to pandas on the driver and nothing
    checks its size: callers pass mart-sized frames."""
    pdf = df.toPandas()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pdf.to_csv(path, index=False, encoding="utf-8-sig")
    return path
