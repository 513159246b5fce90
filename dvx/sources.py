"""Staging-file sources — the reference's AvroReader re-expressed.

The reference stages CDC extracts as Avro files and reads them with
embedded-schema merge, lineage enrichment, and a validation gate
(/root/reference/src/main/scala/bronze/utils/AvroReader.scala:159-187
read + enrich, :283-313 schema merge, :212-261 validation). Our engine's
native staging format is parquet (the changelog directory dvx.stream
tails), but the same operator surface is exposed here for any staged
format:

- :func:`read_staging` — batch scan with lineage columns
  ``_source_file`` (``input_file_name()``, AvroReader.scala:183) and
  ``_load_timestamp`` (audit-only wall clock; data-plane timestamps stay
  event-derived per the determinism rule).
- schema merge across file generations (``mergeSchema``): files written
  before an additive evolution null-fill new columns on read — the
  loyalty_tier scenario (AvroReader.scala:299-313).
- :func:`validate_staging` — fail-fast on missing required columns,
  warn-and-return on unexpected extras (the additive-evolution signal),
  rule-derived from a canonical StructType exactly as the reference
  derives rules from the .avsc (AvroReader.scala:114-144).

Avro itself is import-gated: the spark-avro jar is not bundled with the
pyspark pip distribution, so ``fmt="avro"`` raises a clear error here
unless the jar was provided via ``--packages``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dvx.schema import descriptive_cols

log = logging.getLogger(__name__)

_FORMATS = {"parquet", "json", "csv", "orc", "avro"}


def validate_staging(df: DataFrame, canonical: StructType) -> list[str]:
    """Schema gate (S3). Required = non-nullable canonical fields (the
    reference: non-nullable union AND no default => required). Missing
    required -> ValueError; extras -> warn + return (evolution signal)."""
    required = [f.name for f in canonical.fields if not f.nullable]
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"staging data missing required columns: {missing}")
    extras = descriptive_cols(df.columns, canonical)
    if extras:
        log.warning("staging has unexpected new columns (evolution?): %s", extras)
    return extras


def read_staging(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    canonical: StructType | None = None,
    merge_schema: bool = True,
    **options,
) -> DataFrame:
    """Batch staging scan with lineage enrichment (S1/S2).

    Returns the staged rows plus ``_source_file`` and ``_load_timestamp``
    lineage columns (underscore-prefixed: excluded from hash-diff and
    satellite payloads by dvx.schema.descriptive_cols).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported staging format {fmt!r}; one of {sorted(_FORMATS)}")
    reader = spark.read
    if merge_schema and fmt in ("parquet", "orc"):
        reader = reader.option("mergeSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        df = reader.format(fmt).load(path)
    except Exception as e:  # avro jar missing, unreadable dir, ...
        if fmt == "avro":
            raise RuntimeError(
                "avro staging requires the spark-avro jar "
                "(spark-submit --packages org.apache.spark:spark-avro_2.13:<ver>); "
                "it is not bundled with the pip pyspark distribution"
            ) from e
        raise
    if canonical is not None:
        validate_staging(df, canonical)
    return df.withColumns(
        {
            "_source_file": F.input_file_name(),
            "_load_timestamp": F.current_timestamp(),
        }
    )
