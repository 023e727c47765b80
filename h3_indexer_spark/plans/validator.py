"""Validate stage (parity: reference validator.py:64-115).

Per input: read the source, check PK uniqueness and numeric attribute
types, attach the canonical WKT geometry column, repair/drop invalid
geometries, and persist at the stage boundary.

Scale improvements over the reference:
- PK uniqueness is ONE job — ``agg(count, count_distinct)`` — instead
  of two separate count actions (reference validator.py:24-31).
- geometry repair + invalid-drop is a single vectorized pandas UDF
  pass instead of four chained Sedona expressions with two count
  actions (reference geospatial.py:140-166).
- only one persist, at the stage boundary (the reference's
  cache+count-per-step serializes the pipeline, SURVEY.md §4).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from h3_indexer_spark.config.job import Job, JobStatus
from h3_indexer_spark.config.vector import GeometryType, VectorTable
from h3_indexer_spark.constants import GEOM_WKT, NUMERIC_TYPE_NAMES
from h3_indexer_spark.functions.udfs import canonical_wkt_udf
from h3_indexer_spark.sources.readers import read_source

log = logging.getLogger(__name__)


class ValidationError(ValueError):
    pass


def _check_unique_id(df: DataFrame, uid: str, input_name: str) -> None:
    """PK uniqueness (reference validator.py:15-36) in one job."""
    row = df.agg(
        F.count(uid).alias("total"),
        F.count_distinct(F.col(uid)).alias("distinct"),
        F.count("*").alias("rows"),
    ).collect()[0]
    if row["total"] != row["rows"]:
        raise ValidationError(
            f"unique_id column '{uid}' of input '{input_name}' contains nulls"
        )
    if row["total"] != row["distinct"]:
        raise ValidationError(
            f"unique_id column '{uid}' of input '{input_name}' is not unique: "
            f"{row['total']} rows, {row['distinct']} distinct values"
        )


def _check_numeric_columns(df: DataFrame, vt: VectorTable) -> None:
    """Attribute columns must exist and be numeric (reference
    validator.py:39-61; README.md:168 rejects categoricals)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    for col in vt.input_column_names:
        if col not in schema:
            raise ValidationError(
                f"input column '{col}' not found in input '{vt.id}' "
                f"(available: {sorted(schema)})"
            )
        type_name = schema[col].typeName()
        base = type_name.split("(")[0]
        if base not in NUMERIC_TYPE_NAMES:
            raise ValidationError(
                f"input column '{col}' of input '{vt.id}' has non-numeric "
                f"type {type_name}; only numeric attribute columns are "
                "supported"
            )


def _attach_canonical_geometry(df: DataFrame, vt: VectorTable) -> DataFrame:
    """Attach ``geom_wkt`` (reference vector.py:105-126 +
    geospatial.py:55-114): from lat/lon columns (POINT only) or by
    sniffing/re-encoding the declared geometry column."""
    if vt.geometry_column_name is None:
        # POINT with lat/lon columns (reference vector.py:113-117)
        return df.withColumn(
            GEOM_WKT,
            F.when(
                F.col(vt.lat_column_name).isNotNull()
                & F.col(vt.lon_column_name).isNotNull(),
                F.concat(
                    F.lit("POINT ("),
                    F.col(vt.lon_column_name).cast("string"),
                    F.lit(" "),
                    F.col(vt.lat_column_name).cast("string"),
                    F.lit(")"),
                ),
            ),
        )
    return df.withColumn(GEOM_WKT, canonical_wkt_udf(F.col(vt.geometry_column_name)))


def _drop_invalid_geometries(df: DataFrame, vt: VectorTable) -> DataFrame:
    """Null/invalid geometry drop (reference geospatial.py:140-166;
    P4+P5). The canonical-WKT UDF already nulled irreparable rows."""
    return df.filter(F.col(GEOM_WKT).isNotNull())


def validate_input(
    spark: SparkSession, vt: VectorTable, input_name: str
) -> VectorTable:
    df = read_source(
        spark,
        path=vt.path,
        table=(
            f"{vt.catalog_database}.{vt.catalog_table}"
            if vt.catalog_table and vt.catalog_database not in (None, "default")
            else vt.catalog_table
        ),
        where_clause=vt.where_clause,
        jdbc_url=vt.jdbc_url,
    )
    _check_unique_id(df, vt.unique_id, input_name)
    _check_numeric_columns(df, vt)
    df = _attach_canonical_geometry(df, vt)
    df = _drop_invalid_geometries(df, vt)
    # persist BEFORE any validation action: the POINT-type count below
    # is an eager pass over the full input, and without the persist the
    # downstream Index stage would re-scan + re-canonicalize everything
    # a second time — an extra full pass per input at 100 TB.
    df = df.persist()
    if vt.geometry_type == GeometryType.POINT and vt.geometry_column_name:
        # points must parse as points: a LINESTRING/POLYGON smuggled
        # into a POINT input would silently allocate nothing or the
        # wrong cells downstream — fail the job here instead. One
        # aggregate over the canonical column (already computed).
        n_bad = df.filter(
            ~F.col(GEOM_WKT).startswith("POINT")
            & ~F.col(GEOM_WKT).startswith("MULTIPOINT")
        ).count()
        if n_bad:
            df.unpersist()
            raise ValidationError(
                f"input '{input_name}': {n_bad} geometries are not "
                f"POINT/MULTIPOINT but geometry_type is POINT"
            )
    vt.df = df
    return vt


def validate_config(job: Job, spark: SparkSession) -> Job:
    """Validate every input; status → VALIDATED (reference
    validator.py:64-115). When an input fails, the frames already
    persisted for earlier inputs are released before the error
    propagates."""
    try:
        for name, vt in job.inputs.items():
            validate_input(spark, vt, name)
    except ValidationError:
        job.release()
        job.update_status(JobStatus.FAILED, error="validation failed")
        raise
    job.update_status(JobStatus.VALIDATED)
    return job
