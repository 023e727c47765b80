"""h3_indexer_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capability surface of
``amazon-science/h3-indexer`` (reference at ``/root/reference``, studied
for behavior only): a config-driven Validate → Index → Resolve pipeline
that maps vector geospatial data onto the H3 hexagonal grid, plus a
general relational operator library and large-scale training-data
pipeline operators (dedup, similarity search, text analysis,
multimodal column plumbing) — all expressed Spark-first (DataFrame/SQL,
Catalyst-optimized, Arrow-vectorized pandas UDFs only where built-ins
cannot express the semantics).

Public API (mirrors the reference's library surface,
``/root/reference/src/h3_indexer/__init__.py:5-29``):
"""

from h3_indexer_spark.config.job import Job, JobStatus
from h3_indexer_spark.config.vector import (
    AllocationMethod,
    GeometryType,
    InputColumn,
    VectorTable,
)
from h3_indexer_spark.constants import (
    GEOM_WKT,
    H3_AREA_KM2,
    H3_INDEX,
    H3_R3_PARENT,
    H3_RESOLUTION,
    RATIO,
)
from h3_indexer_spark.config.loader import (
    job_from_dict,
    job_from_json,
    job_from_path,
)
from h3_indexer_spark.plans.indexer import h3_indexer_spark, index_job
from h3_indexer_spark.plans.resolver import (
    h3_resolver_spark,
    resolve_job,
)
from h3_indexer_spark.plans.validator import validate_config
from h3_indexer_spark.session import get_spark_session

__all__ = [
    "AllocationMethod",
    "GEOM_WKT",
    "GeometryType",
    "H3_AREA_KM2",
    "H3_INDEX",
    "H3_R3_PARENT",
    "H3_RESOLUTION",
    "InputColumn",
    "Job",
    "JobStatus",
    "RATIO",
    "VectorTable",
    "get_spark_session",
    "h3_indexer_spark",
    "h3_resolver_spark",
    "index_job",
    "job_from_dict",
    "job_from_json",
    "job_from_path",
    "resolve_job",
    "validate_config",
]

__version__ = "0.1.0"
