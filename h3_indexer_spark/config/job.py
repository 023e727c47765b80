"""Job configuration + lifecycle state machine.

Behavioral parity with the reference Job pydantic model
(``/root/reference/src/h3_indexer/data_model/job.py:19-173``): semver
check, resolution bounds 3-10, input coercion into VectorTable, and the
PENDING → VALIDATED → RUNNING_INDEXER → COMPLETED_INDEXER →
RUNNING_RESOLVER → COMPLETED_RESOLVER / FAILED status machine.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum
from typing import TYPE_CHECKING, Any, Optional

from h3_indexer_spark.config.vector import VectorTable

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

_SEMVER_RE = re.compile(r"^\d+\.\d+\.\d+$")

MIN_H3_RESOLUTION = 3
MAX_H3_RESOLUTION = 10


class JobStatus(str, Enum):
    """Lifecycle states (reference job.py:19-28)."""

    PENDING = "PENDING"
    VALIDATED = "VALIDATED"
    RUNNING_INDEXER = "RUNNING_INDEXER"
    COMPLETED_INDEXER = "COMPLETED_INDEXER"
    RUNNING_RESOLVER = "RUNNING_RESOLVER"
    COMPLETED_RESOLVER = "COMPLETED_RESOLVER"
    FAILED = "FAILED"


def create_unique_id() -> str:
    """Timestamp-hash job id (reference job.py:31-40)."""
    return hashlib.sha256(str(time.time()).encode()).hexdigest()[:12]


@dataclass
class Job:
    """A whole pipeline run (reference job.py:43-85)."""

    name: str
    version: str
    h3_resolution: int
    output_path: str
    inputs: dict[str, Any]
    h3_resolved_df: Optional["DataFrame"] = None
    id: str = field(default_factory=create_unique_id)
    status: JobStatus = JobStatus.PENDING
    error_message: Optional[str] = None
    created_at: datetime = field(
        default_factory=lambda: datetime.now(timezone.utc)
    )
    updated_at: Optional[datetime] = None

    def __post_init__(self) -> None:
        if not _SEMVER_RE.match(self.version):
            raise ValueError('version must be in format #.#.# (e.g. "1.0.0")')
        if not (MIN_H3_RESOLUTION <= self.h3_resolution <= MAX_H3_RESOLUTION):
            raise ValueError(
                f"only H3 resolutions {MIN_H3_RESOLUTION}-{MAX_H3_RESOLUTION} "
                f"are supported, got: {self.h3_resolution}"
            )
        self.status = JobStatus(self.status)
        self.inputs = {
            name: self._coerce_input(name, spec)
            for name, spec in self.inputs.items()
        }

    def _coerce_input(self, name: str, spec: Any) -> VectorTable:
        """Dict → VectorTable (reference job.py:144-173). Raster inputs
        are declared-but-disabled in the reference (README.md:161); we
        reject them with the same message shape."""
        if isinstance(spec, VectorTable):
            return spec
        if not isinstance(spec, dict):
            raise ValueError(f"invalid input spec for {name!r}")
        kind = spec.get("type", "vector")
        if kind == "raster":
            raise ValueError(
                f"Raster data types are not currently enabled (input: {name})"
            )
        if kind != "vector":
            raise ValueError(
                f"input type must be 'vector' or 'raster' for input: {name}"
            )
        spec = {k: v for k, v in spec.items() if k not in ("id", "job_id")}
        # Reference field-name aliases (vector.py:85-92) so the
        # reference's job configs work unmodified.
        aliases = {
            "s3_path": "path",
            "glue_catalog_database_name": "catalog_database",
            "glue_catalog_table_name": "catalog_table",
            "geometry_column": "geometry_column_name",
        }
        for old, new in aliases.items():
            if old in spec and new not in spec:
                spec[new] = spec.pop(old)
        return VectorTable(id=name, job_id=self.id, **spec)

    def update_status(self, status: JobStatus, error: str | None = None) -> "Job":
        """State transition (reference job.py:97-108)."""
        self.status = status
        self.error_message = error
        self.updated_at = datetime.now(timezone.utc)
        return self

    def set_h3_resolved_df(self, df: "DataFrame") -> "Job":
        self.h3_resolved_df = df
        return self

    def release(self) -> "Job":
        """Unpersist every frame the stages cached for this job (each
        input's validated and indexed frames, the resolved frame), so
        a session that runs many jobs keeps none of them behind."""
        frames = [self.h3_resolved_df]
        for vt in self.inputs.values():
            frames += [vt.df, vt.h3_indexed_df]
        for df in frames:
            if df is not None:
                df.unpersist()
        return self

    @property
    def vector_inputs(self) -> dict[str, VectorTable]:
        return dict(self.inputs)
