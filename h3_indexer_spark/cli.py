"""CLI entry point (parity: reference src/main.py:101-155).

    python -m h3_indexer_spark.cli --json-input '<json>' --run-all
    python -m h3_indexer_spark.cli --yaml-path job.yaml --validate-only
    python -m h3_indexer_spark.cli --yaml-path job.yaml --index-only

Stages: Validate → Index (write per-input parquet) → Resolve (write
job-level parquet); outputs partitioned by (h3_resolution,
h3_r3_parent), ≤500k records/file (reference main.py:63-64,95-96).
"""

from __future__ import annotations

import argparse
import logging
import sys

from h3_indexer_spark.config.loader import job_from_json, job_from_path
from h3_indexer_spark.constants import H3_R3_PARENT
from h3_indexer_spark.plans.indexer import index_job
from h3_indexer_spark.plans.resolver import resolve_job
from h3_indexer_spark.plans.validator import validate_config
from h3_indexer_spark.session import get_spark_session
from h3_indexer_spark.sources.writers import (
    write_parquet,
    write_partitioned_parquet,
)

log = logging.getLogger("h3_indexer_spark")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="h3_indexer_spark")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--yaml-path", help="path to a YAML/JSON job config")
    src.add_argument("--json-input", help="inline JSON job config")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--validate-only", action="store_true")
    mode.add_argument("--index-only", action="store_true")
    mode.add_argument("--run-all", action="store_true", default=False)
    p.add_argument(
        "--zorder",
        metavar="COLS",
        help=(
            "comma-separated numeric columns; the resolved output is "
            "written Z-order-clustered on them (multi-dimensional "
            "data skipping) instead of hive-partitioned"
        ),
    )
    p.add_argument(
        "--expectations",
        metavar="RULES_PATH",
        help=(
            "YAML/JSON list of data-quality rules (operators/"
            "expectations.py kinds); the resolved output is written "
            "ONLY if every rule passes — the report always lands at "
            "<output>/expectations_report, and a failed gate exits 3"
        ),
    )
    return p


def run(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if (args.validate_only or args.index_only) and (
        args.zorder or args.expectations
    ):
        # both flags act on the RESOLVED output, which these modes
        # never produce — exiting 0 with the gate silently skipped
        # would read as "expectations passed" to a CI pipeline
        parser.error(
            "--zorder/--expectations apply to the resolved output; "
            "they cannot be combined with --validate-only/--index-only"
        )
    logging.basicConfig(level=logging.INFO)
    job = (
        job_from_path(args.yaml_path)
        if args.yaml_path
        else job_from_json(args.json_input)
    )
    spark = get_spark_session(job.h3_resolution, app_name=f"h3idx-{job.name}")
    try:
        return _run_stages(args, job, spark)
    finally:
        job.release()


def _run_stages(args: argparse.Namespace, job, spark) -> int:
    """Validate → Index → Resolve with the writes the mode asks for;
    returns the exit code."""
    validate_config(job, spark)
    log.info("job %s validated (%d inputs)", job.id, len(job.inputs))
    if args.validate_only:
        return 0

    index_job(job, spark)
    for name, vt in job.inputs.items():
        out = f"{job.output_path}/indexed/{name}"
        write_partitioned_parquet(vt.h3_indexed_df, out)
        log.info("indexed input %s -> %s", name, out)
    if args.index_only:
        return 0

    resolve_job(job, spark)
    out = f"{job.output_path}/resolved"

    if args.expectations:
        from h3_indexer_spark.config.loader import rules_from_path
        from h3_indexer_spark.operators.expectations import (
            check_expectations,
        )

        report = check_expectations(
            job.h3_resolved_df, rules_from_path(args.expectations)
        )
        # one evaluation: collect the (one-row-per-rule) report, then
        # write the collected rows — write_parquet(report) followed by
        # report.collect() would run the whole rule scan twice
        rows = report.collect()
        report_out = f"{job.output_path}/expectations_report"
        write_parquet(
            spark.createDataFrame(rows, report.schema), report_out
        )
        failed = [
            (r.rule, r.target, r.n_violations)
            for r in rows
            if not r.passed
        ]
        if failed:
            for rule, target, n in failed:
                log.error(
                    "expectation FAILED: %s on %s (%d violations)",
                    rule,
                    target,
                    n,
                )
            log.error(
                "resolved output NOT written (report at %s)", report_out
            )
            return 3
        log.info("expectations passed (report at %s)", report_out)

    if args.zorder:
        from h3_indexer_spark.sources.writers import zorder_write

        cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
        zorder_write(job.h3_resolved_df, out, cols)
        log.info("resolved job %s -> %s (z-ordered on %s)", job.id, out, cols)
    else:
        write_partitioned_parquet(job.h3_resolved_df, out)
        log.info("resolved job %s -> %s", job.id, out)
    return 0


if __name__ == "__main__":
    sys.exit(run())
