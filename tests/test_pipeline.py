"""End-to-end pipeline tests on the geo fixtures (FIXTURES.md Part B):
Validate → Index → Resolve for all three geometry types, plus the
reference's documented invariants (README.md:278-341):

- WITHIN: every row has ratio = 1.0 and total_count = 1
- PCT_LENGTH / PCT_AREA: per feature, sum(ratio) ≈ 1.0
- resolver mass conservation: Σ sum_<col> ≈ Σ input col
- output schemas match the reference's column contracts
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from h3_indexer_spark.config.job import Job, JobStatus
from h3_indexer_spark.plans.indexer import index_job
from h3_indexer_spark.plans.resolver import resolve_job
from h3_indexer_spark.plans.validator import ValidationError, validate_config
from tests.geo_fixtures import ensure_fixtures

RES = 6


@pytest.fixture(scope="session")
def fixture_dir():
    return ensure_fixtures()


def _job(fixture_dir, inputs, res=RES, tmp="/tmp/h3idx_test_out"):
    return Job(
        name="test",
        version="1.0.0",
        h3_resolution=res,
        output_path=tmp,
        inputs=inputs,
    )


def _points_input(fixture_dir):
    return dict(
        type="vector",
        path=str(fixture_dir / "geo_points_latlon.parquet"),
        unique_id="pixel_id",
        geometry_type="POINT",
        method="WITHIN",
        lat_column_name="latitude",
        lon_column_name="longitude",
        input_columns=["population", "reading"],
    )


def _lines_input(fixture_dir):
    return dict(
        type="vector",
        path=str(fixture_dir / "geo_lines.parquet"),
        unique_id="route_id",
        geometry_type="LINE",
        method="PCT_LENGTH",
        geometry_column_name="geometry",
        input_columns=["emissions", "traffic"],
    )


def _polygons_input(fixture_dir):
    return dict(
        type="vector",
        path=str(fixture_dir / "geo_polygons.parquet"),
        unique_id="geoid",
        geometry_type="POLYGON",
        method="PCT_AREA",
        geometry_column_name="geometry",
        input_columns=["population", "area_attr"],
    )


class TestValidate:
    def test_points_ok(self, spark, fixture_dir):
        job = _job(fixture_dir, {"pts": _points_input(fixture_dir)})
        validate_config(job, spark)
        assert job.status is JobStatus.VALIDATED
        assert "geom_wkt" in job.inputs["pts"].df.columns

    def test_bad_pk_rejected(self, spark, fixture_dir):
        spec = _points_input(fixture_dir)
        spec["path"] = str(fixture_dir / "geo_points_bad_pk.parquet")
        job = _job(fixture_dir, {"pts": spec})
        with pytest.raises(ValidationError, match="not unique"):
            validate_config(job, spark)
        assert job.status is JobStatus.FAILED

    def test_string_column_rejected(self, spark, fixture_dir):
        spec = _points_input(fixture_dir)
        spec["path"] = str(fixture_dir / "geo_points_bad_pk.parquet")
        spec["unique_id"] = "latitude"  # floats unique enough? use label col
        spec["input_columns"] = ["label"]
        job = _job(fixture_dir, {"pts": spec})
        with pytest.raises(ValidationError, match="non-numeric"):
            validate_config(job, spark)

    def test_line_wkt_declared_as_point_rejected(self, spark, fixture_dir):
        """LINESTRING geometry smuggled into a POINT-typed input fails
        validation instead of silently mis-indexing downstream."""
        spec = _lines_input(fixture_dir)
        spec["geometry_type"] = "POINT"
        spec["method"] = "WITHIN"
        job = _job(fixture_dir, {"bad": spec})
        with pytest.raises(ValidationError, match="not POINT"):
            validate_config(job, spark)
        assert job.status is JobStatus.FAILED

    def test_invalid_wkt_dropped(self, spark, fixture_dir):
        spec = dict(
            type="vector",
            path=str(fixture_dir / "geo_points_wkt.parquet"),
            unique_id="point_id",
            geometry_type="POINT",
            method="WITHIN",
            geometry_column_name="geometry",
            input_columns=["value"],
        )
        job = _job(fixture_dir, {"pts": spec})
        validate_config(job, spark)
        kept = job.inputs["pts"].df.count()
        total = spark.read.parquet(spec["path"]).count()
        assert kept < total  # nulls + malformed dropped
        assert kept > total * 0.9


class TestJobRelease:
    """The program owns the life cycle of what it caches: a released
    job leaves no persisted frame behind, and a failed validation
    releases the inputs it had already persisted."""

    @staticmethod
    def _persistent_rdds(spark):
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    @pytest.fixture(autouse=True)
    def _empty_cache(self, spark):
        # earlier tests keep frames cached; a job whose plan matches one
        # of them would share (and release) that cache entry
        spark.catalog.clearCache()

    def test_persistent_rdds_flat_over_job_loop(self, spark, fixture_dir):
        base = self._persistent_rdds(spark)
        for _ in range(10):
            job = _job(fixture_dir, {"pts": _points_input(fixture_dir)})
            validate_config(job, spark)
            index_job(job, spark)
            resolve_job(job, spark)
            assert job.h3_resolved_df.count() > 0
            assert self._persistent_rdds(spark) > base
            job.release()
            assert self._persistent_rdds(spark) == base

    def test_failed_validation_releases_earlier_inputs(
        self, spark, fixture_dir
    ):
        good = dict(
            type="vector",
            path=str(fixture_dir / "geo_points_wkt.parquet"),
            unique_id="point_id",
            geometry_type="POINT",
            method="WITHIN",
            geometry_column_name="geometry",
            input_columns=["value"],
        )
        bad = _points_input(fixture_dir)
        bad["path"] = str(fixture_dir / "geo_points_bad_pk.parquet")
        base = self._persistent_rdds(spark)
        job = _job(fixture_dir, {"good": good, "bad": bad})
        with pytest.raises(ValidationError, match="not unique"):
            validate_config(job, spark)
        assert job.status is JobStatus.FAILED
        assert self._persistent_rdds(spark) == base
        level = job.inputs["good"].df.storageLevel
        assert not (level.useMemory or level.useDisk)


class TestIndexPoints:
    def test_within_invariants(self, spark, fixture_dir):
        job = _job(fixture_dir, {"pts": _points_input(fixture_dir)})
        validate_config(job, spark)
        index_job(job, spark)
        out = job.inputs["pts"].h3_indexed_df
        assert out.columns == [
            "h3_index",
            "h3_resolution",
            "h3_r3_parent",
            "h3_area_km2",
            "pixel_id",
            "ratio",
            "total_count",
        ]
        rows = out.collect()
        n_input = job.inputs["pts"].df.count()
        assert len(rows) == n_input  # one cell per point
        for r in rows:
            assert r["ratio"] == 1.0
            assert r["total_count"] == 1
            assert r["h3_resolution"] == RES
            assert len(r["h3_index"]) == 15
            assert r["h3_r3_parent"][:2] == "83"
            assert 30.0 < r["h3_area_km2"] < 50.0  # res-6 cells ~36-45 km2


class TestIndexLines:
    @pytest.fixture(scope="class")
    def indexed(self, spark, fixture_dir):
        job = _job(fixture_dir, {"lines": _lines_input(fixture_dir)})
        validate_config(job, spark)
        index_job(job, spark)
        return job

    def test_ratio_sums_to_one(self, spark, indexed):
        out = indexed.inputs["lines"].h3_indexed_df
        sums = (
            out.groupBy("route_id").agg(F.sum("ratio").alias("s")).collect()
        )
        assert len(sums) > 0
        for r in sums:
            assert abs(r["s"] - 1.0) < 1e-6, f"route {r['route_id']}: {r['s']}"

    def test_schema(self, indexed):
        out = indexed.inputs["lines"].h3_indexed_df
        assert "total_length_km" in out.columns

    def test_length_positive_and_consistent(self, indexed):
        out = indexed.inputs["lines"].h3_indexed_df
        per_route = (
            out.groupBy("route_id")
            .agg(F.min("total_length_km").alias("lo"), F.max("total_length_km").alias("hi"))
            .collect()
        )
        for r in per_route:
            assert r["lo"] == r["hi"] > 0  # constant per feature


class TestIndexPolygons:
    @pytest.fixture(scope="class")
    def indexed(self, spark, fixture_dir):
        job = _job(fixture_dir, {"polys": _polygons_input(fixture_dir)})
        validate_config(job, spark)
        index_job(job, spark)
        return job

    def test_ratio_sums_to_one(self, indexed):
        out = indexed.inputs["polys"].h3_indexed_df
        sums = out.groupBy("geoid").agg(F.sum("ratio").alias("s")).collect()
        for r in sums:
            assert abs(r["s"] - 1.0) < 1e-6, f"geoid {r['geoid']}: {r['s']}"

    def test_area_metric(self, indexed):
        out = indexed.inputs["polys"].h3_indexed_df
        assert "total_area_km2" in out.columns
        assert out.filter(F.col("total_area_km2") <= 0).count() == 0


class TestResolve:
    def test_two_input_resolve(self, spark, fixture_dir):
        # inputs with distinct attribute names (the sum_<col> contract
        # collides otherwise — a latent limitation shared with the
        # reference, whose README example also uses distinct names)
        job = _job(
            fixture_dir,
            {
                "pts": _points_input(fixture_dir),
                "lines": _lines_input(fixture_dir),
            },
        )
        validate_config(job, spark)
        index_job(job, spark)
        resolve_job(job, spark)
        out = job.h3_resolved_df
        assert job.status is JobStatus.COMPLETED_RESOLVER
        assert out.columns == [
            "h3_index",
            "h3_resolution",
            "h3_r3_parent",
            "h3_area_km2",
            "sum_population",
            "sum_reading",
            "sum_emissions",
            "sum_traffic",
        ]
        # full outer: some cells have only points, some only lines
        n_pts_only = out.filter(
            F.col("sum_population").isNotNull()
            & F.col("sum_emissions").isNull()
        ).count()
        assert n_pts_only > 0

    def test_mass_conservation_single_input(self, spark, fixture_dir):
        job = _job(fixture_dir, {"polys": _polygons_input(fixture_dir)})
        validate_config(job, spark)
        index_job(job, spark)
        resolve_job(job, spark)
        out = job.h3_resolved_df
        total_out = out.agg(F.sum("sum_population")).collect()[0][0]
        total_in = (
            job.inputs["polys"].df.agg(F.sum("population")).collect()[0][0]
        )
        assert abs(total_out - total_in) / total_in < 1e-6
        # PK of output is h3_index (reference README.md:353)
        assert out.count() == out.select("h3_index").distinct().count()


class TestExtendedMethods:
    """PASS_THROUGH and CENTROID are enum-declared but unimplemented in
    the reference (h3_indexer.py:193,257); we implement all five."""

    def test_pass_through_lines(self, spark, fixture_dir):
        spec = _lines_input(fixture_dir)
        spec["method"] = "PASS_THROUGH"
        job = _job(fixture_dir, {"lines": spec})
        validate_config(job, spark)
        index_job(job, spark)
        out = job.inputs["lines"].h3_indexed_df
        # every traversed cell gets the full attribute (ratio = 1.0)
        assert out.filter(F.col("ratio") != 1.0).count() == 0
        # a line crosses at least as many cells as PCT_LENGTH sampling
        assert out.count() > 0

    def test_centroid_polygons(self, spark, fixture_dir):
        spec = _polygons_input(fixture_dir)
        spec["method"] = "CENTROID"
        job = _job(fixture_dir, {"polys": spec})
        validate_config(job, spark)
        index_job(job, spark)
        out = job.inputs["polys"].h3_indexed_df
        n_features = job.inputs["polys"].df.count()
        # exactly one cell per polygon, full allocation
        assert out.count() == n_features
        assert out.filter(F.col("ratio") != 1.0).count() == 0
        assert out.filter(F.col("total_area_km2") <= 0).count() == 0

    def test_centroid_is_area_centroid_not_vertex_mean(self):
        """A rectangle with one vertex-dense edge: the vertex mean is
        dragged toward the dense edge, the area centroid is the exact
        rectangle center. The CENTROID cell must be the center's."""
        from h3_indexer_spark.functions.h3 import core

        res = 9
        x0, y0, x1, y1 = -100.0, 40.0, -99.9, 40.1
        # left edge densified with 200 extra vertices
        dense = [(x0, y0 + (y1 - y0) * i / 200.0) for i in range(201)]
        ring = dense + [(x1, y1), (x1, y0), (x0, y0)]
        expected = core.latlng_to_cell((y0 + y1) / 2, (x0 + x1) / 2, res)
        assert _centroid_rows([[ring]], res) == [(expected, 1.0)]
        # sanity: the vertex mean would land in a different cell
        mx = sum(x for x, _ in ring) / len(ring)
        my = sum(y for _, y in ring) / len(ring)
        assert core.latlng_to_cell(my, mx, res) != expected

    def test_centroid_concave_polygon(self):
        """L-shaped polygon: area centroid is analytically known
        (weighted mean of the two constituent rectangles)."""
        from h3_indexer_spark.functions.h3 import core

        res = 9
        # L = [0,3]x[0,1] ∪ [0,1]x[1,3] (degree offsets from -100, 40)
        ox, oy, s = -100.0, 40.0, 0.05
        ring = [
            (ox, oy), (ox + 3 * s, oy), (ox + 3 * s, oy + s),
            (ox + s, oy + s), (ox + s, oy + 3 * s), (ox, oy + 3 * s),
        ]
        # analytic: A1=3 (center 1.5,0.5), A2=2 (center 0.5,2.0)
        cx = ox + s * (3 * 1.5 + 2 * 0.5) / 5
        cy = oy + s * (3 * 0.5 + 2 * 2.0) / 5
        assert _centroid_rows([[ring]], res) == [
            (core.latlng_to_cell(cy, cx, res), 1.0)
        ]

    def test_centroid_multipolygon_snaps_to_largest_part(self):
        """Two disjoint parts: the combined centroid falls in the gap
        between them, so allocation snaps to the largest part's own
        centroid instead of a cell touching neither part."""
        from h3_indexer_spark.functions.h3 import core

        res = 9

        def square(x0, y0, w):
            return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w)]

        big = square(-100.0, 40.0, 0.1)
        small = square(-99.5, 40.0, 0.05)
        expected = core.latlng_to_cell(40.05, -99.95, res)  # big center
        assert _centroid_rows([[big], [small]], res) == [(expected, 1.0)]

    def test_centroid_with_hole(self):
        """An off-center hole shifts the area centroid away from the
        hole (vertex mean of the outer ring would not move at all)."""
        from h3_indexer_spark.functions.h3 import core

        res = 9
        outer = [(-100.0, 40.0), (-99.8, 40.0), (-99.8, 40.2),
                 (-100.0, 40.2)]
        # hole: left half-ish square [(−100+0.02)..(−100+0.08)]²
        hole = [(-99.98, 40.06), (-99.92, 40.06), (-99.92, 40.14),
                (-99.98, 40.14)]
        # analytic: outer A=0.04 c=(−99.9, 40.1); hole A=0.06·0.08=
        # 0.0048 c=(−99.95, 40.1) → cx = (0.04·−99.9 − 0.0048·−99.95)
        # / (0.04 − 0.0048)
        cx = (0.04 * -99.9 - 0.0048 * -99.95) / (0.04 - 0.0048)
        assert _centroid_rows([[outer, hole]], res) == [
            (core.latlng_to_cell(40.1, cx, res), 1.0)
        ]


def _centroid_rows(polys, res):
    """(cell, ratio) rows of one CENTROID feature — a (multi)polygon
    given as a list of ring lists — from the Index map function run on
    a one-row batch, with no Spark session."""
    import pandas as pd

    from h3_indexer_spark.config.vector import AllocationMethod, GeometryType
    from h3_indexer_spark.constants import GEOM_WKT, H3_INDEX, RATIO
    from h3_indexer_spark.functions import geometry
    from h3_indexer_spark.functions.h3 import core
    from h3_indexer_spark.functions.udfs import make_index_map_fn

    wkt = geometry.parts_to_wkt([("polygon", rings) for rings in polys])
    fn = make_index_map_fn(
        "id", GeometryType.POLYGON, AllocationMethod.CENTROID, res,
        "total_area_km2",
    )
    (out,) = fn(iter([pd.DataFrame({"id": [1], GEOM_WKT: [wkt]})]))
    return [
        (core.string_to_h3(c), r) for c, r in zip(out[H3_INDEX], out[RATIO])
    ]


class TestReferenceNotebookGolden:
    """End-to-end soft golden against the reference's published example
    run (/root/reference/examples/h3_pop_railroad_example.ipynb): a
    res-4 polygon(PCT_AREA) + line(PCT_LENGTH) two-input job in the
    notebook's exact shape, with the published per-cell h3_area_km2
    values (computed by the reference via Sedona ST_AreaSpheroid) as
    the cross-implementation golden. The notebook's attribute sums
    depend on census inputs not shipped with the reference; the area
    metric and cell boundaries are input-independent."""

    # (cell, h3_area_km2) pairs published in notebook cells 20/36/42
    GOLDEN_AREAS = [
        ("8412c87ffffffff", 1656.520601),
        ("8412c95ffffffff", 1669.498773),
        ("840e491ffffffff", 1999.657751),
        ("840e493ffffffff", 1989.928048),
        ("840e497ffffffff", 1996.753416),
        ("840e49bffffffff", 1992.641780),
        ("840e4d3ffffffff", 2004.434447),
    ]

    def test_published_cell_areas_and_boundary(self):
        """Direct golden: spheroid areas within 1e-6 relative of the
        published Sedona values; boundary vertices match the published
        h3-py WKT prefix."""
        from h3_indexer_spark.functions import udfs
        from h3_indexer_spark.functions.h3 import core

        for cell_s, expected in self.GOLDEN_AREAS:
            got = udfs._cell_area_km2(core.string_to_h3(cell_s))
            assert abs(got - expected) / expected < 1e-6, (cell_s, got)
        b = core.cell_to_boundary(core.string_to_h3("8412c87ffffffff"))
        # notebook cell 20: POLYGON ((-113.74631 49.40961, -113.97755 49.2...
        assert round(b[0][1], 5) == -113.74631
        assert round(b[0][0], 5) == 49.40961
        assert round(b[1][1], 5) == -113.97755

    def test_two_input_job_notebook_shape(self, spark, tmp_path):
        """The notebook's Example 3: polygons + lines in ONE config,
        resolved to a single table where each cell carries both inputs'
        sums (null where an input does not touch the cell), and
        h3_area_km2 equals the published golden for the cells the
        synthetic inputs overlap."""
        import pandas as pd

        from h3_indexer_spark.config.loader import job_from_dict
        from h3_indexer_spark.plans.indexer import index_job
        from h3_indexer_spark.plans.resolver import resolve_job
        from h3_indexer_spark.plans.validator import validate_config

        # synthetic "county" overlapping golden cell 8412c87ffffffff
        # (Montana/Alberta border) and a "railroad" overlapping
        # 840e491ffffffff (Quebec) — disjoint, so each output cell has
        # exactly one non-null sum column, the cell-42 output shape
        county = (
            "POLYGON ((-113.9 49.25, -113.6 49.25, -113.6 49.45, "
            "-113.9 49.45, -113.9 49.25))"
        )
        rail = "LINESTRING (-67.9 49.5, -67.8 49.55, -67.77 49.59)"
        pd.DataFrame(
            {"GEOID": [1], "geometry": [county], "POPESTIMAT": [1000.0]}
        ).to_parquet(tmp_path / "county.parquet")
        pd.DataFrame(
            {
                "FRAARCID": [1],
                "geometry": [rail],
                "dummy_train_attribute": [5000.0],
            }
        ).to_parquet(tmp_path / "rail.parquet")

        job = job_from_dict(
            {
                "name": "railroad_population_example",
                "version": "1.0.0",
                "h3_resolution": 4,
                "output_path": str(tmp_path / "out"),
                "inputs": {
                    "county_pop": {
                        "s3_path": str(tmp_path / "county.parquet"),
                        "unique_id": "GEOID",
                        "geometry_type": "POLYGON",
                        "geometry_column_name": "geometry",
                        "method": "PCT_AREA",
                        "input_columns": ["POPESTIMAT"],
                    },
                    "railroads": {
                        "s3_path": str(tmp_path / "rail.parquet"),
                        "unique_id": "FRAARCID",
                        "geometry_type": "LINE",
                        "geometry_column_name": "geometry",
                        "method": "PCT_LENGTH",
                        "input_columns": ["dummy_train_attribute"],
                    },
                },
            }
        )
        validate_config(job, spark)
        index_job(job, spark)
        resolve_job(job, spark)
        out = {r.h3_index: r for r in job.h3_resolved_df.collect()}

        golden = dict(self.GOLDEN_AREAS)
        assert "8412c87ffffffff" in out  # the published polygon cell
        assert "840e491ffffffff" in out  # the published line cell
        for cell_s, row in out.items():
            if cell_s in golden:
                assert (
                    abs(row.h3_area_km2 - golden[cell_s]) / golden[cell_s]
                    < 1e-6
                ), (cell_s, row.h3_area_km2)
        # combined-table semantics (notebook cell 42): disjoint inputs
        # → exactly one non-null sum per cell; totals conserved
        for row in out.values():
            assert (row.sum_POPESTIMAT is None) != (
                row.sum_dummy_train_attribute is None
            )
        pop_total = sum(
            r.sum_POPESTIMAT for r in out.values()
            if r.sum_POPESTIMAT is not None
        )
        rail_total = sum(
            r.sum_dummy_train_attribute for r in out.values()
            if r.sum_dummy_train_attribute is not None
        )
        assert abs(pop_total - 1000.0) < 1e-6
        assert abs(rail_total - 5000.0) < 1e-6

    def test_published_sample_row_reproduced(self, spark, tmp_path):
        """Reproduce notebook cell 20 row 0 verbatim: (8412c87ffffffff,
        h3_area_km2 1656.520601, sum_POPESTIMAT 48.563249). The census
        county shapes aren't shipped with the reference, so the input
        is a county fragment lying wholly inside the published cell
        carrying exactly the published population mass — PCT_AREA then
        allocates 100% of it there, and the resolver row must equal
        the published (h3_index, h3_area_km2, sum_POPESTIMAT) triple."""
        import pandas as pd

        from h3_indexer_spark.config.loader import job_from_dict
        from h3_indexer_spark.plans.indexer import index_job
        from h3_indexer_spark.plans.resolver import resolve_job
        from h3_indexer_spark.plans.validator import validate_config

        # interior box of 8412c87ffffffff (cell spans roughly
        # -114.0..-113.3 x 49.0..49.4; stay well inside)
        county = (
            "POLYGON ((-113.75 49.2, -113.65 49.2, -113.65 49.27, "
            "-113.75 49.27, -113.75 49.2))"
        )
        pd.DataFrame(
            {
                "GEOID": [30029],
                "geometry": [county],
                "POPESTIMAT": [48.563249],
            }
        ).to_parquet(tmp_path / "county.parquet")
        job = job_from_dict(
            {
                "name": "county_pop_example",
                "version": "1.0.0",
                "h3_resolution": 4,
                "output_path": str(tmp_path / "out"),
                "inputs": {
                    "county_pop": {
                        "s3_path": str(tmp_path / "county.parquet"),
                        "unique_id": "GEOID",
                        "geometry_type": "POLYGON",
                        "geometry_column_name": "geometry",
                        "method": "PCT_AREA",
                        "input_columns": ["POPESTIMAT"],
                    },
                },
            }
        )
        validate_config(job, spark)
        index_job(job, spark)
        resolve_job(job, spark)
        rows = {r.h3_index: r for r in job.h3_resolved_df.collect()}
        assert set(rows) == {"8412c87ffffffff"}
        row = rows["8412c87ffffffff"]
        assert abs(row.h3_area_km2 - 1656.520601) / 1656.520601 < 1e-6
        assert abs(row.sum_POPESTIMAT - 48.563249) < 1e-9


class TestTrainingDataPipeline:
    @pytest.mark.slow
    def test_end_to_end_smoke(self, spark, tmp_path):
        """The composition example runs end-to-end at the smallest SF
        and every stage's row count is sane and monotone."""
        import sys
        from pathlib import Path

        sys.path.insert(
            0, str(Path(__file__).resolve().parent.parent / "examples")
        )
        from training_data_pipeline import run as run_ttp

        from tests.conftest import SF_SMALL

        counts = run_ttp(spark, SF_SMALL, str(tmp_path / "corpus"))
        assert counts["ingested"] > 0
        assert 0 < counts["curated"] <= counts["ingested"]
        assert 0 < counts["near_deduped"] <= counts["curated"]
        # quality-weighted sampling sits between dedup and packing
        assert 0 < counts["sampled"] <= counts["near_deduped"]
        assert counts["packed"] == counts["sampled"]
        assert counts["written"] == counts["packed"]
        assert counts["n_packs"] >= 1
        # the shape report and the maintenance advisory both ran over
        # the written corpus
        assert counts["zipf_head_ranks"] >= 1
        assert counts["compaction_bins"] >= 1
