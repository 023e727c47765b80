"""MULTI* geometry support: parsing in all three encodings, canonical
WKT round-trip, and index-kernel allocation across a feature's parts
(the reference handled MULTI transparently via Sedona/h3-pyspark —
shapefile-derived tables are routinely MULTIPOLYGON)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from h3_indexer_spark.functions import geometry


class TestParsing:
    def test_wkt_multipolygon(self):
        parts = geometry.parse_wkt_parts(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
            " ((2 2, 3 2, 3 3, 2 3, 2 2)))"
        )
        assert [k for k, _ in parts] == ["polygon", "polygon"]
        assert parts[0][1][0][0] == (0.0, 0.0)
        assert parts[1][1][0][0] == (2.0, 2.0)

    def test_wkt_multilinestring_and_point_forms(self):
        parts = geometry.parse_wkt_parts(
            "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))"
        )
        assert [k for k, _ in parts] == ["line", "line"]
        assert len(parts[1][1][0]) == 3
        for wkt in [
            "MULTIPOINT ((1 1), (2 2))",
            "MULTIPOINT (1 1, 2 2)",
        ]:
            pts = geometry.parse_wkt_parts(wkt)
            assert [k for k, _ in pts] == ["point", "point"]
            assert pts[1][1][0][0] == (2.0, 2.0)

    def test_single_geometry_one_part(self):
        parts = geometry.parse_wkt_parts("POINT (5 6)")
        assert parts == [("point", [[(5.0, 6.0)]])]

    def test_wkt_roundtrip(self):
        for wkt in [
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
            "((2 2, 3 2, 3 3, 2 3, 2 2)))",
            "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
            "MULTIPOINT ((1 1), (2 2))",
        ]:
            parts = geometry.parse_wkt_parts(wkt)
            again = geometry.parse_wkt_parts(geometry.parts_to_wkt(parts))
            assert parts == again

    def test_geojson_multis(self):
        parts = geometry.parse_geojson_parts(
            '{"type": "MultiPolygon", "coordinates":'
            " [[[[0,0],[1,0],[1,1],[0,1],[0,0]]],"
            " [[[2,2],[3,2],[3,3],[2,3],[2,2]]]]}"
        )
        assert [k for k, _ in parts] == ["polygon", "polygon"]
        parts = geometry.parse_geojson_parts(
            '{"type": "MultiLineString", "coordinates":'
            " [[[0,0],[1,1]], [[2,2],[3,3]]]}"
        )
        assert [k for k, _ in parts] == ["line", "line"]

    def test_wkb_multi_roundtrip_via_shapely_free_encoding(self):
        """Hand-encode a little-endian MULTIPOINT WKB and parse it."""
        import struct

        def wkb_point(x, y):
            return struct.pack("<BIdd", 1, 1, x, y)

        blob = struct.pack("<BII", 1, 4, 2) + wkb_point(1, 2) + wkb_point(3, 4)
        parts = geometry.parse_wkb_parts(blob)
        assert parts == [
            ("point", [[(1.0, 2.0)]]),
            ("point", [[(3.0, 4.0)]]),
        ]

    def test_mixed_collection_rejected_on_serialize(self):
        with pytest.raises(geometry.GeometryError):
            geometry.parts_to_wkt(
                [("point", [[(0.0, 0.0)]]), ("line", [[(0.0, 0.0), (1.0, 1.0)]])]
            )


class TestCanonicalUdf:
    def test_multipolygon_preserved(self, spark):
        from h3_indexer_spark.functions.udfs import canonical_wkt_udf

        wkt = (
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
            "((2 2, 3 2, 3 3, 2 3, 2 2)))"
        )
        df = spark.createDataFrame([(1, wkt)], "id long, g string")
        out = df.select(canonical_wkt_udf(F.col("g")).alias("w")).collect()
        assert out[0].w is not None and out[0].w.startswith("MULTIPOLYGON")


    def test_degenerate_hole_dropped_alone(self):
        """A hole that collapses to one repeated vertex encloses no
        area: repair drops that hole and keeps the polygon, so the row
        and its attribute mass survive validation and index in full."""
        import pandas as pd

        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )
        from h3_indexer_spark.functions.udfs import (
            canonical_wkt_udf,
            make_index_map_fn,
        )

        wkt = ("POLYGON ((0 0, 1 0, 1 1, 0 0), "
               "(0.1 0.1, 0.1 0.1, 0.1 0.1, 0.1 0.1))")
        (canon,) = canonical_wkt_udf.func(pd.Series([wkt]))
        assert canon == "POLYGON ((0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 0.0))"
        fn = make_index_map_fn(
            "id", GeometryType.POLYGON, AllocationMethod.PCT_AREA, 6,
            "total_area_km2",
        )
        (out,) = fn(iter([pd.DataFrame({"id": [1], "geom_wkt": [canon]})]))
        assert len(out) > 0
        assert abs(out.ratio.sum() - 1.0) < 1e-9
        # a collapsed OUTER ring still rejects the feature
        collapsed_outer = ("POLYGON ((0 0, 0 0, 0 0, 0 0), "
                           "(0.1 0.1, 0.2 0.1, 0.2 0.2, 0.1 0.1))")
        assert canonical_wkt_udf.func(
            pd.Series([collapsed_outer])
        ).tolist() == [None]


class TestPipelineEndToEnd:
    def test_multipolygon_through_three_stages(self, spark, tmp_path):
        """validate → index → resolve on a MULTIPOLYGON input: rows
        survive validation (no silent drop), allocation mass is
        conserved through the resolver."""
        import json

        from h3_indexer_spark import (
            index_job,
            job_from_json,
            resolve_job,
            validate_config,
        )

        src = str(tmp_path / "mp.parquet")
        rows = [
            (
                1,
                "MULTIPOLYGON (((-100 40, -99.9 40, -99.9 40.1, -100 40.1, -100 40)), "
                "((-99.5 40.5, -99.4 40.5, -99.4 40.6, -99.5 40.6, -99.5 40.5)))",
                10.0,
            ),
            (
                2,
                "POLYGON ((-98 39, -97.9 39, -97.9 39.1, -98 39.1, -98 39))",
                20.0,
            ),
        ]
        spark.createDataFrame(
            rows, "gid long, geometry string, pop double"
        ).write.mode("overwrite").parquet(src)
        cfg = {
            "name": "mp_e2e", "version": "1.0.0", "h3_resolution": 7,
            "output_s3_path": str(tmp_path / "out"),
            "inputs": {
                "mp": {
                    "s3_path": src, "unique_id": "gid",
                    "geometry_type": "POLYGON", "geometry_column": "geometry",
                    "method": "PCT_AREA", "input_columns": ["pop"],
                }
            },
        }
        job = job_from_json(json.dumps(cfg))
        validate_config(job, spark)
        assert job.inputs["mp"].df.count() == 2  # nothing dropped
        index_job(job, spark)
        idx = job.inputs["mp"].h3_indexed_df
        sums = {
            r.gid: r.s
            for r in idx.groupBy("gid").agg(F.sum("ratio").alias("s")).collect()
        }
        assert abs(sums[1] - 1.0) < 1e-6 and abs(sums[2] - 1.0) < 1e-6
        resolve_job(job, spark)
        total = job.h3_resolved_df.agg(F.sum("sum_pop")).collect()[0][0]
        assert abs(total - 30.0) < 1e-6  # mass conserved across cells


class TestKernelAllocation:
    def _index(self, spark, rows, gtype, method, metric_col, res=7):
        from h3_indexer_spark.functions.udfs import make_index_map_fn

        df = spark.createDataFrame(rows, "uid long, geom_wkt string")
        fn = make_index_map_fn("uid", gtype, method, res, metric_col)
        schema = (
            f"uid bigint, h3_index string, ratio double, "
            f"{metric_col} double, h3_area_km2 double"
        )
        return df.mapInPandas(fn, schema=schema)

    def test_multipolygon_ratio_sums_to_one(self, spark):
        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )

        wkt = (
            "MULTIPOLYGON (((-100 40, -99.9 40, -99.9 40.1, -100 40.1, -100 40)), "
            "((-99.5 40.5, -99.4 40.5, -99.4 40.6, -99.5 40.6, -99.5 40.5)))"
        )
        out = self._index(
            spark, [(1, wkt)], GeometryType.POLYGON,
            AllocationMethod.PCT_AREA, "total_area_km2",
        ).collect()
        assert len(out) > 1
        assert abs(sum(r.ratio for r in out) - 1.0) < 1e-6
        # both parts covered: cells near both boxes appear
        assert len({r.h3_index for r in out}) == len(out)

    def test_multilinestring_ratio_sums_to_one(self, spark):
        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )

        wkt = (
            "MULTILINESTRING ((-100 40, -99.8 40.1), (-99.5 40.5, -99.3 40.6))"
        )
        out = self._index(
            spark, [(1, wkt)], GeometryType.LINE,
            AllocationMethod.PCT_LENGTH, "total_length_km",
        ).collect()
        assert len(out) > 1
        assert abs(sum(r.ratio for r in out) - 1.0) < 1e-6

    def test_multi_of_one_equals_single(self, spark):
        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )

        single = "POLYGON ((-100 40, -99.9 40, -99.9 40.1, -100 40.1, -100 40))"
        multi = f"MULTIPOLYGON (({single[9:-1]}))"
        a = self._index(
            spark, [(1, single)], GeometryType.POLYGON,
            AllocationMethod.PCT_AREA, "total_area_km2",
        ).collect()
        b = self._index(
            spark, [(1, multi)], GeometryType.POLYGON,
            AllocationMethod.PCT_AREA, "total_area_km2",
        ).collect()
        assert sorted((r.h3_index, round(r.ratio, 12)) for r in a) == sorted(
            (r.h3_index, round(r.ratio, 12)) for r in b
        )

    def test_multipoint_within(self, spark):
        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )

        wkt = "MULTIPOINT ((-100 40), (-90 35))"
        out = self._index(
            spark, [(1, wkt)], GeometryType.POINT,
            AllocationMethod.WITHIN, "total_count",
        ).collect()
        assert len(out) == 2  # two distinct cells
        assert all(r.ratio == 1.0 for r in out)


class TestWkbWriter:
    """U4 parity: WKB writer round-trips through the WKB parser."""

    CASES = [
        ("point", [[(-100.25, 40.5)]]),
        ("line", [[(-100.0, 40.0), (-99.5, 40.25), (-99.0, 39.75)]]),
        ("polygon", [[(-100.0, 40.0), (-99.9, 40.0), (-99.9, 40.1),
                      (-100.0, 40.1), (-100.0, 40.0)]]),
        ("polygon", [  # with hole
            [(-100.0, 40.0), (-99.6, 40.0), (-99.6, 40.4),
             (-100.0, 40.4), (-100.0, 40.0)],
            [(-99.9, 40.1), (-99.8, 40.1), (-99.8, 40.2),
             (-99.9, 40.2), (-99.9, 40.1)],
        ]),
    ]

    def test_roundtrip_single(self):
        for kind, rings in self.CASES:
            data = geometry.to_wkb(kind, rings)
            got_kind, got_rings = geometry.parse_wkb(data)
            assert got_kind == kind
            assert [[tuple(p) for p in r] for r in got_rings] == [
                [tuple(p) for p in r] for r in rings
            ]

    def test_roundtrip_multi(self):
        parts = [
            ("line", [[(-100.0, 40.0), (-99.5, 40.25)]]),
            ("line", [[(-98.0, 41.0), (-97.5, 41.25), (-97.0, 41.0)]]),
        ]
        data = geometry.parts_to_wkb(parts)
        got = geometry.parse_wkb_parts(data)
        assert got == parts

    def test_roundtrip_property(self):
        """Random geometries: parse(write(g)) == g bit-for-bit."""
        import random

        rng = random.Random(99)
        for _ in range(200):
            kind = rng.choice(["point", "line", "polygon"])
            if kind == "point":
                rings = [[(rng.uniform(-180, 180), rng.uniform(-90, 90))]]
            elif kind == "line":
                rings = [[(rng.uniform(-180, 180), rng.uniform(-90, 90))
                          for _ in range(rng.randint(2, 8))]]
            else:
                ring = [(rng.uniform(-180, 180), rng.uniform(-90, 90))
                        for _ in range(rng.randint(3, 8))]
                ring.append(ring[0])
                rings = [ring]
            data = geometry.to_wkb(kind, rings)
            assert geometry.parse_wkb(data) == (kind, rings)
        # and canonical_wkt ingestion accepts our own WKB hex
        data = geometry.to_wkb("point", [[(-100.0, 40.0)]])
        parts = geometry.parse_any_parts(data.hex())
        assert parts == [("point", [[(-100.0, 40.0)]])]

    def test_h3_to_wkb_udf_matches_wkt(self, spark):
        """The WKB cell boundary decodes to the same ring the WKT UDF
        prints (reference spark_udfs.py:24-45 vs :48-67)."""
        from h3_indexer_spark.functions.udfs import (
            make_h3_to_wkb_udf,
            make_h3_to_wkt_udf,
        )

        df = spark.createDataFrame(
            [("8828308281fffff",), ("85283473fffffff",)], "h3_index string"
        ).select(
            "h3_index",
            make_h3_to_wkt_udf()("h3_index").alias("wkt"),
            make_h3_to_wkb_udf()("h3_index").alias("wkb"),
        )
        for r in df.collect():
            kind, rings = geometry.parse_wkb(bytes(r.wkb))
            assert kind == "polygon"
            assert geometry.to_wkt(kind, rings) == r.wkt


class TestAntimeridian:
    """Features crossing ±180° shift to a continuous [0, 360) frame
    before sampling/polyfill/clipping (round-2 ADVICE: the planar bbox
    of an unshifted crosser spans ~360°, exploding the candidate grid
    and breaking the even-odd test)."""

    def _index(self, kind, wkt, method, res, metric):
        import pandas as pd

        from h3_indexer_spark.config.vector import (
            AllocationMethod,
            GeometryType,
        )
        from h3_indexer_spark.functions.udfs import make_index_map_fn

        fn = make_index_map_fn(
            "uid", kind, AllocationMethod(method), res, metric
        )
        pdf = pd.DataFrame([(1, wkt)], columns=["uid", "geom_wkt"])
        return pd.concat(list(fn(iter([pdf]))))

    def test_polygon_across_antimeridian(self):
        from h3_indexer_spark.config.vector import GeometryType
        from h3_indexer_spark.functions.h3 import core

        out = self._index(
            GeometryType.POLYGON,
            "POLYGON ((179.7 -17.2, -179.7 -17.2, -179.7 -16.8, "
            "179.7 -16.8, 179.7 -17.2))",
            "PCT_AREA", 6, "total_area_km2",
        )
        assert abs(out.ratio.sum() - 1.0) < 1e-6
        lngs = [
            core.cell_to_latlng(core.string_to_h3(h))[1]
            for h in out.h3_index
        ]
        # coverage reaches both sides of ±180°, similar counts
        east = sum(1 for x in lngs if x > 0)
        west = sum(1 for x in lngs if x < 0)
        assert east > 10 and west > 10
        # no blowup: ~0.6°×0.4° at res 6 is on the order of 100 cells
        assert len(out) < 400

    def test_line_across_antimeridian(self):
        from h3_indexer_spark.config.vector import GeometryType
        from h3_indexer_spark.functions.h3 import core

        out = self._index(
            GeometryType.LINE,
            "LINESTRING (179.5 -17.0, -179.5 -17.1)",
            "PCT_LENGTH", 5, "total_length_km",
        )
        assert abs(out.ratio.sum() - 1.0) < 1e-6
        lngs = [
            core.cell_to_latlng(core.string_to_h3(h))[1]
            for h in out.h3_index
        ]
        assert any(x > 0 for x in lngs) and any(x < 0 for x in lngs)
        # the 1°-long line must not sample through lng 0 (the wrong
        # way around the globe would traverse ~360 cells)
        assert len(out) < 30

    def test_wide_feature_not_wrapped(self):
        """A legitimately continent-wide polygon (lng span > 180° after
        any shift) still indexes; the wrap heuristic must not corrupt
        ordinary features far from ±180°."""
        from h3_indexer_spark.config.vector import GeometryType

        out = self._index(
            GeometryType.POLYGON,
            "POLYGON ((-100 40, -99.8 40, -99.8 40.2, -100 40.2, -100 40))",
            "PCT_AREA", 6, "total_area_km2",
        )
        assert abs(out.ratio.sum() - 1.0) < 1e-6

    def test_span_over_180_densely_vertexed_not_wrapped(self):
        """A feature whose total lng span exceeds 180° but whose
        consecutive-vertex jumps are all small (RFC 7946: only a
        segment jump > 180° means antimeridian crossing) must NOT be
        shifted — round-2 ADVICE flagged that the old span-based
        heuristic corrupted exactly this shape. A 340°-wide line
        vertexed every 10° must pass through lng ≈ 0, not ±180°."""
        from h3_indexer_spark.config.vector import GeometryType
        from h3_indexer_spark.functions.h3 import core

        pts = ", ".join(f"{lng} 10" for lng in range(-170, 171, 10))
        # res 2: coarsest level where cells are still small enough for
        # the planar convex-clip assumption (the reference's contract
        # is res 3-10; res 0-1 cells are continent-sized)
        out = self._index(
            GeometryType.LINE,
            f"LINESTRING ({pts})",
            "PCT_LENGTH", 2, "total_length_km",
        )
        assert abs(out.ratio.sum() - 1.0) < 1e-6
        lngs = [
            core.cell_to_latlng(core.string_to_h3(h))[1]
            for h in out.h3_index
        ]
        # covered cells run continuously through the prime meridian …
        assert any(abs(x) < 15 for x in lngs)
        # … and never near the antimeridian (the wrapped frame would
        # have routed the line the short way across ±180°)
        assert all(abs(x) < 176 for x in lngs)
