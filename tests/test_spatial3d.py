"""Geo3D (spatial3d role): PlanetModel/Vincenty properties, membership
predicates vs numpy brute force, and engine end-to-end filters.

Reference semantics: PlanetModel.java:33-140 (SPHERE/WGS84, meanRadius,
scalings, Vincenty surfaceDistance), GeoPoint.java:62-74 (direction
vectors), GeoStandardCircle.java:24-64 (cutoff-angle membership),
GeoConvexPolygon (plane sidedness), Geo3DPoint.newDistanceQuery
(radiusMeters -> cutoffAngle = radius / meanRadius).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from lucene_spark.search import ast as A
from lucene_spark.search.engine import Searcher
from lucene_spark.search.spatial3d import (
    MODELS,
    SPHERE,
    WGS84,
    arc_distance,
    direction,
    surface_distance_m,
)

LAT = lambda i: (i * 7919) % 18000 / 100.0 - 90.0  # noqa: E731
LON = lambda i: (i * 104729) % 36000 / 100.0 - 180.0  # noqa: E731


class TestPlanetModel:
    def test_wgs84_derived_quantities(self):
        # PlanetModel.java:33-35 constants; meanRadius = (2a+b)/3
        assert WGS84.a == 6378137.0 and WGS84.b == 6356752.314245
        assert abs(WGS84.mean_radius - (2 * WGS84.a + WGS84.b) / 3) < 1e-9
        assert WGS84.xy_scaling > 1.0 > WGS84.z_scaling
        assert abs(SPHERE.scaled_flattening) == 0.0

    def test_sphere_vincenty_equals_arc(self):
        for la1, lo1, la2, lo2 in [(10, 20, -35, 140), (0, 0, 0, 90), (48, 2, 52, 13)]:
            r = [math.radians(v) for v in (la1, lo1, la2, lo2)]
            d_arc = arc_distance(*r) * SPHERE.mean_radius
            d_vin = surface_distance_m(*r, model=SPHERE)
            assert abs(d_arc - d_vin) < 1e-6 * max(d_arc, 1)

    def test_wgs84_meridian_quadrant(self):
        # equator -> pole along a meridian: the WGS84 meridian quadrant
        # is 10,001.966 km (public geodesy constant)
        d = surface_distance_m(0.0, 0.0, math.pi / 2 - 1e-9, 0.0, model=WGS84)
        assert abs(d - 10_001_965.7) < 200.0

    def test_wgs84_equatorial_quadrant(self):
        # quarter of the equator = pi/2 * a
        d = surface_distance_m(0.0, 0.0, 0.0, math.pi / 2, model=WGS84)
        assert abs(d - math.pi / 2 * WGS84.a) < 1.0

    def test_symmetry_and_zero(self):
        r = [math.radians(v) for v in (12.5, -33.0, -48.0, 71.0)]
        assert abs(
            surface_distance_m(r[0], r[1], r[2], r[3]) - surface_distance_m(r[2], r[3], r[0], r[1])
        ) < 1e-6
        assert surface_distance_m(0.3, 0.4, 0.3, 0.4) == 0.0


def _inside_ring(ring, lats, lons):
    """Plane sidedness against every edge's great circle (numpy)."""
    from lucene_spark.search.spatial3d import _edge_normals

    ns = np.array(_edge_normals(ring))
    la, lo = np.radians(lats), np.radians(lons)
    d = np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], axis=1)
    return ((d @ ns.T) >= -1e-12).all(axis=1)


def _brute_circle(pdf, lat, lon, radius_m, model):
    m = MODELS[model]
    cutoff = radius_m / m.mean_radius
    c = np.array(direction(math.radians(lat), math.radians(lon)))
    la = np.radians(pdf["lat"].to_numpy())
    lo = np.radians(pdf["lon"].to_numpy())
    d = np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], axis=1)
    ang = np.arccos(np.clip(d @ c, -1, 1))
    # doc ids = row order (the fixture sorts by the id keys pre-build)
    return set(np.flatnonzero(ang <= cutoff).tolist())


class TestMembership:
    @pytest.fixture(scope="class")
    def geo_index(self, tmp_path_factory, spark, corpus_pdf):
        from lucene_spark.index.builder import IndexBuilder, IndexConfig
        from lucene_spark.index.reader import SearchIndex

        ordered = corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        pdf = ordered.copy()
        pdf["lat"] = [LAT(i) for i in range(len(pdf))]
        pdf["lon"] = [LON(i) for i in range(len(pdf))]
        d = str(tmp_path_factory.mktemp("geo3dix"))
        IndexBuilder(spark, IndexConfig(docs_per_chunk=128, term_buckets=4)).build(
            spark.createDataFrame(pdf).drop("content_sha256"), d
        )
        yield SearchIndex(spark, d), pdf

    def test_circle_vs_brute(self, geo_index):
        ix, pdf = geo_index
        s = Searcher(ix)
        for model in ("sphere", "wgs84"):
            for lat, lon, radius in [(10.0, 20.0, 3_000_000.0), (-60.0, 150.0, 5_000_000.0)]:
                q = A.BooleanQuery(
                    (
                        (A.Occur.MUST, A.MatchAllDocsQuery()),
                        (
                            A.Occur.FILTER,
                            A.Geo3DDistanceQuery("lat", "lon", lat, lon, radius, model=model),
                        ),
                    )
                )
                got = {d for d, _ in s.search(q, k=10_000).hits}
                want = _brute_circle(pdf, lat, lon, radius, model)
                assert got == want, (model, lat, lon, radius)
                assert want, "degenerate test: empty circle"

    def test_cutoff_angle_uses_model_mean_radius(self, geo_index):
        ix, pdf = geo_index
        s = Searcher(ix)
        # same radius_m, different models -> different cutoff angles;
        # both match their own brute
        r = 4_000_000.0
        for model in ("sphere", "wgs84"):
            q = A.BooleanQuery(
                (
                    (A.Occur.MUST, A.MatchAllDocsQuery()),
                    (A.Occur.FILTER, A.Geo3DDistanceQuery("lat", "lon", 0.0, 0.0, r, model=model)),
                )
            )
            got = {d for d, _ in s.search(q, k=10_000).hits}
            assert got == _brute_circle(pdf, 0.0, 0.0, r, model)

    def test_convex_polygon_vs_brute(self, geo_index):
        ix, pdf = geo_index
        s = Searcher(ix)
        ring = ((0.0, 0.0), (0.0, 40.0), (35.0, 40.0), (35.0, 0.0))
        q = A.BooleanQuery(
            (
                (A.Occur.MUST, A.MatchAllDocsQuery()),
                (A.Occur.FILTER, A.Geo3DPolygonQuery("lat", "lon", ring)),
            )
        )
        got = {d for d, _ in s.search(q, k=10_000).hits}
        # brute: plane sidedness alone in numpy (no coarse box)
        inside = _inside_ring(ring, pdf["lat"].to_numpy(), pdf["lon"].to_numpy())
        want = set(np.flatnonzero(inside).tolist())
        assert got == want and want

    def test_convex_polygon_edge_bulge(self, spark):
        """Great-circle edges bulge poleward: (36.5, 20) lies inside the
        ring below although its latitude exceeds every vertex's. The
        Spark condition and its DuckDB mirror must keep it, and agree
        with plane sidedness on points just past the bulge."""
        import duckdb
        import pandas as pd

        from lucene_spark.search.spatial3d import convex_polygon_condition, polygon_sql

        ring = ((0.0, 0.0), (0.0, 40.0), (35.0, 40.0), (35.0, 0.0))
        pts = pd.DataFrame(
            [(36.5, 20.0), (36.9, 20.0), (35.5, 5.0), (35.5, 35.0), (20.0, 20.0), (-0.5, 20.0)],
            columns=["lat", "lon"],
        )
        want = _inside_ring(ring, pts["lat"].to_numpy(), pts["lon"].to_numpy())
        assert want[0] and not want[1]
        q = A.Geo3DPolygonQuery("lat", "lon", ring)
        df = spark.createDataFrame(pts.reset_index()).withColumn("hit", convex_polygon_condition(q))
        got = [r["hit"] for r in df.orderBy("index").collect()]
        assert got == want.tolist()
        con = duckdb.connect()
        con.register("pts", pts)
        duck = con.execute(f"SELECT {polygon_sql(q)} AS hit FROM pts").fetchdf()["hit"]
        assert duck.tolist() == want.tolist()

    def test_circle_sql_covering_radius_matches_all(self):
        """A cutoff of pi or more covers the whole sphere: circle_sql
        matches every point like circle_condition does, antipode
        included."""
        import duckdb
        import pandas as pd

        from lucene_spark.search.spatial3d import circle_sql

        pts = pd.DataFrame(
            [(0.0, 0.0), (-10.0, -160.0), (10.0, 20.0), (89.0, 0.0), (-90.0, 0.0)],
            columns=["lat", "lon"],
        )
        con = duckdb.connect()
        con.register("pts", pts)
        for model in ("sphere", "wgs84"):
            for scale in (math.pi, 4.0):
                r = scale * MODELS[model].mean_radius
                q = A.Geo3DDistanceQuery("lat", "lon", 10.0, 20.0, r, model=model)
                sql = f"SELECT count(*) FROM pts WHERE {circle_sql(q)}"
                assert con.execute(sql).fetchone()[0] == len(pts), (model, scale)

    def test_polygon_agrees_with_2d_raycast_midlatitudes(self, geo_index):
        """A small convex ring away from poles/dateline: the 3D plane
        test and the planar ray-cast classify interior points alike
        (boundary-adjacent points excluded via a margin)."""
        ix, pdf = geo_index
        s = Searcher(ix)
        ring = ((10.0, 10.0), (10.0, 30.0), (25.0, 30.0), (25.0, 10.0))
        q3 = A.BooleanQuery(
            (
                (A.Occur.MUST, A.MatchAllDocsQuery()),
                (A.Occur.FILTER, A.Geo3DPolygonQuery("lat", "lon", ring)),
            )
        )
        got3 = {d for d, _ in s.search(q3, k=10_000).hits}
        q2 = A.BooleanQuery(
            (
                (A.Occur.MUST, A.MatchAllDocsQuery()),
                (A.Occur.FILTER, A.GeoPolygonQuery("lat", "lon", ring)),
            )
        )
        got2 = {d for d, _ in s.search(q2, k=10_000).hits}
        margin = {
            int(i)
            for i, r in pdf.reset_index(drop=True).iterrows()
            if min(
                abs(r["lat"] - 10), abs(r["lat"] - 25), abs(r["lon"] - 10), abs(r["lon"] - 30)
            )
            < 0.5
        }
        assert (got3 - margin) == (got2 - margin)

    def test_nonconvex_rejected(self):
        from lucene_spark.search.spatial3d import _edge_normals

        with pytest.raises(ValueError):
            _edge_normals(((0, 0), (0, 30), (10, 15), (30, 30), (30, 0)))
