"""Geo3D — the spatial3d role (unit-sphere 3D geometry, PlanetModel).

Reference (spec, not a port):
- lucene/spatial3d/src/java/org/apache/lucene/spatial3d/geom/PlanetModel.java:33-140
  — SPHERE and WGS84 (a=6378137.0, b=6356752.314245) models; meanRadius
  = (2a+b)/3, xyScaling = a/meanRadius, zScaling = b/meanRadius,
  scaledFlattening = (xyScaling - zScaling)/xyScaling; :446-530
  surfaceDistance = the Vincenty inverse formula, normalized so
  angle × meanRadius is a surface distance.
- geom/GeoPoint.java:62-80 — a surface point's DIRECTION is
  (cos lat cos lon, cos lat sin lon, sin lat), scaled onto the
  ellipsoid by the desired magnitude.
- geom/GeoStandardCircle.java:24-64 — circle = center + cutoff ANGLE;
  membership is angular distance from the center ("in an ellipsoidal
  world, cutoff distances make no sense... only membership" — the
  reference's own comment; Geo3DPoint.newDistanceQuery converts
  radiusMeters to cutoffAngle = radius / meanRadius).
- geom/GeoConvexPolygon.java — membership by sidedness against the
  great-circle plane of each edge.

Spark disposition (the LatLonPoint-gate pattern of search/geo.py):
points are lat/lon doc columns; every membership predicate is a fixed
whole-stage-codegen trig expression over them — the circle test is the
spherical law of cosines on the direction vectors, the convex-polygon
test is an AND of per-edge plane dot products with query-time-constant
normals — AND'd with a latitude/longitude bounding band so parquet
min-max row-group pruning plays the spatial3d tree. No Python in any
plan. surfaceDistance (Vincenty) is provided as a driver-side utility
for distance computations on the ellipsoid.

Documented subset: convex polygons only (GeoConvexPolygon role; the
reference's general GeoPolygonFactory decomposition is out of scope),
no dateline-crossing polygons, and circle membership uses the
direction-vector angle on BOTH models (exact for SPHERE; for WGS84
this is GeoStandardCircle's cutoff-angle semantics, not GeoExactCircle
surface-distance contours).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PlanetModel:
    """PlanetModel.java:110-140 (the derived quantities we need)."""

    a: float
    b: float

    @property
    def mean_radius(self) -> float:
        return (2.0 * self.a + self.b) / 3.0

    @property
    def xy_scaling(self) -> float:
        return self.a / self.mean_radius

    @property
    def z_scaling(self) -> float:
        return self.b / self.mean_radius

    @property
    def scaled_flattening(self) -> float:
        return (self.xy_scaling - self.z_scaling) / self.xy_scaling


SPHERE = PlanetModel(6371008.7714, 6371008.7714)
WGS84 = PlanetModel(6378137.0, 6356752.314245)

MODELS = {"sphere": SPHERE, "wgs84": WGS84}


def direction(lat: float, lon: float) -> tuple[float, float, float]:
    """GeoPoint.java:62-74 direction vector (unit sphere)."""
    return (
        math.cos(lat) * math.cos(lon),
        math.cos(lat) * math.sin(lon),
        math.sin(lat),
    )


def arc_distance(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Central angle between two direction vectors (GeoPoint.arcDistance
    role), radians — atan2 form for numerical stability near 0/pi."""
    p, q = direction(lat1, lon1), direction(lat2, lon2)
    dot = p[0] * q[0] + p[1] * q[1] + p[2] * q[2]
    cx = p[1] * q[2] - p[2] * q[1]
    cy = p[2] * q[0] - p[0] * q[2]
    cz = p[0] * q[1] - p[1] * q[0]
    return math.atan2(math.sqrt(cx * cx + cy * cy + cz * cz), dot)


def surface_distance_m(
    lat1: float, lon1: float, lat2: float, lon2: float, model: PlanetModel = WGS84
) -> float:
    """PlanetModel.surfaceDistance (:446-530): Vincenty's inverse
    formula on the model's flattening, from the published formula.
    Returns METERS on the model (angle × meanRadius in the reference's
    normalization equals this directly). Falls back to the arc distance
    when the iteration fails to converge (antipodal points — the
    reference iterates a bounded count and uses the last lambda)."""
    f = model.scaled_flattening
    if f == 0.0:
        return arc_distance(lat1, lon1, lat2, lon2) * model.mean_radius
    big_l = lon2 - lon1
    u1 = math.atan((1.0 - f) * math.tan(lat1))
    u2 = math.atan((1.0 - f) * math.tan(lat2))
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_u2, cos_u2 = math.sin(u2), math.cos(u2)
    lam = big_l
    for _ in range(100):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt(
            (cos_u2 * sin_lam) ** 2 + (cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam) ** 2
        )
        if sin_sigma == 0.0:
            return 0.0
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
        cos_sq_alpha = 1.0 - sin_alpha * sin_alpha
        cos2_sigma_m = (
            cos_sigma - 2.0 * sin_u1 * sin_u2 / cos_sq_alpha if cos_sq_alpha != 0.0 else 0.0
        )
        c = f / 16.0 * cos_sq_alpha * (4.0 + f * (4.0 - 3.0 * cos_sq_alpha))
        lam_prev = lam
        lam = big_l + (1.0 - c) * f * sin_alpha * (
            sigma
            + c
            * sin_sigma
            * (cos2_sigma_m + c * cos_sigma * (-1.0 + 2.0 * cos2_sigma_m * cos2_sigma_m))
        )
        if abs(lam - lam_prev) < 1e-12:
            break
    # semi-axes in the model's normalized space x meanRadius back out
    a, b = model.a, model.b
    u_sq = cos_sq_alpha * (a * a - b * b) / (b * b)
    big_a = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    big_b = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = (
        big_b
        * sin_sigma
        * (
            cos2_sigma_m
            + big_b
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos2_sigma_m * cos2_sigma_m)
                - big_b
                / 6.0
                * cos2_sigma_m
                * (-3.0 + 4.0 * sin_sigma * sin_sigma)
                * (-3.0 + 4.0 * cos2_sigma_m * cos2_sigma_m)
            )
        )
    )
    return b * big_a * (sigma - delta_sigma)


# ---- membership predicates (Catalyst, whole-stage codegen) ---------------


def _dir_cols(lat_col: str, lon_col: str) -> tuple[Column, Column, Column]:
    lat = F.radians(F.col(lat_col))
    lon = F.radians(F.col(lon_col))
    return (
        F.cos(lat) * F.cos(lon),
        F.cos(lat) * F.sin(lon),
        F.sin(lat),
    )


def circle_condition(q) -> Column:
    """Geo3DPoint.newDistanceQuery role: cutoffAngle = radius_m /
    meanRadius (Geo3DPoint.java), membership = central angle from the
    center <= cutoff (GeoStandardCircle). Two phases like geo.py's
    distance_condition: a latitude band (pushed-down range) AND the
    exact dot-product test — cos(angle) >= cos(cutoff) avoids acos in
    the hot expression."""
    model = MODELS[q.model]
    cutoff = float(q.radius_m) / model.mean_radius
    lat0, lon0 = math.radians(q.lat), math.radians(q.lon)
    # coarse phase: |lat - lat0| <= cutoff (always true band bound)
    band_lo = math.degrees(lat0 - cutoff)
    band_hi = math.degrees(lat0 + cutoff)
    coarse = F.col(q.lat_field).between(band_lo, band_hi)
    px, py, pz = direction(lat0, lon0)
    x, y, z = _dir_cols(q.lat_field, q.lon_field)
    dot = x * F.lit(px) + y * F.lit(py) + z * F.lit(pz)
    if cutoff >= math.pi:
        return F.lit(True)
    return coarse & (dot >= F.lit(math.cos(cutoff)))


def _edge_normals(points) -> list[tuple[float, float, float]]:
    """Great-circle plane normals of a CLOSED convex ring's edges
    (GeoConvexPolygon role). Validates convexity + consistent winding:
    every vertex must sit on the non-negative side of every non-
    adjacent edge plane; the ring is flipped if clockwise."""
    pts = [tuple(p) for p in points]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        raise ValueError("polygon needs >= 3 distinct vertices")
    dirs = [direction(math.radians(la), math.radians(lo)) for la, lo in pts]

    def normals(ds):
        out = []
        for i in range(len(ds)):
            p, qq = ds[i], ds[(i + 1) % len(ds)]
            out.append(
                (
                    p[1] * qq[2] - p[2] * qq[1],
                    p[2] * qq[0] - p[0] * qq[2],
                    p[0] * qq[1] - p[1] * qq[0],
                )
            )
        return out

    for ds in (dirs, list(reversed(dirs))):
        ns = normals(ds)
        ok = all(
            ns[i][0] * d[0] + ns[i][1] * d[1] + ns[i][2] * d[2] >= -1e-12
            for i in range(len(ds))
            for d in ds
        )
        if ok:
            return ns
    raise ValueError("polygon is not convex (GeoConvexPolygon subset)")


def _polygon_box(points) -> tuple[float, float, float, float]:
    """(lat_lo, lat_hi, lon_lo, lon_hi) degrees bounding a convex ring
    for the coarse (row-group pruning) phase. Longitude runs monotonically
    along a great-circle edge, so the vertices bound it; latitude does
    not: an edge bulges poleward, so each edge's extreme latitudes — the
    northmost and southmost points of its great circle, taken from the
    plane normal n = p x q, where they fall between p and q — widen the
    vertex band."""
    pts = [tuple(p) for p in points]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    lats = [p[0] for p in pts]
    lons = [p[1] for p in pts]
    dirs = np.array([direction(math.radians(la), math.radians(lo)) for la, lo in pts])
    for p, q in zip(dirs, np.roll(dirs, -1, axis=0)):
        n = np.cross(p, q)
        h = math.hypot(n[0], n[1])
        if h == 0.0:
            continue  # the equator: no bulge
        top = np.array([-n[0] * n[2], -n[1] * n[2], h * h]) / (h * np.linalg.norm(n))
        for a in (top, -top):
            if np.cross(p, a) @ n >= 0.0 and np.cross(a, q) @ n >= 0.0:
                lats.append(math.degrees(math.asin(min(1.0, max(-1.0, a[2])))))
    return min(lats), max(lats), min(lons), max(lons)


def convex_polygon_condition(q) -> Column:
    """GeoConvexPolygon.isWithin role: AND of per-edge plane dot
    products (normals are query-time constants), AND'd with the
    bounding box of :func:`_polygon_box` for parquet row-group pruning."""
    ns = _edge_normals(q.points)
    lat_lo, lat_hi, lon_lo, lon_hi = _polygon_box(q.points)
    coarse = F.col(q.lat_field).between(lat_lo, lat_hi) & F.col(q.lon_field).between(
        lon_lo, lon_hi
    )
    x, y, z = _dir_cols(q.lat_field, q.lon_field)
    cond = coarse
    for nx, ny, nz in ns:
        cond = cond & (x * F.lit(nx) + y * F.lit(ny) + z * F.lit(nz) >= F.lit(-1e-12))
    return cond


def circle_sql(q) -> str:
    """The DuckDB mirror of circle_condition (gate oracle)."""
    model = MODELS[q.model]
    cutoff = float(q.radius_m) / model.mean_radius
    if cutoff >= math.pi:
        return "TRUE"
    lat0, lon0 = math.radians(q.lat), math.radians(q.lon)
    px, py, pz = direction(lat0, lon0)
    band_lo, band_hi = math.degrees(lat0 - cutoff), math.degrees(lat0 + cutoff)
    lat, lon = f"radians({q.lat_field})", f"radians({q.lon_field})"
    dot = (
        f"(cos({lat})*cos({lon})*({px!r}) + cos({lat})*sin({lon})*({py!r}) "
        f"+ sin({lat})*({pz!r}))"
    )
    return (
        f"({q.lat_field} BETWEEN {band_lo!r} AND {band_hi!r} "
        f"AND {dot} >= {math.cos(cutoff)!r})"
    )


def polygon_sql(q) -> str:
    """The DuckDB mirror of convex_polygon_condition (gate oracle)."""
    ns = _edge_normals(q.points)
    lat_lo, lat_hi, lon_lo, lon_hi = _polygon_box(q.points)
    lat, lon = f"radians({q.lat_field})", f"radians({q.lon_field})"
    x = f"cos({lat})*cos({lon})"
    y = f"cos({lat})*sin({lon})"
    z = f"sin({lat})"
    parts = [
        f"({q.lat_field} BETWEEN {lat_lo!r} AND {lat_hi!r})",
        f"({q.lon_field} BETWEEN {lon_lo!r} AND {lon_hi!r})",
    ]
    for nx, ny, nz in ns:
        parts.append(f"(({x})*({nx!r}) + ({y})*({ny!r}) + ({z})*({nz!r}) >= -1e-12)")
    return "(" + " AND ".join(parts) + ")"
