"""SQL-registered geo UDF surface (st_* names callable from spark.sql).

The DataFrame-level geo model lives in functions/geo.py / geo_ops.py /
geomlib.py; this module exposes the same kernels under their MySQL-dialect
names so the BVT replay (test/distributed/cases/geo/*.sql) and any
translate()-based query can call them as plain SQL functions. Reference
surface: pkg/sql/plan/function/func_geo*.go (st_* registrations in
function_id.go); semantics are the geomlib clean-room kernels already
oracle-gated by the geofull batteries.

Registered on first use by ``matrixone_spark.session.ensure_sql_surface``,
alongside sql_udfs.register_all.

Arity: Spark SQL UDFs are fixed-arity, MySQL's geo functions are not —
translate() pads optional trailing arguments with NULL (GEO_SQL_ARITY),
and kernels treat None as "argument omitted".

All geometry values travel as EWKT strings ('SRID=n;WKT' or bare WKT),
the same convention as geo_ops; at 100 TB these are ordinary string
columns — Arrow-batched pandas UDFs, no driver round-trips.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
)

from matrixone_spark.functions import geomlib as GL
from matrixone_spark.functions.geo import (
    EARTH_RADIUS_M,
    _geohash_decode,
    _geohash_encode,
)

# ------------------------------------------------------------- helpers ----


def _parse(v):
    """EWKT/WKT -> (srid|None, geometry). Raises on malformed."""
    srid, bare = GL.split_srid(str(v))
    return srid, GL.parse_wkt(bare)


def _geom(v):
    return _parse(v)[1]


def _render(srid, g):
    if g is None:
        return None
    wkt = GL.render_wkt(g)
    return f"SRID={srid};{wkt}" if srid else wkt


def _map_coords(g, fn):
    """Apply fn(x, y) -> (x, y) to every coordinate of a geometry value."""
    kind, data = g
    if data is None:
        return (kind, None)
    if kind == "POINT":
        return (kind, fn(*data))
    if kind in ("LINESTRING", "MULTIPOINT"):
        return (kind, [fn(*p) for p in data])
    if kind in ("POLYGON", "MULTILINESTRING"):
        return (kind, [[fn(*p) for p in ring] for ring in data])
    if kind == "MULTIPOLYGON":
        return (kind, [[[fn(*p) for p in ring] for ring in poly] for poly in data])
    if kind == "GEOMETRYCOLLECTION":
        return (kind, [_map_coords(sub, fn) for sub in data])
    raise ValueError(f"unknown geometry kind {kind}")


def _point_xy(g):
    kind, data = g
    if kind != "POINT" or data is None:
        raise ValueError("not a non-empty POINT")
    return data


def _line_pts(g):
    kind, data = g
    if kind != "LINESTRING" or not data:
        raise ValueError("not a non-empty LINESTRING")
    return data


def _typed_from_text(v, srid, expect):
    sr, g = _parse(v)
    if g[0] != expect:
        raise ValueError(f"expected {expect}")
    return _render(int(srid) if srid is not None else sr, g)


def _typed_from_wkb(b, srid, expect):
    g = GL.from_wkb(bytes(b))
    if g[0] != expect:
        raise ValueError(f"expected {expect}")
    return _render(int(srid) if srid is not None else None, g)


def _haversine_m(x1, y1, x2, y2):
    lon1, lat1, lon2, lat2 = map(math.radians, (x1, y1, x2, y2))
    h = (
        math.sin((lat2 - lat1) / 2) ** 2
        + math.cos(lat1) * math.cos(lat2) * math.sin((lon2 - lon1) / 2) ** 2
    )
    return 2.0 * math.asin(math.sqrt(h)) * EARTH_RADIUS_M


def _point_set(g):
    """All coordinates of a POINT/MULTIPOINT (reference's sphere-distance
    domain)."""
    kind, data = g
    if kind == "POINT":
        return [data] if data else []
    if kind == "MULTIPOINT":
        return list(data or [])
    raise ValueError("expects POINT/MULTIPOINT")


def _distance_sphere(va, vb, *_):
    pa, pb = _point_set(_geom(va)), _point_set(_geom(vb))
    if not pa or not pb:
        return None
    if any(abs(x) > 180 or abs(y) > 90 for x, y in pa + pb):
        return None
    return min(_haversine_m(x1, y1, x2, y2) for x1, y1 in pa for x2, y2 in pb)


def _xyz(x, y):
    lon, lat = math.radians(x), math.radians(y)
    return (
        math.cos(lat) * math.cos(lon),
        math.cos(lat) * math.sin(lon),
        math.sin(lat),
    )


def _ring_sph_area(ring):
    """Signed spherical area (steradians) of a lon/lat ring — exact
    triangulated spherical excess (Van Oosterom & Strackee), the same
    S2-exact quantity the reference's geodetic area returns × R²
    (pkg/geo/geodetic.go)."""
    pts = ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else ring
    if len(pts) < 3:
        return 0.0
    vs = [_xyz(x, y) for x, y in pts]
    total = 0.0
    v1 = vs[0]
    for i in range(1, len(vs) - 1):
        v2, v3 = vs[i], vs[i + 1]
        cx = v2[1] * v3[2] - v2[2] * v3[1]
        cy = v2[2] * v3[0] - v2[0] * v3[2]
        cz = v2[0] * v3[1] - v2[1] * v3[0]
        num = v1[0] * cx + v1[1] * cy + v1[2] * cz
        den = (
            1.0
            + (v1[0] * v2[0] + v1[1] * v2[1] + v1[2] * v2[2])
            + (v2[0] * v3[0] + v2[1] * v3[1] + v2[2] * v3[2])
            + (v3[0] * v1[0] + v3[1] * v1[1] + v3[2] * v1[2])
        )
        total += 2.0 * math.atan2(num, den)
    return total


def _geodesic_area(g):
    kind, data = g
    if data is None:
        return 0.0
    if kind == "POLYGON":
        outer = abs(_ring_sph_area(data[0]))
        holes = sum(abs(_ring_sph_area(r)) for r in data[1:])
        return (outer - holes) * EARTH_RADIUS_M * EARTH_RADIUS_M
    if kind == "MULTIPOLYGON":
        return sum(_geodesic_area(("POLYGON", p)) for p in data)
    if kind == "GEOMETRYCOLLECTION":
        return sum(_geodesic_area(sub) for sub in data)
    return 0.0


def _geodesic_length(g):
    kind, data = g
    if data is None:
        return 0.0
    if kind == "LINESTRING":
        return sum(
            _haversine_m(*p, *q) for p, q in zip(data, data[1:])
        )
    if kind == "MULTILINESTRING":
        return sum(_geodesic_length(("LINESTRING", pts)) for pts in data)
    return 0.0


def _srid_mode(parsed_srid, force):
    """Effective SRID: an explicit numeric override wins (0 = cartesian)."""
    return int(force) if force is not None else (parsed_srid or 0)


def _st_area(v, force=None):
    sr, g = _parse(v)
    if _srid_mode(sr, force) == 4326:
        return _geodesic_area(g)
    return GL.area(g)


def _st_length(v, force=None):
    sr, g = _parse(v)
    if _srid_mode(sr, force) == 4326:
        return _geodesic_length(g)
    return GL.length(g)


def _st_distance(va, vb, force=None):
    sra, ga = _parse(va)
    srb, gb = _parse(vb)
    if _srid_mode(sra or srb, force) == 4326:
        return _distance_sphere(va, vb)
    return GL.distance(ga, gb)


def _is_closed(g):
    kind, data = g
    if kind == "LINESTRING":
        return bool(data) and data[0] == data[-1]
    if kind == "MULTILINESTRING":
        return bool(data) and all(pts and pts[0] == pts[-1] for pts in data)
    raise ValueError("st_isclosed expects a line")


def _makeenvelope(a, b, c=None, d=None):
    """4-number form: corner coordinates as written; 2-POINT form:
    normalized min/max corners (geo_mbr.sql envelope_unordered)."""
    if c is None and d is None:
        x1, y1 = _point_xy(_geom(a))
        x2, y2 = _point_xy(_geom(b))
        x1, x2 = min(x1, x2), max(x1, x2)
        y1, y2 = min(y1, y2), max(y1, y2)
    else:
        x1, y1, x2, y2 = float(a), float(b), float(c), float(d)
    return GL.render_wkt(
        ("POLYGON", [[(x1, y1), (x2, y1), (x2, y2), (x1, y2), (x1, y1)]])
    )


def _geohash(a, b, c=None):
    if c is None:  # 2-arg form: (point, precision)
        (lon, lat), prec = _point_xy(_geom(a)), int(b)
    else:
        lon, lat, prec = float(a), float(b), int(c)
    return _geohash_encode(lon, lat, prec)


def _overlay(op):
    def k(a, b, *_):
        sr, ga = _parse(a)
        return _render(sr, GL.overlay(ga, _geom(b), op))

    return k


# ------------------------------------------------------------- spec -------
# name -> (return_type, arity, kernel(*decoded_args))
# Kernels receive python objects (str/float/bytes/None); returning None maps
# to SQL NULL. Exceptions also map to NULL (the reference errors; the
# replay grades those rows ref_error against the .result file).

_G = StringType()


def _from_text(v, srid=None):
    sr, g = _parse(v)
    return _render(int(srid) if srid is not None else sr, g)


_SPEC: "dict[str, tuple[object, int, object]]" = {
    # constructors / IO
    "st_geomfromtext": (_G, 2, _from_text),
    "st_geometryfromtext": (_G, 2, _from_text),
    "st_pointfromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "POINT")),
    "st_linefromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "LINESTRING")),
    "st_linestringfromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "LINESTRING")),
    "st_polyfromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "POLYGON")),
    "st_polygonfromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "POLYGON")),
    "st_mpointfromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "MULTIPOINT")),
    "st_mlinefromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "MULTILINESTRING")),
    "st_mpolyfromtext": (_G, 2, lambda v, s=None: _typed_from_text(v, s, "MULTIPOLYGON")),
    "st_geomcollfromtext": (
        _G, 2, lambda v, s=None: _typed_from_text(v, s, "GEOMETRYCOLLECTION")),
    "st_astext": (_G, 1, lambda v: GL.render_wkt(_geom(v))),
    "st_aswkt": (_G, 1, lambda v: GL.render_wkt(_geom(v))),
    "st_aswkb": (BinaryType(), 1, lambda v: GL.to_wkb(_geom(v))),
    "st_asbinary": (BinaryType(), 1, lambda v: GL.to_wkb(_geom(v))),
    "st_geomfromwkb": (
        _G, 2, lambda b, s=None: _render(int(s) if s is not None else None,
                                         GL.from_wkb(bytes(b)))),
    "st_geomfrombinary": (
        _G, 2, lambda b, s=None: _render(int(s) if s is not None else None,
                                         GL.from_wkb(bytes(b)))),
    "st_pointfromwkb": (_G, 2, lambda b, s=None: _typed_from_wkb(b, s, "POINT")),
    "st_linestringfromwkb": (_G, 2, lambda b, s=None: _typed_from_wkb(b, s, "LINESTRING")),
    "st_linefromwkb": (_G, 2, lambda b, s=None: _typed_from_wkb(b, s, "LINESTRING")),
    "st_polyfromwkb": (_G, 2, lambda b, s=None: _typed_from_wkb(b, s, "POLYGON")),
    "st_polygonfromwkb": (_G, 2, lambda b, s=None: _typed_from_wkb(b, s, "POLYGON")),
    "st_asgeojson": (
        _G, 2, lambda v, d=None: GL.to_geojson(_geom(v), int(d) if d is not None else None)),
    # GeoJSON coordinates are WGS84 by definition — default SRID 4326
    # (geo_geojson.sql default_srid row)
    "st_geomfromgeojson": (
        _G, 2, lambda j, s=None: _render(int(s) if s is not None else 4326,
                                         GL.from_geojson(str(j)))),
    # accessors
    "st_x": (DoubleType(), 1, lambda v: _point_xy(_geom(v))[0]),
    "st_y": (DoubleType(), 1, lambda v: _point_xy(_geom(v))[1]),
    "st_longitude": (DoubleType(), 1, lambda v: _point_xy(_geom(v))[0]),
    "st_latitude": (DoubleType(), 1, lambda v: _point_xy(_geom(v))[1]),
    "st_srid": (
        LongType(), 1, lambda v: (lambda sr, g: sr or 0)(*_parse(v))),
    "st_geometrytype": (_G, 1, lambda v: _geom(v)[0]),
    "st_dimension": (LongType(), 1, lambda v: GL.dimension(_geom(v))),
    "st_numgeometries": (LongType(), 1, lambda v: GL.num_geometries(_geom(v))),
    "st_numinteriorrings": (LongType(), 1, lambda v: GL.num_interior_rings(_geom(v))),
    "st_numinteriorring": (LongType(), 1, lambda v: GL.num_interior_rings(_geom(v))),
    "st_numpoints": (LongType(), 1, lambda v: len(_line_pts(_geom(v)))),
    "st_pointn": (
        _G, 2, lambda v, n: (lambda pts, i: _render(
            _parse(v)[0], ("POINT", pts[i - 1]) if 1 <= i <= len(pts) else None))(
            _line_pts(_geom(v)), int(n))),
    "st_startpoint": (
        _G, 1, lambda v: _render(_parse(v)[0], ("POINT", _line_pts(_geom(v))[0]))),
    "st_endpoint": (
        _G, 1, lambda v: _render(_parse(v)[0], ("POINT", _line_pts(_geom(v))[-1]))),
    "st_geometryn": (
        _G, 2, lambda v, n: (lambda sr, g: _render(sr, GL.geometry_n(g, int(n))))(*_parse(v))),
    "st_exteriorring": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, GL.exterior_ring(g)))(*_parse(v))),
    "st_interiorringn": (
        _G, 2, lambda v, n: (lambda sr, g: _render(sr, GL.interior_ring_n(g, int(n))))(
            *_parse(v))),
    # predicates
    "st_isempty": (BooleanType(), 1, lambda v: GL.is_empty(_geom(v))),
    "st_iscollection": (BooleanType(), 1, lambda v: GL.is_collection(_geom(v))),
    "st_issimple": (BooleanType(), 1, lambda v: GL.is_simple(_geom(v))),
    "st_isring": (BooleanType(), 1, lambda v: GL.is_ring(_geom(v))),
    "st_isvalid": (BooleanType(), 1, lambda v: GL.is_valid(_geom(v))),
    "st_isclosed": (BooleanType(), 1, lambda v: _is_closed(_geom(v))),
    "st_intersects": (BooleanType(), 2, lambda a, b: GL.intersects(_geom(a), _geom(b))),
    "st_disjoint": (BooleanType(), 2, lambda a, b: GL.disjoint(_geom(a), _geom(b))),
    "st_contains": (BooleanType(), 2, lambda a, b: GL.contains(_geom(a), _geom(b))),
    "st_within": (BooleanType(), 2, lambda a, b: GL.within(_geom(a), _geom(b))),
    "st_covers": (BooleanType(), 2, lambda a, b: GL.covers(_geom(a), _geom(b))),
    "st_coveredby": (BooleanType(), 2, lambda a, b: GL.coveredby(_geom(a), _geom(b))),
    "st_touches": (BooleanType(), 2, lambda a, b: GL.touches(_geom(a), _geom(b))),
    "st_crosses": (BooleanType(), 2, lambda a, b: GL.crosses(_geom(a), _geom(b))),
    "st_overlaps": (BooleanType(), 2, lambda a, b: GL.overlaps(_geom(a), _geom(b))),
    "st_equals": (BooleanType(), 2, lambda a, b: GL.equals(_geom(a), _geom(b))),
    # measures (SRID 4326 — parsed from the EWKT value or forced by the
    # optional trailing argument — switches to geodesic meters/m²,
    # geo_geodetic.sql; pkg/geo/geodetic.go)
    "st_area": (DoubleType(), 2, _st_area),
    "st_length": (DoubleType(), 2, _st_length),
    "st_distance": (DoubleType(), 3, _st_distance),
    "st_distance_sphere": (DoubleType(), 2, _distance_sphere),
    "st_hausdorffdistance": (
        DoubleType(), 2, lambda a, b: GL.hausdorff(_geom(a), _geom(b))),
    "st_frechetdistance": (
        DoubleType(), 2, lambda a, b: GL.frechet(_geom(a), _geom(b))),
    # geometry -> geometry (SRID-preserving, geo_ops convention)
    "st_centroid": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, GL.centroid(g)))(*_parse(v))),
    "st_envelope": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, GL.envelope(g)))(*_parse(v))),
    "st_boundary": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, GL.boundary(g)))(*_parse(v))),
    "st_pointonsurface": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, GL.point_on_surface(g)))(*_parse(v))),
    "st_convexhull": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, GL.convex_hull(g)))(*_parse(v))),
    "st_validate": (
        _G, 1, lambda v: (lambda sr, g: (lambda r: _render(sr, r) if r else None)(
            GL.validate(g)))(*_parse(v))),
    "st_simplify": (
        _G, 2, lambda v, t: (lambda sr, g: _render(sr, GL.simplify(g, float(t))))(*_parse(v))),
    "st_buffer": (
        _G, 3, lambda v, d, q=None: (lambda sr, g: _render(
            sr, GL.buffer(g, float(d), int(q) if q is not None else 8)))(*_parse(v))),
    "st_swapxy": (
        _G, 1, lambda v: (lambda sr, g: _render(sr, _map_coords(g, lambda x, y: (y, x))))(
            *_parse(v))),
    "st_union": (_G, 3, _overlay("union")),
    "st_intersection": (_G, 3, _overlay("intersection")),
    "st_difference": (_G, 3, _overlay("difference")),
    "st_symdifference": (_G, 3, _overlay("symdifference")),
    "st_collect": (
        _G, 2, lambda a, b: GL.render_wkt(GL.collect(_geom(a), _geom(b)))),
    "st_makeenvelope": (_G, 4, lambda a, b, c=None, d=None: _makeenvelope(a, b, c, d)),
    "st_lineinterpolatepoint": (
        _G, 2, lambda v, f: (lambda sr, g: _render(
            sr, GL.line_interpolate_point(g, float(f))))(*_parse(v))),
    "st_lineinterpolatepoints": (
        _G, 2, lambda v, f: (lambda sr, g: _render(
            sr, GL.line_interpolate_points(g, float(f))))(*_parse(v))),
    "st_pointatdistance": (
        _G, 2, lambda v, d: (lambda sr, g: _render(
            sr, GL.point_at_distance(g, float(d))))(*_parse(v))),
    # geohash
    "st_geohash": (_G, 3, _geohash),
    "st_latfromgeohash": (
        DoubleType(), 1, lambda gh: (_geohash_decode(str(gh)) or (None, None))[1]),
    "st_longfromgeohash": (
        DoubleType(), 1, lambda gh: (_geohash_decode(str(gh)) or (None, None))[0]),
    "st_pointfromgeohash": (
        _G, 1, lambda gh: (lambda ll: GL.render_wkt(("POINT", ll)) if ll else None)(
            _geohash_decode(str(gh)))),
}

# translate() pads calls to these names with trailing NULLs up to the
# registered arity (Spark SQL UDFs are fixed-arity, MySQL's are not)
GEO_SQL_ARITY = {name: spec[1] for name, spec in _SPEC.items()}

# MySQL names that Spark also defines as GEOMETRY-typed built-ins. The
# surface is registered on first use, so a plain-named UDF would lose to the
# built-in on a session without it (geometries here are EWKT strings); these
# register mo_-prefixed and translate() applies the rename.
GEO_SQL_RENAMES = {
    name: f"mo_{name}" for name in ("st_asbinary", "st_geomfromwkb", "st_srid")
}

# process-local count of swallowed kernel exceptions (executor-side in
# local mode); lets tests distinguish intentional NULL rows from bugs.
_KERNEL_ERRORS = [0]


def _make_udf(rettype, arity, kernel):
    # object dtype for every return type: lets None coexist with str/bytes/
    # float in the same Series; Arrow coerces to the declared Spark type.
    dtype = "object"

    def run(*cols):
        out = []
        for vals in zip(*cols):
            args = [None if (v is None or (isinstance(v, float) and pd.isna(v))) else v
                    for v in vals]
            # trailing padded NULLs are "argument omitted"
            while args and args[-1] is None and len(args) > 1:
                args.pop()
            if args and args[0] is None:
                out.append(None)
                continue
            try:
                r = kernel(*args)
            except Exception:
                # NULL-on-error matches the reference's st_* reject rows,
                # but count it so kernel bugs stay observable (see
                # GEO_SQL_KERNEL_ERRORS in tests / debugging sessions).
                _KERNEL_ERRORS[0] += 1
                r = None
            out.append(r)
        return pd.Series(out, dtype=dtype)

    if arity == 1:
        @pandas_udf(rettype)
        def u(a: pd.Series) -> pd.Series:
            return run(a)
    elif arity == 2:
        @pandas_udf(rettype)
        def u(a: pd.Series, b: pd.Series) -> pd.Series:
            return run(a, b)
    elif arity == 3:
        @pandas_udf(rettype)
        def u(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.Series:
            return run(a, b, c)
    else:
        @pandas_udf(rettype)
        def u(a: pd.Series, b: pd.Series, c: pd.Series, d: pd.Series) -> pd.Series:
            return run(a, b, c, d)
    return u


def register_geo_sql(spark) -> None:
    """Register every st_* SQL UDF on the session (called once per session
    by session.ensure_sql_surface)."""
    for name, (rettype, arity, kernel) in _SPEC.items():
        spark.udf.register(GEO_SQL_RENAMES.get(name, name),
                           _make_udf(rettype, arity, kernel))
