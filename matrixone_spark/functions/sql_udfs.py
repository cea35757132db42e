"""SQL-registered UDFs for the S2/H3 cell families (and their geometry
plumbing), so the reference's BVT geo scripts run as SQL *text* through the
co-executor (test/distributed/cases/geo/geo_s2h3.sql; wrappers
func_s2h3.go:300-616).

Everything here is an Arrow-batched pandas UDF with a fixed SQL arity,
registered on first use by ``matrixone_spark.session.ensure_sql_surface``.
Variadic reference signatures are normalized by the dialect layer:
``h3_h3index(p)`` → ``h3_h3index(p, 15)`` and ``h3_h3index_parent(c)`` →
``h3_h3index_parent(c, -1)`` (-1 = immediate parent). GEOMETRY values are
WKT strings in this engine (functions/geomlib), and a CellId/H3Index is
DECIMAL(20,0) carrying the uint64. Invalid inputs raise, matching the
reference's error contract (``invalid H3Index: 0`` etc.); the errors
surface as statement failures exactly where the reference's .result shows
an error line.

Scale: every function is a per-row scalar transform — distributes like the
built-in string functions; no shuffle, no state.
"""

from __future__ import annotations

import decimal
import json
import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from matrixone_spark.functions import geomlib as GL
from matrixone_spark.functions import h3cell as H3
from matrixone_spark.functions import s2cell as S2

_DEC20 = DecimalType(20, 0)


def _point_lonlat(wkt) -> "tuple[float, float]":
    if wkt is None:
        raise ValueError("invalid point payload")
    _srid, bare = GL.split_srid(str(wkt))
    g = GL.parse_wkt(bare)
    if g[0] != "POINT" or g[1] is None:
        raise ValueError("invalid point payload")
    return float(g[1][0]), float(g[1][1])


def _valid_lonlat(lon: float, lat: float) -> None:
    if not (math.isfinite(lon) and math.isfinite(lat)):
        raise ValueError(f"longitude/latitude is not finite: ({lon}, {lat})")
    if abs(lat) > 90.0 or abs(lon) > 180.0:
        raise ValueError(f"longitude/latitude out of range: ({lon:g}, {lat:g})")


def _map1(fn):
    def run(xs: pd.Series) -> pd.Series:
        out = []
        for v in xs:
            out.append(None if v is None or (isinstance(v, float) and pd.isna(v)) else fn(v))
        return pd.Series(out, dtype=object)

    return run


def _map2(fn):
    def run(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            if x is None or y is None or (isinstance(x, float) and pd.isna(x)) or pd.isna(y):
                out.append(None)
            else:
                out.append(fn(x, y))
        return pd.Series(out, dtype=object)

    return run


# ------------------------------------------------------------------ S2 ----


@pandas_udf(_DEC20)
def _s2_cellid(pt: pd.Series) -> pd.Series:
    def fn(v):
        lon, lat = _point_lonlat(v)
        _valid_lonlat(lon, lat)
        return decimal.Decimal(S2.cellid_from_lonlat(lon, lat))

    return _map1(fn)(pt)


@pandas_udf(IntegerType())
def _s2_cellid_level(c: pd.Series) -> pd.Series:
    return _map1(lambda v: S2.cell_level(int(v)))(c)


@pandas_udf(_DEC20)
def _s2_cellid_parent(c: pd.Series, lvl: pd.Series) -> pd.Series:
    return _map2(lambda v, l: decimal.Decimal(S2.cell_parent(int(v), int(l))))(c, lvl)


@pandas_udf(StringType())
def _s2_cellid_center(c: pd.Series) -> pd.Series:
    def fn(v):
        lon, lat = S2.cell_center_lonlat(int(v))
        return GL.render_wkt(("POINT", (lon, lat)))

    return _map1(fn)(c)


@pandas_udf(DoubleType())
def _s2_cellid_area(c: pd.Series) -> pd.Series:
    return _map1(lambda v: S2.cell_approx_area_m2(int(v)))(c)


@pandas_udf(StringType())
def _s2_cellid_edgeneighbours(c: pd.Series) -> pd.Series:
    return _map1(lambda v: json.dumps(S2.cell_edge_neighbors(int(v))))(c)


@pandas_udf(StringType())
def _s2_cellid_allneighbours(c: pd.Series) -> pd.Series:
    return _map1(lambda v: json.dumps(S2.cell_all_neighbors(int(v))))(c)


@pandas_udf(BooleanType())
def _s2_cellid_areneighbours(a: pd.Series, b: pd.Series) -> pd.Series:
    return _map2(lambda x, y: S2.cells_are_neighbors(int(x), int(y)))(a, b)


# ------------------------------------------------------------------ H3 ----


@pandas_udf(_DEC20)
def _h3_h3index(pt: pd.Series, res: pd.Series) -> pd.Series:
    def fn(v, r):
        lon, lat = _point_lonlat(v)
        return decimal.Decimal(H3.latlng_to_cell(lat, lon, int(r)))

    return _map2(fn)(pt, res)


@pandas_udf(IntegerType())
def _h3_h3index_resolution(c: pd.Series) -> pd.Series:
    def fn(v):
        H3._require_valid(int(v))
        return H3.get_resolution(int(v))

    return _map1(fn)(c)


@pandas_udf(_DEC20)
def _h3_h3index_parent(c: pd.Series, res: pd.Series) -> pd.Series:
    def fn(v, r):
        r = int(r)
        return decimal.Decimal(H3.cell_to_parent(int(v), None if r < 0 else r))

    return _map2(fn)(c, res)


@pandas_udf(StringType())
def _h3_h3index_center(c: pd.Series) -> pd.Series:
    def fn(v):
        lat, lng = H3.cell_to_latlng(int(v))
        return GL.render_wkt(("POINT", (lng, lat)))

    return _map1(fn)(c)


@pandas_udf(StringType())
def _h3_h3index_boundary(c: pd.Series) -> pd.Series:
    def fn(v):
        pts = H3.cell_boundary(int(v))
        return GL.render_wkt(("MULTIPOINT", [(lng, lat) for lat, lng in pts]))

    return _map1(fn)(c)


@pandas_udf(StringType())
def _h3_h3index_neighbours(c: pd.Series) -> pd.Series:
    return _map1(lambda v: json.dumps(H3.grid_neighbors(int(v))))(c)


@pandas_udf(BooleanType())
def _h3_h3index_areneighbours(a: pd.Series, b: pd.Series) -> pd.Series:
    return _map2(lambda x, y: H3.are_neighbor_cells(int(x), int(y)))(a, b)


# ------------------------------------------------- geometry plumbing ----


@pandas_udf(StringType())
def _st_geomfromtext(s: pd.Series) -> pd.Series:
    def fn(v):
        srid, bare = GL.split_srid(str(v))
        wkt = GL.render_wkt(GL.parse_wkt(bare))
        return f"SRID={srid};{wkt}" if srid else wkt

    return _map1(fn)(s)


@pandas_udf(StringType())
def _st_astext(g: pd.Series) -> pd.Series:
    def fn(v):
        _srid, bare = GL.split_srid(str(v))
        return GL.render_wkt(GL.parse_wkt(bare))

    return _map1(fn)(g)


@pandas_udf(StringType())
def _st_geometrytype(g: pd.Series) -> pd.Series:
    def fn(v):
        _srid, bare = GL.split_srid(str(v))
        return GL.parse_wkt(bare)[0]

    return _map1(fn)(g)


@pandas_udf(LongType())
def _st_numgeometries(g: pd.Series) -> pd.Series:
    def fn(v):
        _srid, bare = GL.split_srid(str(v))
        kind, data = GL.parse_wkt(bare)
        if data is None:
            return 0
        if kind in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
            return len(data)
        return 1

    return _map1(fn)(g)


@pandas_udf(StringType())
def _st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    def fn(a, b):
        a, b = float(a), float(b)
        if not (math.isfinite(a) and math.isfinite(b)):
            raise ValueError(f"longitude/latitude is not finite: ({a}, {b})")
        return GL.render_wkt(("POINT", (a, b)))

    return _map2(fn)(x, y)


@pandas_udf(StringType())
def _st_point32(x: pd.Series, y: pd.Series) -> pd.Series:
    import struct

    def fn(a, b):
        # float32 coordinate precision (reference POINT32 / geometry32)
        a = struct.unpack("f", struct.pack("f", float(a)))[0]
        b = struct.unpack("f", struct.pack("f", float(b)))[0]
        return GL.render_wkt(("POINT", (a, b)))

    return _map2(fn)(x, y)


@pandas_udf(StringType())
def _st_pointfromtext(s: pd.Series) -> pd.Series:
    def fn(v):
        _srid, bare = GL.split_srid(str(v))
        g = GL.parse_wkt(bare)
        if g[0] != "POINT":
            raise ValueError("invalid point payload")
        return GL.render_wkt(g)

    return _map1(fn)(s)


@pandas_udf(DoubleType())
def _st_x(g: pd.Series) -> pd.Series:
    return _map1(lambda v: _point_lonlat(v)[0])(g)


@pandas_udf(DoubleType())
def _st_y(g: pd.Series) -> pd.Series:
    return _map1(lambda v: _point_lonlat(v)[1])(g)


_REGISTRY = {
    "st_point": _st_point,
    "st_point32": _st_point32,
    "st_pointfromtext": _st_pointfromtext,
    "st_x": _st_x,
    "st_y": _st_y,
    "s2_cellid": _s2_cellid,
    "s2_cellid_level": _s2_cellid_level,
    "s2_cellid_parent": _s2_cellid_parent,
    "s2_cellid_center": _s2_cellid_center,
    "s2_cellid_area": _s2_cellid_area,
    "s2_cellid_edgeneighbours": _s2_cellid_edgeneighbours,
    "s2_cellid_edgeneighbors": _s2_cellid_edgeneighbours,
    "s2_cellid_allneighbours": _s2_cellid_allneighbours,
    "s2_cellid_allneighbors": _s2_cellid_allneighbours,
    "s2_cellid_areneighbours": _s2_cellid_areneighbours,
    "s2_cellid_areneighbors": _s2_cellid_areneighbours,
    "h3_h3index": _h3_h3index,
    "h3_h3index_resolution": _h3_h3index_resolution,
    "h3_h3index_parent": _h3_h3index_parent,
    "h3_h3index_center": _h3_h3index_center,
    "h3_h3index_boundary": _h3_h3index_boundary,
    "h3_h3index_neighbours": _h3_h3index_neighbours,
    "h3_h3index_neighbors": _h3_h3index_neighbours,
    "h3_h3index_areneighbours": _h3_h3index_areneighbours,
    "h3_h3index_areneighbors": _h3_h3index_areneighbours,
    "st_geomfromtext": _st_geomfromtext,
    "st_astext": _st_astext,
    "st_geometrytype": _st_geometrytype,
    "st_numgeometries": _st_numgeometries,
}


def register_all(spark) -> None:
    for name, udf in _REGISTRY.items():
        spark.udf.register(name, udf)
