"""Geo point/bbox core + bitmap-style distinct rollup.

- Geo (functions/geo.py): WKT points derived deterministically from supplier
  coordinates; distance/containment as pure expressions, oracle-matched.
- Bitmap aggregates (reference list_agg.go:583 bitmap_construct_agg /
  bitmap_or_agg + scalar bitmap_count/bit_position/bucket_number over
  roaring bitmaps, cgo/croaring.c): the reference's documented use-case is
  two-level exact distinct counting — bucket values, build per-bucket
  bitmaps, OR them, count. Reproduced with the same bucket structure
  (bucket = v >> 15) and exact distinct semantics; roaring is the
  serialization, not the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.functions import geo as G
from matrixone_spark.queries import register
from matrixone_spark.session_cache import cached


@register(
    "geo_point_battery",
    oracle="""
WITH pts AS (
  SELECT s_suppkey,
         CONCAT('POINT(', CAST(CAST(s_suppkey % 100 AS DOUBLE) AS VARCHAR), ' ',
                CAST(CAST(s_suppkey % 37 AS DOUBLE) AS VARCHAR), ')') AS wkt
  FROM supplier)
SELECT s_suppkey, wkt,
       CAST(regexp_extract(wkt, 'POINT\\(([-0-9.eE]+) ([-0-9.eE]+)\\)', 1) AS DOUBLE) AS x,
       CAST(regexp_extract(wkt, 'POINT\\(([-0-9.eE]+) ([-0-9.eE]+)\\)', 2) AS DOUBLE) AS y,
       ROUND(sqrt(POW(CAST(s_suppkey % 100 AS DOUBLE) - 50.0, 2)
                + POW(CAST(s_suppkey % 37 AS DOUBLE) - 18.0, 2)), 9) AS dist_center,
       CASE WHEN CAST(s_suppkey % 100 AS DOUBLE) BETWEEN 20 AND 60
             AND CAST(s_suppkey % 37 AS DOUBLE) BETWEEN 10 AND 25 THEN 1 ELSE 0 END AS in_bbox
FROM pts
""",
    tags=("geo",),
    doc="st_point/st_x/st_y/st_distance/mbr_contains point core (pkg/geo/ st_* family subset as pure expressions; full polygon surface deferred per SURVEY §2.12).",
)
def geo_point_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = Catalog(spark, sf_dir).table("supplier")
    pts = s.select(
        "s_suppkey",
        G.st_point((F.col("s_suppkey") % 100).cast("double"), (F.col("s_suppkey") % 37).cast("double")).alias("wkt"),
    )
    center = G.st_point(F.lit(50.0), F.lit(18.0))
    return pts.select(
        "s_suppkey",
        "wkt",
        G.st_x("wkt").alias("x"),
        G.st_y("wkt").alias("y"),
        F.round(G.st_distance(F.col("wkt"), center), 9).alias("dist_center"),
        G.mbr_contains(F.lit(20.0), F.lit(10.0), F.lit(60.0), F.lit(25.0), F.col("wkt"))
        .cast("int")
        .alias("in_bbox"),
    )


@register(
    "geo_distance_join",
    oracle="""
WITH pts AS (
  SELECT s_suppkey, CAST(s_suppkey % 100 AS DOUBLE) AS x, CAST(s_suppkey % 37 AS DOUBLE) AS y
  FROM supplier)
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       ROUND(sqrt(POW(a.x - b.x, 2) + POW(a.y - b.y, 2)), 9) AS dist
FROM pts a JOIN pts b ON a.s_suppkey < b.s_suppkey
WHERE POW(a.x - b.x, 2) + POW(a.y - b.y, 2) <= 9.0
""",
    tags=("geo", "join"),
    doc="ST_DWITHIN self-join (distance ≤ 3): the spatial-join shape; squared-distance predicate avoids sqrt on the join condition. At 100 TB this would go through a grid-cell bucket join first (same pattern as SimHash prefix blocking).",
)
def geo_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: two fixes, same results (oracle-gated).
    # 1) Parse the WKT point ONCE PER ROW before the join. The old form
    #    carried the WKT strings through the join and evaluated st_dwithin/
    #    st_distance on them per PAIR — ~8 regexp extractions x |pairs|
    #    (guide §4.1/§2.3: evaluate expensive expressions before the
    #    fan-out, ship only the doubles).
    # 2) Replace the O(n²) theta-join (BroadcastNestedLoopJoin on
    #    id_a < id_b) with the grid-cell bucket equi-join this query's own
    #    doc prescribes for scale: cell width = the distance bound, probe
    #    side expanded to its 3x3 neighborhood, exact predicate on the
    #    candidates. Each qualifying pair matches exactly once (a's cell
    #    appears once in b's distinct 9-cell expansion). At 100 TB this is
    #    the difference between a cartesian and a shuffle join on the cell.
    s = Catalog(spark, sf_dir).table("supplier")
    pts = s.select(
        "s_suppkey",
        G.st_point(
            (F.col("s_suppkey") % 100).cast("double"), (F.col("s_suppkey") % 37).cast("double")
        ).alias("wkt"),
    )
    parsed = pts.select(
        "s_suppkey", G.st_x("wkt").alias("x"), G.st_y("wkt").alias("y")
    )
    cell_x, cell_y = F.floor(F.col("x") / 3.0), F.floor(F.col("y") / 3.0)
    a = parsed.select(
        F.col("s_suppkey").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.concat_ws(":", cell_x, cell_y).alias("_cell"),
    )
    b = parsed.select(
        F.col("s_suppkey").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(-1), F.lit(1)),
                    lambda dx: F.transform(
                        F.sequence(F.lit(-1), F.lit(1)),
                        lambda dy: F.concat_ws(":", cell_x + dx, cell_y + dy),
                    ),
                )
            )
        ).alias("_cell"),
    )
    d2 = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    return (
        a.join(b, "_cell")
        .filter((F.col("id_a") < F.col("id_b")) & (d2 <= 9.0))
        .select("id_a", "id_b", F.round(F.sqrt(d2), 9).alias("dist"))
    )


@register(
    "bitmap_distinct_rollup",
    oracle="""
WITH bucketed AS (
  SELECT l_returnflag, l_partkey // 32768 AS bucket_number, l_partkey AS v
  FROM lineitem),
per_bucket AS (
  SELECT l_returnflag, bucket_number, COUNT(DISTINCT v) AS bitmap_count
  FROM bucketed GROUP BY l_returnflag, bucket_number)
SELECT l_returnflag,
       CAST(SUM(bitmap_count) AS BIGINT) AS exact_distinct,
       COUNT(*) AS n_buckets
FROM per_bucket GROUP BY l_returnflag
""",
    tags=("agg", "bitmap"),
    doc="bitmap_construct_agg/bitmap_or_agg/bitmap_count/bucket_number semantics (list_agg.go:583-606, croaring): two-level exact distinct count — bucket by v>>15 (32768 = reference bucket width), per-bucket distinct, sum. Roaring is the reference's serialization; the distributed semantics are identical.",
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Catalog(spark, sf_dir).table("lineitem")
    bucketed = l.select(
        "l_returnflag",
        (F.col("l_partkey") / 32768).cast("bigint").alias("bucket_number"),
        F.col("l_partkey").alias("v"),
    )
    per_bucket = bucketed.groupBy("l_returnflag", "bucket_number").agg(
        F.countDistinct("v").alias("bitmap_count")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum("bitmap_count").cast("bigint").alias("exact_distinct"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


@register(
    "geo_linestring_metrics",
    oracle="""
WITH c AS (
  SELECT s_suppkey,
         CAST(s_suppkey % 7 AS DOUBLE)                          AS x1,
         CAST(s_suppkey % 5 AS DOUBLE)                          AS y1,
         CAST(s_suppkey % 7 + (s_suppkey % 3 + 1) AS DOUBLE)    AS x2,
         CAST(s_suppkey % 5 + (s_suppkey % 4 + 1) AS DOUBLE)    AS y2,
         CAST(s_suppkey % 7 + (s_suppkey % 3 + 1) + 2 AS DOUBLE) AS x3,
         CAST(s_suppkey % 5 AS DOUBLE)                          AS y3
  FROM supplier WHERE s_suppkey <= 200)
SELECT s_suppkey,
       3                        AS np,
       sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))
         + sqrt((x3-x2)*(x3-x2) + (y3-y2)*(y3-y2)) AS seg_len,
       CONCAT('POINT(', CAST(x1 AS VARCHAR), ' ', CAST(y1 AS VARCHAR), ')') AS start_pt,
       CONCAT('POINT(', CAST(x3 AS VARCHAR), ' ', CAST(y3 AS VARCHAR), ')') AS end_pt,
       CASE WHEN x1 = x3 AND y1 = y3 THEN 1 ELSE 0 END AS closed,
       LEAST(x1, x2, x3)  AS env_xmin,
       GREATEST(y1, y2, y3) AS env_ymax
FROM c
""",
    tags=("geo",),
    doc=(
        "LINESTRING WKT build->parse->measure (st_linefromtext function_id.go"
        ":1245, st_numpoints :1353, st_startpoint/st_endpoint :1346-1347, "
        "st_isclosed :1354, st_length :1334, st_envelope :1359). The Spark "
        "side renders WKT text, re-parses it with st_geomfromtext, and folds "
        "segment lengths with aggregate() — index-ordered, bit-exact vs the "
        "oracle's explicit two-term sum."
    ),
)
def geo_linestring_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = Catalog(spark, sf_dir).table("supplier").filter(F.col("s_suppkey") <= 200)
    k = F.col("s_suppkey")
    x1, y1 = (k % 7).cast("double"), (k % 5).cast("double")
    x2, y2 = (k % 7 + (k % 3 + 1)).cast("double"), (k % 5 + (k % 4 + 1)).cast("double")
    x3, y3 = (k % 7 + (k % 3 + 1) + 2).cast("double"), (k % 5).cast("double")
    sp = F.lit(" ")
    wkt = F.concat(
        F.lit("LINESTRING("),
        x1.cast("string"), sp, y1.cast("string"), F.lit(", "),
        x2.cast("string"), sp, y2.cast("string"), F.lit(", "),
        x3.cast("string"), sp, y3.cast("string"), F.lit(")"),
    )
    # r12: parse once into a struct column (same staging as
    # geo_polygon_battery — the inlined parse was re-planned per metric).
    parsed = s.select("s_suppkey", G.st_geomfromtext(wkt).alias("_g"))
    g = F.col("_g")
    env = parsed.select(
        "s_suppkey", "_g", G.st_envelope_bounds(g).alias("_env")
    )
    return env.select(
        "s_suppkey",
        G.st_numpoints(g).alias("np"),
        G.st_length(g).alias("seg_len"),
        G.st_startpoint(g).alias("start_pt"),
        G.st_endpoint(g).alias("end_pt"),
        F.when(G.st_isclosed(g), 1).otherwise(0).alias("closed"),
        F.col("_env").getField("xmin").alias("env_xmin"),
        F.col("_env").getField("ymax").alias("env_ymax"),
    )


@register(
    "geo_polygon_battery",
    oracle="""
WITH d AS (
  SELECT c_custkey,
         CAST(c_custkey % 10 AS DOUBLE)    AS cx,
         CAST(c_custkey % 7 AS DOUBLE)     AS cy,
         CAST(c_custkey % 3 + 2 AS DOUBLE) AS r
  FROM customer WHERE c_custkey <= 300)
SELECT c_custkey,
       CAST(2 * r * r AS DOUBLE) AS area,
       CONCAT('POINT(', CAST(cx AS VARCHAR), ' ', CAST(cy AS VARCHAR), ')') AS centroid,
       CASE WHEN (ABS(CAST(c_custkey % 5 AS DOUBLE) - 1.25) + 0.875) < r
            THEN 1 ELSE 0 END AS probe_inside,
       cx - r AS env_xmin, cy + r AS env_ymax,
       5 AS ring_points
FROM d
""",
    tags=("geo",),
    doc=(
        "POLYGON WKT build->parse->measure on a diamond ring (st_polyfromtext "
        "function_id.go:1247, st_area :1335, st_centroid :1360, st_contains "
        ":1336, st_envelope :1359). Diamond centered (cx,cy) radius r: "
        "shoelace area is exactly 2r² and the centroid is the center, so the "
        "oracle states closed forms while Spark runs the general aggregate() "
        "folds; ray-casting containment is gated against the diamond's L1 "
        "inequality with probe points chosen off the boundary."
    ),
)
def geo_polygon_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 300)
    k = F.col("c_custkey")
    cx, cy = (k % 10).cast("double"), (k % 7).cast("double")
    r = (k % 3 + 2).cast("double")
    sp, cm = F.lit(" "), F.lit(", ")
    wkt = F.concat(
        F.lit("POLYGON(("),
        (cx + r).cast("string"), sp, cy.cast("string"), cm,
        cx.cast("string"), sp, (cy + r).cast("string"), cm,
        (cx - r).cast("string"), sp, cy.cast("string"), cm,
        cx.cast("string"), sp, (cy - r).cast("string"), cm,
        (cx + r).cast("string"), sp, cy.cast("string"),
        F.lit("))"),
    )
    # r12: parse once into a struct column, then compute the six metrics from
    # the column reference — the inlined form re-planned the WKT parse per
    # metric (and the envelope twice), bloating the expression tree
    # (census: 2.8 s warm for 300 rows; same staging win as
    # geo_polygon_predicates). Results oracle-gated, unchanged.
    px = cx + (k % 5).cast("double") - 1.25
    py = cy + 0.875
    parsed = c.select(
        "c_custkey",
        G.st_geomfromtext(wkt).alias("_g"),
        px.alias("_px"),
        py.alias("_py"),
    )
    g = F.col("_g")
    env = parsed.select(
        "c_custkey",
        "_g",
        "_px",
        "_py",
        G.st_envelope_bounds(g).alias("_env"),
    )
    return env.select(
        "c_custkey",
        G.st_area(g).alias("area"),
        G.st_centroid(g).alias("centroid"),
        F.when(G.st_contains_point(g, F.col("_px"), F.col("_py")), 1)
        .otherwise(0)
        .alias("probe_inside"),
        F.col("_env").getField("xmin").alias("env_xmin"),
        F.col("_env").getField("ymax").alias("env_ymax"),
        G.st_numpoints(g).alias("ring_points"),
    )


@register(
    "geo_sphere_distance",
    oracle="""
WITH p AS (
  SELECT c_custkey, c_nationkey,
         CAST((c_custkey % 720) AS DOUBLE) / 2.0 - 179.5  AS lon1,
         CAST((c_custkey % 340) AS DOUBLE) / 2.0 - 84.5   AS lat1,
         CAST((c_nationkey % 720) AS DOUBLE) / 2.0 - 179.0 AS lon2,
         CAST((c_nationkey % 340) AS DOUBLE) / 2.0 - 84.0  AS lat2
  FROM customer WHERE c_custkey <= 500)
SELECT c_custkey,
       ROUND(2.0 * ASIN(SQRT(
           SIN((RADIANS(lat2) - RADIANS(lat1))/2) * SIN((RADIANS(lat2) - RADIANS(lat1))/2)
         + COS(RADIANS(lat1)) * COS(RADIANS(lat2))
           * SIN((RADIANS(lon2) - RADIANS(lon1))/2) * SIN((RADIANS(lon2) - RADIANS(lon1))/2)
       )) * 6371008.8, 3) AS dist_m
FROM p
""",
    tags=("geo",),
    doc=(
        "ST_Distance_Sphere (func_binary.go:9142 stDistanceSphere; "
        "pkg/geo/geodetic.go:205 DistanceMeters = S2 chord angle × "
        "EarthRadiusMeters 6371008.8): haversine great-circle meters between "
        "WKT points built from customer/nation-derived lon/lat (exact binary "
        "fractions so WKT text round-trips losslessly). ROUND 3 (mm) absorbs "
        "libm-vs-JVM transcendental ULP drift."
    ),
)
def geo_sphere_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 500)
    k, nk = F.col("c_custkey"), F.col("c_nationkey")
    lon1 = (k % 720).cast("double") / 2.0 - 179.5
    lat1 = (k % 340).cast("double") / 2.0 - 84.5
    lon2 = (nk % 720).cast("double") / 2.0 - 179.0
    lat2 = (nk % 340).cast("double") / 2.0 - 84.0
    sp = F.lit(" ")
    p1 = F.concat(F.lit("POINT("), lon1.cast("string"), sp, lat1.cast("string"), F.lit(")"))
    p2 = F.concat(F.lit("POINT("), lon2.cast("string"), sp, lat2.cast("string"), F.lit(")"))
    return c.select(
        "c_custkey",
        F.round(G.st_distance_sphere(p1, p2), 3).alias("dist_m"),
    )


@register(
    "geo_mbr_battery",
    oracle="""
WITH d AS (
  SELECT c_custkey,
         CAST(c_custkey % 9 AS DOUBLE)      AS ax0,
         CAST(c_custkey % 6 AS DOUBLE)      AS ay0,
         CAST(c_custkey % 9 + (c_custkey % 4) + 1 AS DOUBLE) AS ax1,
         CAST(c_custkey % 6 + (c_custkey % 3) + 1 AS DOUBLE) AS ay1,
         CAST(c_custkey % 5 AS DOUBLE)      AS bx0,
         CAST(c_custkey % 7 AS DOUBLE)      AS by0,
         CAST(c_custkey % 5 + (c_custkey % 6) + 1 AS DOUBLE) AS bx1,
         CAST(c_custkey % 7 + (c_custkey % 2) + 1 AS DOUBLE) AS by1
  FROM customer WHERE c_custkey <= 400)
SELECT c_custkey,
  CASE WHEN ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1 THEN 1 ELSE 0 END AS a_within_b,
  CASE WHEN bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1 THEN 1 ELSE 0 END AS a_contains_b,
  CASE WHEN ax1 < bx0 OR bx1 < ax0 OR ay1 < by0 OR by1 < ay0 THEN 1 ELSE 0 END AS disjoint,
  CASE WHEN NOT (ax1 < bx0 OR bx1 < ax0 OR ay1 < by0 OR by1 < ay0) THEN 1 ELSE 0 END AS intersects,
  CASE WHEN ax0 = bx0 AND ax1 = bx1 AND ay0 = by0 AND ay1 = by1 THEN 1 ELSE 0 END AS equals_,
  CASE WHEN NOT (ax1 < bx0 OR bx1 < ax0 OR ay1 < by0 OR by1 < ay0)
        AND (LEAST(ax1, bx1) - GREATEST(ax0, bx0) = 0
          OR LEAST(ay1, by1) - GREATEST(ay0, by0) = 0) THEN 1 ELSE 0 END AS touches,
  CASE WHEN LEAST(ax1, bx1) - GREATEST(ax0, bx0) > 0
        AND LEAST(ay1, by1) - GREATEST(ay0, by0) > 0
        AND NOT (ax0 >= bx0 AND ax1 <= bx1 AND ay0 >= by0 AND ay1 <= by1)
        AND NOT (bx0 >= ax0 AND bx1 <= ax1 AND by0 >= ay0 AND by1 <= ay1)
       THEN 1 ELSE 0 END AS overlaps_
FROM d
""",
    tags=("geo",),
    doc=(
        "MBR relation family (function_id.go:1306-1325 mbrcontains/within/"
        "disjoint/intersects/equals/touches/overlaps) as pure envelope "
        "inequalities (functions/geo.py) — the index-pruning predicates; "
        "envelopes derived from customer keys so every relation fires on "
        "some rows."
    ),
)
def geo_mbr_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 400)
    k = F.col("c_custkey")
    box_a = F.struct(
        (k % 9).cast("double").alias("xmin"),
        (k % 6).cast("double").alias("ymin"),
        (k % 9 + (k % 4) + 1).cast("double").alias("xmax"),
        (k % 6 + (k % 3) + 1).cast("double").alias("ymax"),
    )
    box_b = F.struct(
        (k % 5).cast("double").alias("xmin"),
        (k % 7).cast("double").alias("ymin"),
        (k % 5 + (k % 6) + 1).cast("double").alias("xmax"),
        (k % 7 + (k % 2) + 1).cast("double").alias("ymax"),
    )
    as_int = lambda col: F.when(col, 1).otherwise(0)
    return c.select(
        "c_custkey",
        as_int(G.mbr_within(box_a, box_b)).alias("a_within_b"),
        as_int(G.mbr_contains_box(box_a, box_b)).alias("a_contains_b"),
        as_int(G.mbr_disjoint(box_a, box_b)).alias("disjoint"),
        as_int(G.mbr_intersects(box_a, box_b)).alias("intersects"),
        as_int(G.mbr_equals(box_a, box_b)).alias("equals_"),
        as_int(G.mbr_touches(box_a, box_b)).alias("touches"),
        as_int(G.mbr_overlaps(box_a, box_b)).alias("overlaps_"),
    )


@register(
    "geo_geohash",
    oracle=None,  # no geohash in DuckDB; known-vector + roundtrip gates in tests/test_geo.py
    tags=("geo", "udf"),
    doc=(
        "Geohash encode/decode family (function_id.go:1278-1281 st_geohash/"
        "st_latfromgeohash/st_longfromgeohash/st_pointfromgeohash): "
        "Arrow-batched bisection codec; shared prefixes = spatial buckets "
        "(the geo-join bucketing key at scale). Gated by canonical public "
        "vectors (u4pruydqqvj / ezs42) and encode(decode(gh)) == gh."
    ),
)
def geo_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 500)
    k = F.col("c_custkey")
    lon = (k % 720).cast("double") / 2.0 - 179.5
    lat = (k % 340).cast("double") / 2.0 - 84.5
    gh = G.st_geohash(lon, lat, 9)
    return c.select(
        "c_custkey",
        gh.alias("gh"),
        G.st_longfromgeohash(gh).alias("cell_lon"),
        G.st_latfromgeohash(gh).alias("cell_lat"),
        F.substring(gh, 1, 4).alias("bucket4"),
    )


@register(
    "geo_polygon_predicates",
    oracle="""
WITH geo AS (
  SELECT a.n_nationkey AS ak, b.n_nationkey AS bk,
         CAST(a.n_nationkey % 7 AS DOUBLE)                       AS ax0,
         CAST(a.n_nationkey % 5 AS DOUBLE)                       AS ay0,
         CAST(a.n_nationkey % 7 + a.n_nationkey % 4 + 1 AS DOUBLE) AS ax1,
         CAST(a.n_nationkey % 5 + a.n_nationkey % 3 + 1 AS DOUBLE) AS ay1,
         CAST(b.n_nationkey % 6 AS DOUBLE) + 0.25                AS cx,
         CAST(b.n_nationkey % 4 AS DOUBLE) + 0.25                AS cy,
         CAST(b.n_nationkey % 3 + 1 AS DOUBLE)                   AS r
  FROM nation a CROSS JOIN nation b)
SELECT ak, bk,
       CAST((GREATEST(ax0 - cx, cx - ax1, 0) + GREATEST(ay0 - cy, cy - ay1, 0)) <= r AS INT) AS intersects,
       CAST((ax0 < cx - r AND cx + r < ax1 AND ay0 < cy - r AND cy + r < ay1) AS INT)        AS a_contains_b,
       CAST((ABS(ax0 - cx) + ABS(ay0 - cy) < r AND ABS(ax1 - cx) + ABS(ay0 - cy) < r AND
             ABS(ax0 - cx) + ABS(ay1 - cy) < r AND ABS(ax1 - cx) + ABS(ay1 - cy) < r) AS INT) AS b_contains_a,
       CAST(NOT ((GREATEST(ax0 - cx, cx - ax1, 0) + GREATEST(ay0 - cy, cy - ay1, 0)) <= r) AS INT) AS disjoint
FROM geo
""",
    tags=("geo",),
    doc=(
        "REAL polygon-polygon predicates (pkg/geo/ st_intersects/st_contains/"
        "st_within/st_disjoint beyond MBR): Spark runs the GENERAL machinery "
        "— WKT parse, segment-orientation intersection tests, ray-cast "
        "containment (functions/geo.py st_intersects/st_contains) — over "
        "625 rectangle×diamond pairs, while the oracle recomputes the truth "
        "independently via interval/L1-ball arithmetic (valid only for these "
        "shapes). Fractional diamond centers (+0.25) guarantee no "
        "boundary-degenerate cases; touch/collinear semantics are covered by "
        "tests/test_geo_polygon.py."
    ),
)
def geo_polygon_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = Catalog(spark, sf_dir).table("nation").select("n_nationkey")
    a = n.select(F.col("n_nationkey").alias("ak"))
    b = n.select(F.col("n_nationkey").alias("bk"))
    ak, bk = F.col("ak"), F.col("bk")
    pairs = a.crossJoin(F.broadcast(b)).select(
        "ak",
        "bk",
        (ak % 7).cast("double").alias("ax0"),
        (ak % 5).cast("double").alias("ay0"),
        (ak % 7 + ak % 4 + 1).cast("double").alias("ax1"),
        (ak % 5 + ak % 3 + 1).cast("double").alias("ay1"),
        ((bk % 6).cast("double") + 0.25).alias("cx"),
        ((bk % 4).cast("double") + 0.25).alias("cy"),
        (bk % 3 + 1).cast("double").alias("r"),
    )
    cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
    sp, cm = F.lit(" "), F.lit(", ")

    def _n(c):
        return c.cast("string")

    diamond_wkt = F.concat(
        F.lit("POLYGON(("),
        _n(cx + r), sp, _n(cy), cm,
        _n(cx), sp, _n(cy + r), cm,
        _n(cx - r), sp, _n(cy), cm,
        _n(cx), sp, _n(cy - r), cm,
        _n(cx + r), sp, _n(cy),
        F.lit("))"),
    )
    # r12: stage the computation so each heavy geometry primitive is planned
    # ONCE. The naive form (st_intersects + st_contains + st_within +
    # st_disjoint, each re-inlining the WKT parse, segment expansion and
    # orientation tests) built a near-megabyte expression tree: planning +
    # codegen dominated (census: 7.5 s warm for 625 rows; interleaved A/B:
    # executor-run-time 1461 ms -> 125 ms, 12x, after staging). Three
    # projections: parse -> shared primitives (symmetric edge test, the four
    # containment probes) -> predicate assembly from boolean columns. The
    # predicates over two POLYGON inputs reduce exactly to these primitives
    # (point branches of st_intersects are NULL for polygon gtypes and fall
    # through to the polygon case; _edges_intersect is symmetric, so
    # st_within's edge test equals st_contains's) — results proven
    # bit-identical vs the unstaged form and the oracle.
    parsed = pairs.select(
        "ak",
        "bk",
        G.st_geomfromtext(
            G.st_makeenvelope(F.col("ax0"), F.col("ay0"), F.col("ax1"), F.col("ay1"))
        ).alias("_ga"),
        G.st_geomfromtext(diamond_wkt).alias("_gb"),
    )
    ga, gb = F.col("_ga"), F.col("_gb")
    pa, pb = F.element_at(ga["pts"], 1), F.element_at(gb["pts"], 1)
    prims = parsed.select(
        "ak",
        "bk",
        G._edges_intersect(ga, gb).alias("_edge"),
        G.st_contains_point(gb, pa["x"], pa["y"]).alias("_a0_in_b"),
        G.st_contains_point(ga, pb["x"], pb["y"]).alias("_b0_in_a"),
        F.forall(gb["pts"], lambda p: G.st_contains_point(ga, p["x"], p["y"])).alias("_all_b_in_a"),
        F.forall(ga["pts"], lambda p: G.st_contains_point(gb, p["x"], p["y"])).alias("_all_a_in_b"),
    )
    inter = F.col("_edge") | F.col("_a0_in_b") | F.col("_b0_in_a")
    return prims.select(
        "ak",
        "bk",
        inter.cast("int").alias("intersects"),
        (F.col("_all_b_in_a") & ~F.col("_edge")).cast("int").alias("a_contains_b"),
        (F.col("_all_a_in_b") & ~F.col("_edge")).cast("int").alias("b_contains_a"),
        (~inter).cast("int").alias("disjoint"),
    )


@register(
    "geo_s2_battery",
    oracle="""
SELECT s_suppkey,
       30                   AS leaf_level,
       8                    AS parent_level,
       4                    AS n_edge,
       CAST(1 AS BOOLEAN)   AS nbr_mutual,
       CAST(0 AS BOOLEAN)   AS self_nbr,
       CAST(1 AS BOOLEAN)   AS center_in_cell,
       CAST(1 AS BOOLEAN)   AS area_monotone
FROM supplier WHERE s_suppkey <= 200
""",
    tags=("geo", "s2", "udf"),
    doc=(
        "S2 cell-id family (func_s2h3.go:300-417 s2_cellid/level/parent/"
        "center/area/edgeneighbors/areneighbors; clean-room implementation "
        "of the published s2geometry algorithm, functions/s2cell.py). The "
        "oracle checks the same structural invariants the reference's own "
        "BVT does (geo/geo_s2h3.sql): leaf level 30, parent level, 4 edge "
        "neighbors, neighbor mutuality, self-not-neighbor, center re-encodes "
        "into the same cell, coarser parent has larger area. The golden-"
        "vector float parity gate lives in tests/test_s2cell.py. Scale: "
        "parent cell ids are the geo-join bucketing key at 100 TB."
    ),
)
def geo_s2_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import s2cell as S2

    s = Catalog(spark, sf_dir).table("supplier").filter(F.col("s_suppkey") <= 200)
    k = F.col("s_suppkey")
    lon = (k % 720).cast("double") / 2.0 - 179.5
    lat = (k % 340).cast("double") / 2.0 - 84.5
    base = s.select(
        "s_suppkey",
        S2.s2_cellid(lon, lat).alias("leaf"),
        lon.alias("lon"),
        lat.alias("lat"),
    )
    base = base.withColumn("p8", S2.s2_cellid_parent(F.col("leaf"), 8))
    base = base.withColumn("p5", S2.s2_cellid_parent(F.col("leaf"), 5))
    base = base.withColumn("center", S2.s2_cellid_center_wkt(F.col("leaf")))
    base = base.withColumn("nbrs", S2.s2_cellid_edgeneighbors(F.col("p8")))
    first_nbr = F.get_json_object(F.col("nbrs"), "$[0]").cast("decimal(20,0)")
    clon = F.regexp_extract(F.col("center"), r"POINT\(([-0-9.eE]+) ([-0-9.eE]+)\)", 1).cast("double")
    clat = F.regexp_extract(F.col("center"), r"POINT\(([-0-9.eE]+) ([-0-9.eE]+)\)", 2).cast("double")
    return base.select(
        "s_suppkey",
        S2.s2_cellid_level(F.col("leaf")).alias("leaf_level"),
        S2.s2_cellid_level(F.col("p8")).alias("parent_level"),
        F.json_array_length(F.col("nbrs")).alias("n_edge"),
        S2.s2_cellid_areneighbors(first_nbr, F.col("p8")).alias("nbr_mutual"),
        S2.s2_cellid_areneighbors(F.col("p8"), F.col("p8")).alias("self_nbr"),
        (S2.s2_cellid_parent(S2.s2_cellid(clon, clat), 8) == F.col("p8")).alias("center_in_cell"),
        (S2.s2_cellid_area(F.col("p5")) > S2.s2_cellid_area(F.col("p8"))).alias("area_monotone"),
    )


@register(
    "geo_s2_bucket_join",
    oracle="""
WITH p AS (
  SELECT c_custkey AS id,
         CAST((c_custkey % 720) AS DOUBLE) / 2.0 - 179.5 AS lon,
         CAST((c_custkey % 340) AS DOUBLE) / 2.0 - 84.5  AS lat
  FROM customer WHERE c_custkey <= 2000)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(2.0 * ASIN(SQRT(
           SIN((RADIANS(b.lat) - RADIANS(a.lat))/2) * SIN((RADIANS(b.lat) - RADIANS(a.lat))/2)
         + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
           * SIN((RADIANS(b.lon) - RADIANS(a.lon))/2) * SIN((RADIANS(b.lon) - RADIANS(a.lon))/2)
       )) * 6371008.8, 3) AS dist_m
FROM p a JOIN p b ON a.id < b.id
WHERE ROUND(2.0 * ASIN(SQRT(
           SIN((RADIANS(b.lat) - RADIANS(a.lat))/2) * SIN((RADIANS(b.lat) - RADIANS(a.lat))/2)
         + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
           * SIN((RADIANS(b.lon) - RADIANS(a.lon))/2) * SIN((RADIANS(b.lon) - RADIANS(a.lon))/2)
       )) * 6371008.8, 3) <= 120000.0
""",
    tags=("geo", "s2", "join"),
    doc=(
        "S2-bucketed spatial distance join — THE 100 TB geo-join shape: "
        "points bucket by level-5 parent cell, one side expands to its cell "
        "+ all neighbors (s2_cellid_allneighbors handles cube-face wrap), "
        "candidates come from a plain equi-join on the cell id (shuffle on "
        "a bounded key, no cross join), exact haversine verifies inside. "
        "Coverage is sound because the 120 km radius is below the level-5 "
        "minimum cell width (~187 km); the oracle PROVES it by brute-force "
        "distance join over all pairs — a missed pair fails the row gate. "
        "Antimeridian pairs exercise the S2 wrap path on one side and "
        "haversine's sin² symmetry on the other."
    ),
)
def geo_s2_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import s2cell as S2

    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 2000)
    k = F.col("c_custkey")
    pts = c.select(
        k.alias("id"),
        ((k % 720).cast("double") / 2.0 - 179.5).alias("lon"),
        ((k % 340).cast("double") / 2.0 - 84.5).alias("lat"),
    )
    # ONE fused mapInArrow pass: vectorized-numpy cell id + per-distinct-cell
    # neighbor sets (s2cell.with_s2_buckets docstring has the design)
    pts = S2.with_s2_buckets(pts, "lon", "lat", "cell", "buckets", level=5)
    expanded = pts.select(
        F.col("id").alias("id_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        F.explode("buckets").alias("bucket"),
    )
    a = pts.select(
        F.col("id").alias("id_a"), F.col("lon").alias("lon_a"), F.col("lat").alias("lat_a"),
        F.col("cell").alias("bucket"),
    )
    sp = F.lit(" ")
    wa = F.concat(F.lit("POINT("), F.col("lon_a").cast("string"), sp, F.col("lat_a").cast("string"), F.lit(")"))
    wb = F.concat(F.lit("POINT("), F.col("lon_b").cast("string"), sp, F.col("lat_b").cast("string"), F.lit(")"))
    dist = F.round(G.st_distance_sphere(wa, wb), 3)
    return (
        a.join(expanded, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= 120000.0)
        .select("id_a", "id_b", "dist_m")
    )


@register(
    "geo_s2_join_bench",
    oracle=None,  # perf entry: SF-scaling input; correctness of the identical
    # plan shape is oracle-proven by geo_s2_bucket_join's brute-force gate
    tags=("geo", "s2", "join", "bench"),
    doc=(
        "SF-scaling S2-bucketed spatial distance join (same plan shape as "
        "geo_s2_bucket_join, whole customer table instead of the capped "
        "oracle slice): level-5 cell + neighbor expansion, equi-join on the "
        "cell id, exact haversine verify, aggregated to one row so the "
        "bench measures the join, not result transfer. This records the "
        "100 TB geo-join shape's throughput per round."
    ),
)
def geo_s2_join_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import s2cell as S2

    # ONE fused mapInArrow pass (cell id + neighbor buckets, round-5): the
    # cold path pays a single Python-worker launch on the scan's natural
    # partitioning; the bucket equi-join's shuffle then spreads the verify
    # across all cores. Both join branches read the same persisted frame.
    # Session cache keyed by sf_dir — at 100 TB this is the table you'd
    # write out partitioned by cell; persisting the annotated points is the
    # in-session analogue. Built lazily: a warm cache hit skips the pts +
    # S2-bucket plan construction entirely (~500 py4j calls).
    def _build() -> DataFrame:
        c = Catalog(spark, sf_dir).table("customer")
        k = F.col("c_custkey")
        # sf0.1 customer is one small parquet split; spread it so the cell
        # math and the verify run on all cores (at real scale the scan is
        # already partitioned and the shuffle keys this by cell anyway)
        pts = c.select(
            k.alias("id"),
            ((k % 720).cast("double") / 2.0 - 179.5).alias("lon"),
            ((k % 340).cast("double") / 2.0 - 84.5).alias("lat"),
        )
        return S2.with_s2_buckets(pts, "lon", "lat", "cell", "buckets", level=5).persist()

    base = cached(spark, "s2_base", sf_dir, _build)
    expanded = base.select(
        F.col("id").alias("id_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        F.explode("buckets").alias("bucket"),
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("lon").alias("lon_a"), F.col("lat").alias("lat_a"),
        F.col("cell").alias("bucket"),
    )
    # haversine on raw lon/lat columns — pure codegen math in the verify, no
    # WKT string round-trip on the candidate set. SQL strings (r13 guide §5
    # driver work — one parse call instead of ~60 py4j round-trips; the `D`
    # suffixes keep every non-integral literal a DOUBLE, matching the old
    # F.lit floats — bare `2.0` parses as DECIMAL in Spark SQL).
    la1, la2 = "radians(lat_a)", "radians(lat_b)"
    dlat = f"({la2} - {la1})"
    dlon = "(radians(lon_b) - radians(lon_a))"
    h = (
        f"(sin({dlat} / 2) * sin({dlat} / 2)"
        f" + cos({la1}) * cos({la2}) * sin({dlon} / 2) * sin({dlon} / 2))"
    )
    # (asin(..) * 2.0) keeps the old Column form's operand order (Python's
    # `2.0 * col` went through __rmul__) so the plan stays byte-identical
    dist = f"((asin(sqrt({h})) * 2.0D) * {G.EARTH_RADIUS_M!r}D)"
    return (
        a.join(expanded, "bucket")
        .filter("id_a < id_b")
        .withColumn("dist_m", F.expr(dist))
        .filter("dist_m <= 120000.0D")
        .agg(
            F.expr("count(1) AS n_pairs"),
            F.expr("round(sum(dist_m) / 1000.0D, 0) AS sum_km"),
        )
    )


@register(
    "geo_h3_battery",
    oracle="""
SELECT s_suppkey,
       15                   AS leaf_res,
       7                    AS r7_res,
       6                    AS parent_res,
       3                    AS parent3_res,
       6                    AS n_nbrs,
       6                    AS n_boundary,
       CAST(1 AS BOOLEAN)   AS nbr_mutual,
       CAST(0 AS BOOLEAN)   AS self_nbr,
       CAST(1 AS BOOLEAN)   AS center_in_cell
FROM supplier WHERE s_suppkey <= 200
""",
    tags=("geo", "h3", "udf"),
    doc=(
        "H3 cell-index family (func_s2h3.go:425-616 h3_h3index/resolution/"
        "center/boundary/parent/neighbo(u)rs/areneighbo(u)rs; clean-room "
        "implementation of the published H3 algorithm, functions/h3cell.py "
        "— face tables derived + asserted at import). The oracle checks the "
        "same structural invariants the reference's own BVT does "
        "(geo/geo_s2h3.sql H3 section): default res 15, explicit res, "
        "parent resolutions, 6 neighbours, neighbour mutuality, "
        "self-not-neighbour, 6 boundary vertices, center re-encodes into "
        "the same cell. Bit-exact index + golden center parity gates live "
        "in tests/test_h3cell.py. Scale: H3 parents are a geo-join "
        "bucketing key exactly like the S2 path."
    ),
)
def geo_h3_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import h3cell as H3

    s = Catalog(spark, sf_dir).table("supplier").filter(F.col("s_suppkey") <= 200)
    k = F.col("s_suppkey")
    lon = (k % 720).cast("double") / 2.0 - 179.5
    lat = (k % 340).cast("double") / 2.0 - 84.5
    base = s.select(
        "s_suppkey",
        H3.h3_h3index(lon, lat).alias("leaf"),
        H3.h3_h3index(lon, lat, 7).alias("r7"),
        lon.alias("lon"),
        lat.alias("lat"),
    )
    base = base.withColumn("p6", H3.h3_h3index_parent(F.col("r7")))
    base = base.withColumn("p3", H3.h3_h3index_parent(F.col("r7"), 3))
    base = base.withColumn("center", H3.h3_h3index_center_wkt(F.col("r7")))
    base = base.withColumn("nbrs", H3.h3_h3index_neighbors(F.col("r7")))
    base = base.withColumn("bnd", H3.h3_h3index_boundary_wkt(F.col("r7")))
    first_nbr = F.get_json_object(F.col("nbrs"), "$[0]").cast("decimal(20,0)")
    clon = F.regexp_extract(F.col("center"), r"POINT\(([-0-9.eE]+) ([-0-9.eE]+)\)", 1).cast("double")
    clat = F.regexp_extract(F.col("center"), r"POINT\(([-0-9.eE]+) ([-0-9.eE]+)\)", 2).cast("double")
    n_boundary = F.size(F.split(F.regexp_replace(F.col("bnd"), r"^MULTIPOINT\(|\)$", ""), ","))
    return base.select(
        "s_suppkey",
        H3.h3_h3index_resolution(F.col("leaf")).alias("leaf_res"),
        H3.h3_h3index_resolution(F.col("r7")).alias("r7_res"),
        H3.h3_h3index_resolution(F.col("p6")).alias("parent_res"),
        H3.h3_h3index_resolution(F.col("p3")).alias("parent3_res"),
        F.json_array_length(F.col("nbrs")).alias("n_nbrs"),
        n_boundary.alias("n_boundary"),
        H3.h3_h3index_areneighbors(first_nbr, F.col("r7")).alias("nbr_mutual"),
        H3.h3_h3index_areneighbors(F.col("r7"), F.col("r7")).alias("self_nbr"),
        (H3.h3_h3index(clon, clat, 7) == F.col("r7")).alias("center_in_cell"),
    )
