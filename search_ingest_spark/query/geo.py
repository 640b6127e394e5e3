"""geo_point query support (SURVEY §2 mapped-type parity).

The reference maps geo_point fields into ES (schemas.cr:211-222), whose
index serves geo_distance / bounding-box filter queries.  Here those
are filter-context predicates over the doc_attrs table (query/wand.py
Searcher.topk attr_where): Catalyst evaluates the filter JVM-side in
one job over a partition-pruned, predicate-pushed attrs scan, and the
qualifying doc ids mask the WAND candidates per shard, like every other
filtered query.  df/avgdl stay whole-index, exactly like ES.

Float caveat: haversine uses transcendental functions, so engine-to-
engine (JVM Math vs libm) results can differ in the last ulp — a filter
radius should not be chosen adversarially close to a document's true
distance.  The bounding-box filter is exact (pure comparisons).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def haversine_km(
    lat_col: str | Column, lon_col: str | Column, lat: float, lon: float,
) -> Column:
    """Great-circle distance (km) from each row's (lat_col, lon_col) to
    the fixed point (lat, lon) — all JVM-side Catalyst."""
    rlat1 = F.radians(F.col(lat_col) if isinstance(lat_col, str) else lat_col)
    rlon1 = F.radians(F.col(lon_col) if isinstance(lon_col, str) else lon_col)
    rlat2 = F.lit(math.radians(lat))
    rlon2 = F.lit(math.radians(lon))
    # fixed-point cos precomputed in Python so both engines see the
    # same literal (one fewer transcendental to diverge on)
    cos2 = F.lit(math.cos(math.radians(lat)))
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * cos2 * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def geo_distance_filter(
    lat_col: str, lon_col: str, lat: float, lon: float, radius_km: float,
) -> Column:
    """ES geo_distance query: rows within radius_km of (lat, lon)."""
    return haversine_km(lat_col, lon_col, lat, lon) <= F.lit(float(radius_km))


def geo_bbox_filter(
    lat_col: str, lon_col: str,
    lat_min: float, lat_max: float, lon_min: float, lon_max: float,
) -> Column:
    """ES geo_bounding_box query — pure comparisons, bit-exact across
    engines."""
    return (
        (F.col(lat_col) >= F.lit(lat_min)) & (F.col(lat_col) <= F.lit(lat_max))
        & (F.col(lon_col) >= F.lit(lon_min)) & (F.col(lon_col) <= F.lit(lon_max))
    )


def haversine_sql(lat_col: str, lon_col: str, lat: float, lon: float) -> str:
    """The DuckDB-side rendering of haversine_km with the SAME operation
    order, for oracle SQL strings."""
    rlat2 = repr(math.radians(lat))
    rlon2 = repr(math.radians(lon))
    cos2 = repr(math.cos(math.radians(lat)))
    return (
        f"(2.0 * {EARTH_RADIUS_KM!r}) * asin(sqrt("
        f"pow(sin(({rlat2} - radians({lat_col})) / 2), 2)"
        f" + cos(radians({lat_col})) * {cos2}"
        f" * pow(sin(({rlon2} - radians({lon_col})) / 2), 2)))"
    )
