"""Spatial join J1 (SURVEY.md §2.3): point-in-polygon waterBody lookup.

The reference does ``gpd.sjoin(points, oceans, how='left',
predicate='intersects')`` then overwrites ``waterBody`` with the joined
ocean name (reference ``whalefinder/cleaner.py:194-212``).

Spark-first design: the ocean table is dimension-sized (GOaS v1 has 9
polygons), so this is a **broadcast nested-loop join with a vectorized
predicate** — the polygon rings ride to every executor as a broadcast
variable and an Arrow-batched pandas UDF ray-casts each batch of points
with numpy. The fact side never shuffles; cost is O(rows × vertices)
map-side, which holds at 100 TB. A point on a polygon's edge or vertex
matches it, as under the reference's ``intersects`` predicate (SURVEY
§7.3.5).

Multi-match policy: first polygon in table order wins (GOaS oceans are
non-overlapping, so at most one matches in practice).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whale_sightings_spark.schemas import OCEAN_POLYGON_SCHEMA


def parse_wkt_polygon(wkt: str) -> list[tuple[float, float]]:
    """Parse a simple (hole-free) ``POLYGON ((x y, x y, ...))`` ring."""
    m = re.search(r"\(\(([^()]*)\)\)", wkt)
    if not m:
        raise ValueError(f"not a simple WKT polygon: {wkt[:80]}")
    return [
        (float(x), float(y))
        for x, y in (p.strip().split()[:2] for p in m.group(1).split(","))
    ]


def oceans_from_wkt(
    spark: SparkSession, named_wkt: list[tuple[str, str]]
) -> DataFrame:
    """Build the ocean polygon dim table from (name, WKT) pairs (S10 —
    the engine-native form of the reference's shapefile load,
    cleaner.py:18-27)."""
    rows = [
        (name, [{"lon": x, "lat": y} for x, y in parse_wkt_polygon(wkt)])
        for name, wkt in named_wkt
    ]
    return spark.createDataFrame(rows, OCEAN_POLYGON_SCHEMA)


def read_shp_polygons(path: str) -> list[list[tuple[float, float]]]:
    """Minimal pure-Python ESRI shapefile reader for POLYGON (type 5)
    records — the missing native path for the reference's
    ``gpd.read_file('goas_v01.shp')`` (cleaner.py:18-27), built from
    the public ESRI shapefile whitepaper. Returns each record's OUTER
    ring (the first part; ESRI ring order puts holes after it) as
    (lon, lat) tuples — exactly `parse_wkt_polygon`'s output form, so
    both loaders feed the same dim-table builder. Raises ValueError on
    anything that is not a well-formed polygon shapefile."""
    import struct

    with open(path, "rb") as f:
        b = f.read()
    if len(b) < 100 or struct.unpack(">i", b[0:4])[0] != 9994:
        raise ValueError("not a shapefile (bad file code)")
    shape_type = struct.unpack("<i", b[32:36])[0]
    if shape_type != 5:
        raise ValueError(f"not a polygon shapefile (type {shape_type})")
    rings: list[list[tuple[float, float]]] = []
    pos = 100
    while pos + 8 <= len(b):
        _recno, clen = struct.unpack(">ii", b[pos : pos + 8])
        content = b[pos + 8 : pos + 8 + 2 * clen]
        pos += 8 + 2 * clen
        st = struct.unpack("<i", content[0:4])[0]
        if st == 0:  # null shape — legal placeholder record
            continue
        if st != 5:
            raise ValueError(f"mixed shape type {st} in polygon file")
        num_parts, num_points = struct.unpack("<ii", content[36:44])
        parts = struct.unpack(
            f"<{num_parts}i", content[44 : 44 + 4 * num_parts]
        )
        off = 44 + 4 * num_parts
        xy = struct.unpack(
            f"<{2 * num_points}d", content[off : off + 16 * num_points]
        )
        pts = list(zip(xy[0::2], xy[1::2]))
        end = parts[1] if num_parts > 1 else num_points
        rings.append(pts[parts[0] : end])
    return rings


def read_dbf_strings(path: str, field: str | None = None) -> list[str]:
    """Minimal dBASE III (.dbf) reader for ONE character column — the
    attribute sidecar where a shapefile keeps its polygon names (GOaS:
    the ocean name field). ``field=None`` takes the first character
    field. Deleted rows (flag ``*``) are skipped, values are
    right-trimmed, bytes decode latin-1 (dBASE's 8-bit legacy)."""
    import struct

    with open(path, "rb") as f:
        b = f.read()
    n_rec, hdr_len, rec_len = struct.unpack("<IHH", b[4:12])
    fields = []  # (name, type, offset_in_record, length)
    off, rec_off = 32, 1  # record byte 0 is the deletion flag
    while off < hdr_len - 1 and b[off] != 0x0D:
        name = b[off : off + 11].split(b"\x00")[0].decode("latin-1")
        ftype = chr(b[off + 11])
        flen = b[off + 16]
        fields.append((name, ftype, rec_off, flen))
        rec_off += flen
        off += 32
    want = [
        f for f in fields if f[1] == "C" and (field is None or f[0] == field)
    ]
    if not want:
        raise ValueError(f"no character field {field!r} in {path}")
    name, _t, foff, flen = want[0]
    out = []
    for i in range(n_rec):
        rec = b[hdr_len + i * rec_len : hdr_len + (i + 1) * rec_len]
        if len(rec) < rec_len or rec[0:1] == b"*":
            continue
        out.append(rec[foff : foff + flen].decode("latin-1").rstrip())
    return out


def oceans_from_shp(
    spark: SparkSession,
    shp_path: str,
    names: list[str] | None = None,
    dbf_field: str | None = None,
) -> DataFrame:
    """S10 from the reference's ACTUAL on-disk format: polygon rings
    off the .shp, names off the sibling .dbf (or passed explicitly) —
    the same dim table `oceans_from_wkt` builds from WKT."""
    rings = read_shp_polygons(shp_path)
    if names is None:
        names = read_dbf_strings(
            re.sub(r"\.shp$", ".dbf", shp_path), dbf_field
        )
    if len(names) != len(rings):
        raise ValueError(
            f"{len(names)} names for {len(rings)} polygon records"
        )
    rows = [
        (name, [{"lon": x, "lat": y} for x, y in ring])
        for name, ring in zip(names, rings)
    ]
    return spark.createDataFrame(rows, OCEAN_POLYGON_SCHEMA)


def _ray_cast(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: inside-test for all points at
    once against one polygon ring. A point on an edge or a vertex counts
    as inside: a zero cross product within the edge's bounding box."""
    x, y = lon, lat
    inside = np.zeros(len(x), dtype=bool)
    on_edge = np.zeros(len(x), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        # > 0 left of the edge (x1, y1) -> (x2, y2), 0 on its line
        cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
        straddles = (y1 > y) != (y2 > y)
        # the rightward ray from (x, y) crosses an upward edge that has
        # the point on its left, and a downward one that has it on its right
        inside ^= straddles & ((cross > 0) if y2 > y1 else (cross < 0))
        on_line = cross == 0
        if on_line.any():
            on_edge |= (
                on_line
                & (min(x1, x2) <= x) & (x <= max(x1, x2))
                & (min(y1, y2) <= y) & (y <= max(y1, y2))
            )
    return inside | on_edge


def spatial_join_water_body(
    df: DataFrame,
    oceans: DataFrame | list[tuple[str, np.ndarray]],
    lon_col: str = "decimalLongitude",
    lat_col: str = "decimalLatitude",
) -> DataFrame:
    """Left point-in-polygon join; **overwrites** ``waterBody`` with the
    matched ocean name (NULL when no polygon matches) — even when the
    source supplied one (§1.4 parity trap, cleaner.py:209-211).

    ``oceans`` is either the S10 polygon dim DataFrame or a driver-side
    ``[(name, ring ndarray)]`` list. The polygon table is tiny (GOaS has
    9 rings, a few KB), so it rides to executors inside the serialized
    task closure — no ``sc.broadcast`` file round trip per Python
    worker, and callers holding literal polygons skip the
    createDataFrame→collect bounce entirely. A dim too big for a
    closure is past the broadcast-join threshold anyway and belongs in
    a real join, not this operator."""
    from whale_sightings_spark.deploy import ship_package

    ship_package(df.sparkSession)
    if isinstance(oceans, DataFrame):
        polys = [
            (r["name"], np.array([(p["lon"], p["lat"]) for p in r["ring"]], dtype="float64"))
            for r in oceans.collect()
        ]
    else:
        polys = [(name, np.asarray(ring, dtype="float64")) for name, ring in oceans]
    ray_cast = _ray_cast  # bind by value into the closure

    @F.pandas_udf(T.StringType())
    def ocean_name(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(dtype="float64", na_value=np.nan)
        lat_v = lat.to_numpy(dtype="float64", na_value=np.nan)
        out = np.full(len(lon_v), None, dtype=object)
        unassigned = ~(np.isnan(lon_v) | np.isnan(lat_v))
        for name, ring in polys:
            if not unassigned.any():
                break
            hit = unassigned & ray_cast(lon_v, lat_v, ring)
            out[hit] = name
            unassigned &= ~hit
        return pd.Series(out)

    return df.withColumn("waterBody", ocean_name(F.col(lon_col), F.col(lat_col)))

