"""Native (JVM-side) column expressions for the hot-path spatial math.

These stay inside whole-stage codegen — no Python worker, no Arrow
transfer — and are therefore the preferred form for the 100 TB path.
The pandas-UDF twins in ``geo_udfs`` exist for SQL registration and for
kernels whose math has no builtin equivalent (GCJ/BD obfuscation
polynomials are Python-side; tile floor math and haversine are native).

Formulas mirror the kernels bit-for-bit (same float64 operation order),
so native and UDF paths produce identical cell assignments:
``wgs2tile`` — gis.go:262-267; haversine — gis.go:195-206.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# packing layout — keep in sync with kernels.tiles
Z_SHIFT = 58
X_SHIFT = 29
XY_MASK = (1 << 29) - 1
R_EARTH = 6371000.0
PI = 3.141592653589793


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def tile_x(lon, z: int) -> Column:
    """x = floor((lon+180)/360 * 2^z) — gis.go:264."""
    return F.floor((_c(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2 ** z))).cast("long")


def tile_y(lat, z: int) -> Column:
    """Web-Mercator y — gis.go:265."""
    lat_rad = _c(lat) * F.lit(PI) / F.lit(180.0)
    return F.floor(
        (F.lit(1.0) - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(PI))
        / F.lit(2.0)
        * F.lit(float(2 ** z))
    ).cast("long")


def cell(lon, lat, z: int) -> Column:
    """Packed int64 cell id ``(z<<58)|(x<<29)|y`` at zoom z."""
    return (
        F.lit(z).cast("long") * F.lit(1 << Z_SHIFT).cast("long")
        + F.shiftleft(tile_x(lon, z), X_SHIFT)
        + tile_y(lat, z)
    )


def cell_from_xy(x, y, z: int) -> Column:
    return (
        F.lit(z).cast("long") * F.lit(1 << Z_SHIFT).cast("long")
        + F.shiftleft(_c(x).cast("long"), X_SHIFT)
        + _c(y).cast("long")
    )


def cell_x(cell_col) -> Column:
    return F.shiftright(_c(cell_col), X_SHIFT).bitwiseAND(F.lit(XY_MASK).cast("long"))


def cell_y(cell_col) -> Column:
    return _c(cell_col).bitwiseAND(F.lit(XY_MASK).cast("long"))


def cell_parent(cell_col, child_z: int, parent_z: int) -> Column:
    """Quadtree ancestor via bit arithmetic — no geometry re-encode.

    ``child_z`` is passed statically (Spark's shift builtins take a
    literal bit count); pipelines always know their zoom levels.
    """
    dz = child_z - parent_z
    if dz < 0:
        raise ValueError("parent_z must be <= child_z")
    return (
        F.lit(parent_z).cast("long") * F.lit(1 << Z_SHIFT).cast("long")
        + F.shiftleft(F.shiftright(cell_x(cell_col), dz), X_SHIFT)
        + F.shiftright(cell_y(cell_col), dz)
    )


def haversine_m(lon1, lat1, lon2, lat2) -> Column:
    """Haversine distance in meters (gis.go:195-206), R=6,371,000."""
    rad = F.lit(PI / 180.0)
    dlat = (_c(lat2) - _c(lat1)) * rad
    dlon = (_c(lon2) - _c(lon1)) * rad
    rlat1 = _c(lat1) * rad
    rlat2 = _c(lat2) * rad
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.sin(dlon / 2) * F.sin(dlon / 2) * F.cos(rlat1) * F.cos(rlat2)
    )
    return F.lit(2.0 * R_EARTH) * F.atan2(F.sqrt(a), F.sqrt(F.lit(1.0) - a))


def dist_cos_m(lon1, lat1, lon2, lat2) -> Column:
    """Spherical law-of-cosines distance (gis.go:183-193)."""
    rad = F.lit(PI / 180.0)
    rlat1, rlat2 = _c(lat1) * rad, _c(lat2) * rad
    theta = (_c(lon2) - _c(lon1)) * rad
    c = F.sin(rlat1) * F.sin(rlat2) + F.cos(rlat1) * F.cos(rlat2) * F.cos(theta)
    return F.lit(R_EARTH) * F.acos(F.least(F.greatest(c, F.lit(-1.0)), F.lit(1.0)))


def lon_from_phash(phash) -> Column:
    """Deterministic capture longitude from phash (FIXTURES.md §1):
    73.5 + (phash & 0xFFFFF)/2^20 * 61.0 — China bbox."""
    return F.lit(73.5) + (
        _c(phash).bitwiseAND(F.lit(0xFFFFF).cast("long")).cast("double")
        / F.lit(1048576.0)
    ) * F.lit(61.0)


def lat_from_phash(phash) -> Column:
    """18.2 + ((phash >> 20) & 0xFFFFF)/2^20 * 35.3."""
    return F.lit(18.2) + (
        F.shiftright(_c(phash), 20).bitwiseAND(F.lit(0xFFFFF).cast("long")).cast("double")
        / F.lit(1048576.0)
    ) * F.lit(35.3)


def ip2long(ip) -> Column:
    """IPv4 dotted string → uint32-as-long (net.go:5-11)."""
    p = F.split(_c(ip), r"\.")
    return (
        p.getItem(0).cast("long") * F.lit(16777216)
        + p.getItem(1).cast("long") * F.lit(65536)
        + p.getItem(2).cast("long") * F.lit(256)
        + p.getItem(3).cast("long")
    )


def long2ip(v) -> Column:
    """uint32-as-long → dotted IPv4 (net.go:13-20)."""
    c = _c(v).cast("long")
    return F.concat_ws(
        ".",
        F.shiftright(c, 24).bitwiseAND(F.lit(255).cast("long")).cast("string"),
        F.shiftright(c, 16).bitwiseAND(F.lit(255).cast("long")).cast("string"),
        F.shiftright(c, 8).bitwiseAND(F.lit(255).cast("long")).cast("string"),
        c.bitwiseAND(F.lit(255).cast("long")).cast("string"),
    )
