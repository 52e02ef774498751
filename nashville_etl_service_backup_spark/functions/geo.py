"""Geospatial helpers — S7/F21/A3/D2 (SURVEY §2).

Reference nashville_arcgis.py:16-20,139-167:
- ring centroid: mean of xs / mean of ys over the first polygon ring —
  expressed with `aggregate` higher-order functions over ArrayType (no UDF).
- coordinate range validation lat∈[35,37], lng∈[-88,-85].
- EPSG:2274 (TN state-plane, ft) → EPSG:4326 transform: a documented
  affine approximation valid over the Nashville extent (the closed-form
  alternative SURVEY D2 lists to a pyproj UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LAT_RANGE = (35.0, 37.0)  # nashville_arcgis.py:19
LNG_RANGE = (-88.0, -85.0)  # nashville_arcgis.py:20


def ring_centroid(ring: Column) -> Column:
    """A3 (nashville_arcgis.py:143-148): centroid of array<array<double>>
    ring vertices as struct(x, y) — mean of coordinate 0 and coordinate 1.

    Pure higher-order aggregate: distributed, no UDF, no explode/shuffle.
    """
    n = F.size(ring).cast("double")
    sum_x = F.aggregate(
        ring, F.lit(0.0), lambda acc, v: acc + v.getItem(0).cast("double")
    )
    sum_y = F.aggregate(
        ring, F.lit(0.0), lambda acc, v: acc + v.getItem(1).cast("double")
    )
    return F.when(
        n > 0, F.struct((sum_x / n).alias("x"), (sum_y / n).alias("y"))
    ).otherwise(F.lit(None))


def validate_coords(lat: Column, lng: Column) -> tuple[Column, Column]:
    """F21 (nashville_arcgis.py:158-167): out-of-range → both NULL."""
    ok = lat.between(*LAT_RANGE) & lng.between(*LNG_RANGE)
    return (
        F.when(ok, lat).otherwise(F.lit(None).cast("double")),
        F.when(ok, lng).otherwise(F.lit(None).cast("double")),
    )


# EPSG:2274 (NAD83 / Tennessee ft) → EPSG:4326, affine approximation around
# the Nashville extent (x≈1.7e6 ft, y≈6.6e5 ft). Accurate to ~1e-3 deg over
# the county — adequate for the reference's [35,37]×[-88,-85] gate.
_X0, _Y0 = 1738000.0, 665000.0
_LAT0, _LNG0 = 36.1627, -86.7816
_DLAT_DY = 1.0 / 364000.0  # deg lat per survey-foot
_DLNG_DX = 1.0 / (364000.0 * 0.80777)  # deg lng per foot at ~36.16N


def state_plane_to_wgs84_approx(x: Column, y: Column) -> tuple[Column, Column]:
    lat = F.lit(_LAT0) + (y - F.lit(_Y0)) * F.lit(_DLAT_DY)
    lng = F.lit(_LNG0) + (x - F.lit(_X0)) * F.lit(_DLNG_DX)
    return lat, lng
