"""numpy Web-Mercator tile math (gdal2tiles GlobalMercator formulas),
used as an oracle independent of the program's own tile functions."""

from __future__ import annotations

import math

import numpy as np

ORIGIN_SHIFT = 2.0 * math.pi * 6378137.0 / 2.0
INITIAL_RESOLUTION = 2.0 * math.pi * 6378137.0 / 256


def lonlat_to_tile(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    """(tx, ty) in TMS orientation."""
    mx = lon * (ORIGIN_SHIFT / 180.0)
    my = (np.log(np.tan((90.0 + lat) * (math.pi / 360.0))) / (math.pi / 180.0)
          * (ORIGIN_SHIFT / 180.0))
    res = INITIAL_RESOLUTION / 2.0 ** z
    tx = np.ceil((mx + ORIGIN_SHIFT) / res / 256.0).astype(np.int64) - 1
    ty = np.ceil((my + ORIGIN_SHIFT) / res / 256.0).astype(np.int64) - 1
    return tx, ty
