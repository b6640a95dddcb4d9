"""Seeded input generation for the benchmark workloads.

Everything here is numpy on the driver: a workload's inputs are a pure
function of ``(seed, sizes)``, and the engine only ever receives the
generated tables. The one thing taken from the engine is data, not code:
the 20 metro centres of the corpus skew and the geoparse gazetteer, so
the generated pages resolve the same way real corpus pages would.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from geomesa_spark.sources.pages import CITY_NAMES, GAZETTEER, URBAN_CENTERS

WEEK_S = 604_800
T0 = 2818 * WEEK_S          # 2024-01-04T00:00:00Z, the start of a z3 week bin


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a stream never
    shifts the numbers of another."""
    salt = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, salt])


def urban_points(rng: np.random.Generator, n: int, hot_frac: float = 0.8):
    """(lon, lat) with ``hot_frac`` of the rows jittered around the 20 metro
    centres (~0.05 x 0.03 degree spread) and the rest uniform over the
    world: the hot-cell skew of the web-pages corpus."""
    hot = rng.random(n) < hot_frac
    c = rng.integers(0, len(URBAN_CENTERS), n)
    lon = np.where(hot, URBAN_CENTERS[c, 0] + rng.normal(0.0, 0.05, n),
                   rng.uniform(-180.0, 180.0, n))
    lat = np.where(hot, URBAN_CENTERS[c, 1] + rng.normal(0.0, 0.03, n),
                   rng.uniform(-90.0, 90.0, n))
    return np.clip(lon, -180.0, 180.0), np.clip(lat, -90.0, 90.0)


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB Polygon with one closed ring (n+1, 2)."""
    ring = np.ascontiguousarray(ring, dtype="<f8")
    return b"\x01" + struct.pack("<III", 3, 1, len(ring)) + ring.tobytes()


def convex_ngons(rng: np.random.Generator, n: int, vertices: int = 24):
    """``n`` counter-clockwise convex n-gons (ellipse approximations), half
    centred near a metro, half anywhere. Returns (ids, rings (n, v+1, 2))."""
    urban = rng.random(n) < 0.5
    c = rng.integers(0, len(URBAN_CENTERS), n)
    cx = np.where(urban, URBAN_CENTERS[c, 0] + rng.uniform(-0.15, 0.15, n),
                  rng.uniform(-170.0, 170.0, n))
    cy = np.where(urban, URBAN_CENTERS[c, 1] + rng.uniform(-0.1, 0.1, n),
                  rng.uniform(-75.0, 75.0, n))
    rx = rng.uniform(0.02, 0.2, n)
    ry = rx * rng.uniform(0.4, 1.0, n)
    ang = np.linspace(0.0, 2.0 * np.pi, vertices, endpoint=False)
    rings = np.empty((n, vertices + 1, 2))
    rings[:, :-1, 0] = cx[:, None] + np.cos(ang)[None, :] * rx[:, None]
    rings[:, :-1, 1] = cy[:, None] + np.sin(ang)[None, :] * ry[:, None]
    rings[:, -1] = rings[:, 0]
    return np.arange(n, dtype=np.int64), rings


def rects(rng: np.random.Generator, n: int, half_w: float, half_h: float,
          id_base: int = 0) -> pd.DataFrame:
    """Axis rectangles with envelope sidecar columns and WKB: 80 % of the
    centres on the metro skew, half-extents U(0, half_w) x U(0, half_h)."""
    x, y = urban_points(rng, n)
    w = rng.uniform(0.0, half_w, n)
    h = rng.uniform(0.0, half_h, n)
    x0, x1 = np.maximum(x - w, -180.0), np.minimum(x + w, 180.0)
    y0, y1 = np.maximum(y - h, -90.0), np.minimum(y + h, 90.0)
    wkbs = [polygon_wkb(np.array([[a, b], [a, d], [c, d], [c, b], [a, b]]))
            for a, b, c, d in zip(x0, y0, x1, y1)]
    return pd.DataFrame({"id": np.arange(id_base, id_base + n, dtype=np.int64),
                         "x0": x0, "y0": y0, "x1": x1, "y1": y1, "geom": wkbs})


def pages(rng: np.random.Generator, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A web-pages table plus its ground truth.

    85 % of pages mention literal coordinates ("located at lat, lon"),
    10 % a place name (9 in 10 of those in the gazetteer, the rest unknown
    so geoparse must drop them) and 5 % nothing. Returns (pages, truth)
    where truth holds the (lon, lat) geoparse must produce for every page
    it keeps.
    """
    ids = np.arange(n, dtype=np.int64)
    lon, lat = urban_points(rng, n)
    lon, lat = np.round(lon, 5), np.round(lat, 5)
    kind = rng.random(n)
    literal = kind < 0.85
    place = (kind >= 0.85) & (kind < 0.95)
    known = rng.random(n) < 0.9
    city = rng.integers(0, len(CITY_NAMES), n)
    names = np.array(CITY_NAMES, dtype=object)[city]
    lat_s = np.char.mod("%.5f", lat)
    lon_s = np.char.mod("%.5f", lon)
    filler = np.char.mod("%016x", rng.integers(0, 1 << 62, n))
    text = np.where(
        literal, np.char.add(np.char.add(np.char.add("located at ", lat_s), ", "), lon_s),
        np.where(place & known, np.char.add("located in ", names.astype(str)),
                 np.where(place, "located in Atlantis", "no place named")))
    text = np.char.add(np.char.add(np.char.add(
        np.char.add("page ", ids.astype(str)), " "), text),
        np.char.add(" token ", filler))
    pdf = pd.DataFrame({
        "page_id": ids,
        "url": np.char.add("https://site.example/", ids.astype(str)),
        "secs": T0 + rng.integers(0, WEEK_S, n),
        "text": text.astype(object),
    })
    g_lon = np.array([GAZETTEER[c][0] for c in CITY_NAMES])[city]
    g_lat = np.array([GAZETTEER[c][1] for c in CITY_NAMES])[city]
    keep = literal | (place & known)
    truth = pd.DataFrame({
        "page_id": ids[keep],
        "secs": pdf["secs"].to_numpy()[keep],
        # float(str) of the printed value is what geoparse parses
        "lon": np.where(literal, lon_s.astype(np.float64), g_lon)[keep],
        "lat": np.where(literal, lat_s.astype(np.float64), g_lat)[keep],
    })
    return pdf, truth
