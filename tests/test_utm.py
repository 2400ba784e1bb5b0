"""UTM / transverse Mercator (F22 general CRS) golden tests.

The Spark implementation is the Krüger series; the independent check
here is Snyder's classic truncated TM series (USGS Professional Paper
1395, eq. 8-9..8-13) implemented in numpy — two different public
formulations agreeing to ~1 cm within a zone validates both.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

A = 6378137.0
F_INV = 298.257223563
FLAT = 1.0 / F_INV
E2 = FLAT * (2 - FLAT)
EP2 = E2 / (1 - E2)
K0 = 0.9996


def snyder_tm(lat_deg, lon_deg, lon0_deg):
    """Snyder PP1395 transverse Mercator forward (numpy, vectorized)."""
    phi = np.radians(lat_deg)
    lam = np.radians(lon_deg - lon0_deg)
    n_ = A / np.sqrt(1 - E2 * np.sin(phi) ** 2)
    t = np.tan(phi) ** 2
    c = EP2 * np.cos(phi) ** 2
    a_ = lam * np.cos(phi)
    m = A * (
        (1 - E2 / 4 - 3 * E2**2 / 64 - 5 * E2**3 / 256) * phi
        - (3 * E2 / 8 + 3 * E2**2 / 32 + 45 * E2**3 / 1024) * np.sin(2 * phi)
        + (15 * E2**2 / 256 + 45 * E2**3 / 1024) * np.sin(4 * phi)
        - (35 * E2**3 / 3072) * np.sin(6 * phi)
    )
    x = K0 * n_ * (
        a_
        + (1 - t + c) * a_**3 / 6
        + (5 - 18 * t + t**2 + 72 * c - 58 * EP2) * a_**5 / 120
    ) + 500000.0
    y = K0 * (
        m
        + n_
        * np.tan(phi)
        * (
            a_**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * a_**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * EP2) * a_**6 / 720
        )
    )
    return x, y


@pytest.fixture(scope="module")
def grid():
    lats = [-79.5, -45.0, -12.25, 0.0, 0.5, 23.75, 45.0, 60.5, 83.5]
    lons_off = [-2.9, -1.5, 0.0, 0.01, 1.25, 2.9]  # offsets from CM
    return [(la, lo) for la in lats for lo in lons_off]


def test_forward_matches_snyder(spark, grid):
    from model_presto_spark.functions.geo import transverse_mercator

    lon0 = 9.0  # zone 32 central meridian
    df = spark.createDataFrame(
        [(la, lon0 + off) for la, off in grid], "lat double, lon double"
    )
    en = F.expr(transverse_mercator("lat", "lon", f"{lon0!r}D"))
    rows = df.select("lat", "lon", en.alias("en")).collect()
    for r in rows:
        x, y = snyder_tm(r.lat, r.lon, lon0)
        # Snyder's own truncation is the bottleneck (~mm near the CM,
        # ~cm at 3°); Krüger is orders tighter.
        assert r.en.easting == pytest.approx(float(x), abs=0.02)
        assert r.en.northing == pytest.approx(float(y), abs=0.02)


def test_utm_forward_inverse_roundtrip(spark, grid):
    from model_presto_spark.functions.geo import utm_forward, utm_inverse

    lon0 = 9.0
    df = spark.createDataFrame(
        [(la, lon0 + off) for la, off in grid], "lat double, lon double"
    )
    utm = F.expr(utm_forward("lat", "lon"))
    back = df.select("lat", "lon", utm.alias("u")).select(
        "lat",
        "lon",
        utm_inverse(
            F.col("u.easting"), F.col("u.northing"), F.col("u.zone"), F.col("u.northern")
        ).alias("b"),
        "u.zone",
        "u.northern",
    )
    for r in back.collect():
        assert r.b.lat == pytest.approx(r.lat, abs=1e-9)
        assert r.b.lon == pytest.approx(r.lon, abs=1e-9)
        assert r.zone == 32
        assert r.northern == (r.lat >= 0)


def test_utm_zone_and_false_northing(spark):
    from model_presto_spark.functions.geo import utm_forward

    df = spark.createDataFrame(
        [(-33.9, 18.4), (40.7, -74.0), (35.7, 139.7)], "lat double, lon double"
    )
    rows = df.select(F.expr(utm_forward("lat", "lon")).alias("u")).collect()
    cape, nyc, tokyo = [r.u for r in rows]
    assert cape.zone == 34 and not cape.northern
    assert cape.northing > 6_000_000  # south: false northing applied
    assert nyc.zone == 18 and nyc.northern
    assert tokyo.zone == 54 and tokyo.northern


def test_known_coordinate_sanity(spark):
    """Equator/CM anchor points with exactly known UTM values."""
    from model_presto_spark.functions.geo import transverse_mercator

    df = spark.createDataFrame([(0.0, 9.0)], "lat double, lon double")
    en = df.select(
        F.expr(transverse_mercator("lat", "lon", "9.0D")).alias("en")
    ).collect()[0].en
    assert en.easting == pytest.approx(500000.0, abs=1e-6)
    assert en.northing == pytest.approx(0.0, abs=1e-6)
    # one degree of longitude at the equator ~ 111.32 km * k0
    df2 = spark.createDataFrame([(0.0, 10.0)], "lat double, lon double")
    en2 = df2.select(
        F.expr(transverse_mercator("lat", "lon", "9.0D")).alias("en")
    ).collect()[0].en
    assert en2.easting - 500000.0 == pytest.approx(111320.0 * K0, rel=2e-3)


def test_polygon_centroid_golden(spark):
    from model_presto_spark.functions.geo import polygon_centroid

    def ring(pts):
        return [{"lon": float(x), "lat": float(y)} for x, y in pts]

    df = spark.createDataFrame(
        [
            # unit square, open
            (1, ring([(0, 0), (1, 0), (1, 1), (0, 1)])),
            # same square, closed (duplicate first vertex)
            (2, ring([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])),
            # L-shape: centroid NOT the vertex mean
            (3, ring([(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2)])),
            # triangle
            (4, ring([(0, 0), (3, 0), (0, 3)])),
            # degenerate: collinear points -> vertex mean fallback
            (5, ring([(0, 0), (1, 1), (2, 2)])),
        ],
        "pid int, ring array<struct<lon double, lat double>>",
    )
    got = {
        r.pid: (r.c.lon, r.c.lat)
        for r in df.select("pid", polygon_centroid(F.col("ring")).alias("c")).collect()
    }
    assert got[1] == (pytest.approx(0.5), pytest.approx(0.5))
    assert got[2] == (pytest.approx(0.5), pytest.approx(0.5))
    # L-shape = [0,2]x[0,1] (area 2, c=(1,0.5)) + [0,1]x[1,2] (area 1, c=(0.5,1.5))
    assert got[3] == (pytest.approx((2 * 1 + 1 * 0.5) / 3), pytest.approx((2 * 0.5 + 1 * 1.5) / 3))
    assert got[4] == (pytest.approx(1.0), pytest.approx(1.0))
    assert got[5] == (pytest.approx(1.0), pytest.approx(1.0))


def test_polygon_centroid_orientation_invariant(spark):
    """Clockwise vs counter-clockwise winding gives the same centroid
    (signed area cancels in the ratio)."""
    from model_presto_spark.functions.geo import polygon_centroid

    ccw = [(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (0.0, 2.0)]
    cw = list(reversed(ccw))
    df = spark.createDataFrame(
        [(1, [{"lon": x, "lat": y} for x, y in ccw]),
         (2, [{"lon": x, "lat": y} for x, y in cw])],
        "pid int, ring array<struct<lon double, lat double>>",
    )
    got = [
        (r.c.lon, r.c.lat)
        for r in df.select(polygon_centroid(F.col("ring")).alias("c")).orderBy(F.lit(1)).collect()
    ]
    assert got[0] == (pytest.approx(2.0), pytest.approx(1.0))
    assert got[1] == (pytest.approx(2.0), pytest.approx(1.0))


def test_utm_forward_matches_duckdb(spark):
    """The Spark SQL utm_forward against q56's DuckDB spelling of the
    same Krüger series (sinh/cosh via exp, atanh via ln) on a global
    grid plus the zone and hemisphere boundaries: zone and hemisphere
    exactly, metres to a micrometre."""
    import duckdb

    from model_presto_spark.functions import geo as G

    pts = [
        (float(la), float(lo))
        for la in range(-80, 85, 7)
        for lo in range(-180, 180, 23)
    ]
    pts += [(0.0, 0.0), (0.0, -180.0), (-0.0, 6.0), (84.0, 179.999), (-80.0, 5.999)]
    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "id int, lat double, lon double",
    )
    got = {
        r.id: tuple(r.u)
        for r in df.select("id", F.expr(G.utm_forward("lat", "lon")).alias("u"))
        .collect()
    }
    a1, a2, a3, a4 = (repr(a) for a in G._ALPHA)
    e = repr(G._E)
    ka = repr(G.UTM_K0 * G._A_BAR)
    dd_utm = f"""
    WITH zoned AS (
      SELECT id, lat, lon,
             CAST(FLOOR((lon + 180.0) / 6.0) % 60 + 1 AS INT) AS zone
      FROM t
    ), base AS (
      SELECT *,
             radians(lat) AS phi,
             radians(lon - (zone * 6.0 - 183.0)) AS lam,
             sin(radians(lat)) AS sphi
      FROM zoned
    ), conf AS (
      SELECT *,
             0.5*ln((1.0 + sphi)/(1.0 - sphi))
               - {e} * (0.5*ln((1.0 + {e}*sphi)/(1.0 - {e}*sphi))) AS q
      FROM base
    ), tt AS (
      SELECT *, (exp(q) - exp(-q))/2.0 AS t FROM conf
    ), prim AS (
      SELECT *,
             atan2(t, cos(lam)) AS xi_p,
             ln(sin(lam)/sqrt(t*t + cos(lam)*cos(lam))
                + sqrt((sin(lam)/sqrt(t*t + cos(lam)*cos(lam)))
                     * (sin(lam)/sqrt(t*t + cos(lam)*cos(lam))) + 1.0)) AS eta_p
      FROM tt
    ), series AS (
      SELECT *,
        xi_p + {a1}*sin(2.0*xi_p)*((exp(2.0*eta_p)+exp(-2.0*eta_p))/2.0)
             + {a2}*sin(4.0*xi_p)*((exp(4.0*eta_p)+exp(-4.0*eta_p))/2.0)
             + {a3}*sin(6.0*xi_p)*((exp(6.0*eta_p)+exp(-6.0*eta_p))/2.0)
             + {a4}*sin(8.0*xi_p)*((exp(8.0*eta_p)+exp(-8.0*eta_p))/2.0) AS xi,
        eta_p + {a1}*cos(2.0*xi_p)*((exp(2.0*eta_p)-exp(-2.0*eta_p))/2.0)
              + {a2}*cos(4.0*xi_p)*((exp(4.0*eta_p)-exp(-4.0*eta_p))/2.0)
              + {a3}*cos(6.0*xi_p)*((exp(6.0*eta_p)-exp(-6.0*eta_p))/2.0)
              + {a4}*cos(8.0*xi_p)*((exp(8.0*eta_p)-exp(-8.0*eta_p))/2.0) AS eta
      FROM prim
    )
    SELECT id, zone, lat >= 0 AS northern,
           500000.0 + {ka} * eta AS easting,
           CASE WHEN lat >= 0 THEN 0.0 ELSE 10000000.0 END + {ka} * xi
             AS northing
    FROM series
    """
    con = duckdb.connect()
    con.register("t", df.toArrow())
    want = {r[0]: r[1:] for r in con.execute(dd_utm).fetchall()}
    assert got.keys() == want.keys()
    for k, (zone, northern, easting, northing) in got.items():
        assert (zone, northern) == want[k][:2]
        # DuckDB's exp-based sinh/cosh differ from Java's in the last
        # bits (~1e-9 m); q56 rounds to the millimetre
        assert easting == pytest.approx(want[k][2], abs=1e-6)
        assert northing == pytest.approx(want[k][3], abs=1e-6)
