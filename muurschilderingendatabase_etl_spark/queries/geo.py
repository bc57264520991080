"""Geospatial operators: grid-bucketed distance join (haversine).

The fixtures carry no coordinates, so deterministic synthetic coords are
derived from the entity keys (a fixed affine-mod scheme, identical in
the oracle SQL) — latitudes clamped to [-60, 60] so longitude-cell math
stays bounded.

The operator itself is the canonical scale shape for "find everything
within D km": never the all-pairs cross join, but a GRID BLOCKING
rewrite — assign every point to a 5-degree cell, explode one side to
its reachable neighbor cells (dlat in ±1, dlon in ±2 — provably covers
500 km for |lat| <= 60), equi-join on the cell key, then verify the
exact haversine predicate on the candidates. Cost per point is bounded
by its 15-cell neighborhood's population, not the table size; the
DuckDB oracle runs the honest all-pairs quadratic, so the parity check
proves the blocking loses nothing.

Known tolerance (same class as stats_percentiles_exact): the
``dist <= 500`` cut and ``ROUND(MIN(dist), 2)`` compare doubles built
from sin/cos/asin, which JVM Math and DuckDB's libm each guarantee only
to ~1 ulp. A pair landing within ulps of the 500 km boundary, or a
rounding midpoint landing on .xx5, could flip parity on future
fixtures/SFs even though the operator is correct. The affine-mod
coordinate scheme gives coordinates on a 0.01-degree lattice, which
keeps distances away from exact midpoints in practice; if a future
fixture trips this, widen/narrow the radius by 1e-6 km in BOTH engines
rather than chasing bit-identical trig.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

RADIUS_KM = 500.0
EARTH_KM = 6371.0
CELL_DEG = 5

# key -> synthetic coords (same expressions in Spark and the oracle):
#   lat = ((key * 37) % 12000) / 100 - 60     in [-60, 60)
#   lon = ((key * 73) % 36000) / 100 - 180    in [-180, 180)
_LAT = "((({k} * 37) % 12000) / 100.0 - 60)"
_LON = "((({k} * 73) % 36000) / 100.0 - 180)"


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2 * {EARTH_KM} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))"
    )


@query(
    "geo_distance_join_grid",
    oracle=f"""
    WITH s AS (
      SELECT s_suppkey,
             {_LAT.format(k="s_suppkey")} AS lat,
             {_LON.format(k="s_suppkey")} AS lon
      FROM supplier
    ),
    c AS (
      SELECT c_custkey,
             {_LAT.format(k="c_custkey")} AS lat,
             {_LON.format(k="c_custkey")} AS lon
      FROM customer
    )
    SELECT s.s_suppkey,
      CAST(COUNT(*) AS BIGINT) AS n_within,
      ROUND(MIN({_haversine_sql("s.lat", "s.lon", "c.lat", "c.lon")}), 2)
        AS nearest_km
    FROM s JOIN c
      ON {_haversine_sql("s.lat", "s.lon", "c.lat", "c.lon")} <= {RADIUS_KM}
    GROUP BY s.s_suppkey
    """,
)
def geo_distance_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with the count of (and distance to the nearest of) all
    customers within 500 km — grid-blocked candidates + exact verify;
    the oracle is the all-pairs quadratic, so hash-parity proves the
    blocking is lossless. See module docstring."""
    def with_coords(df: DataFrame, key: str) -> DataFrame:
        lat = F.expr(_LAT.format(k=key))
        lon = F.expr(_LON.format(k=key))
        return df.select(
            F.col(key),
            lat.alias("lat"),
            lon.alias("lon"),
            # cos(radians(lat)) hoisted out of the per-pair haversine:
            # computed once per ROW instead of twice per CANDIDATE PAIR
            # (the pair count is what explodes at scale — ~1.3B at
            # sf10). Bit-identical to the inline form: same expression,
            # same double.
            F.cos(F.radians(lat)).alias("coslat"),
            # the remaining three per-point trig terms feed the
            # ZERO-TRIG prefilter below (spherical law of cosines)
            F.sin(F.radians(lat)).alias("sinlat"),
            F.cos(F.radians(lon)).alias("coslon"),
            F.sin(F.radians(lon)).alias("sinlon"),
            F.floor(lat / CELL_DEG).alias("cell_lat"),
            F.floor(lon / CELL_DEG).alias("cell_lon"),
        )

    supp = with_coords(t(spark, sf_dir, "supplier"), "s_suppkey")
    cust = with_coords(t(spark, sf_dir, "customer"), "c_custkey").select(
        "c_custkey",
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        F.col("coslat").alias("c_coslat"),
        F.col("sinlat").alias("c_sinlat"),
        F.col("coslon").alias("c_coslon"),
        F.col("sinlon").alias("c_sinlon"),
        F.col("cell_lat").alias("c_cell_lat"),
        F.col("cell_lon").alias("c_cell_lon"),
    )
    # Explode each supplier to the neighbor cells reachable within
    # 500 km: +-1 lat cell (500 km = 4.5 deg < 5) and +-2 lon cells
    # (at |lat| = 60, 500 km = 8.98 deg of longitude < 2 cells).
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dla ->"
        " transform(sequence(-2, 2), dlo -> struct(dla, dlo)))))"
    )
    probes = supp.select(
        "s_suppkey", "lat", "lon", "coslat", "sinlat", "coslon", "sinlon",
        "cell_lat", "cell_lon",
        offsets.alias("off"),
    ).select(
        "s_suppkey",
        "lat",
        "lon",
        "coslat",
        "sinlat",
        "coslon",
        "sinlon",
        (F.col("cell_lat") + F.col("off.dla")).alias("p_cell_lat"),
        # Longitude wraps at the antimeridian: cells -36..35 form a
        # ring (haversine sees lon -179.9 and +179.9 as 0.2 deg apart),
        # so neighbor cells are taken modulo the 72-cell ring.
        (
            F.pmod(F.col("cell_lon") + F.col("off.dlo") + 36, F.lit(72)) - 36
        ).alias("p_cell_lon"),
    )
    # Same haversine as the oracle, with the two per-row cos factors
    # read from the precomputed columns (bit-identical value).
    dist = F.expr(
        f"2 * {EARTH_KM} * asin(sqrt("
        f"pow(sin(radians(c_lat - lat) / 2), 2)"
        f" + coslat * c_coslat"
        f" * pow(sin(radians(c_lon - lon) / 2), 2)))"
    )
    # Conservative latitude band BEFORE any trig: 500 km is 4.4968 deg
    # of latitude (500 / 111.195), so |dlat| > 4.51 cannot pass the
    # exact cut — lossless, and it discards roughly half the candidate
    # pairs (cell blocking alone admits |dlat| up to 10 deg) for the
    # price of one subtract+compare each.
    lat_band = F.abs(F.col("c_lat") - F.col("lat")) <= F.lit(4.51)
    # ZERO-TRIG prefilter: the banded
    # candidates still outnumber true answers ~3.5:1, and each used to
    # pay the full 2·sin + 2·pow + sqrt + asin haversine. The spherical
    # law of cosines — cosθ = sinφ1·sinφ2 + cosφ1·cosφ2·cos(Δλ), with
    # cos(Δλ) expanded so ALL trig is per-point and precomputed — costs
    # 5 multiplies per pair. dist ≤ 500 ⟺ cosθ ≥ cos(500/R); the
    # threshold carries 0.1 km of slack (1.2e-6 in cos space, ~9 orders
    # above double error, vs the law-of-cosines' ~1e-12 worst error at
    # this θ), so the prefilter passes a SUPERSET of the answers and
    # the unchanged bit-identical haversine still decides — lossless by
    # construction, no dependence on trig ulps. A/B at sf10 below.
    import math

    cos_thresh = math.cos((RADIUS_KM + 0.1) / EARTH_KM)
    cos_dlon = (
        F.col("coslon") * F.col("c_coslon")
        + F.col("sinlon") * F.col("c_sinlon")
    )
    prefilter = (
        F.col("sinlat") * F.col("c_sinlat")
        + F.col("coslat") * F.col("c_coslat") * cos_dlon
    ) >= F.lit(cos_thresh)
    return (
        probes.join(
            cust,
            (F.col("p_cell_lat") == F.col("c_cell_lat"))
            & (F.col("p_cell_lon") == F.col("c_cell_lon"))
            & lat_band,
        )
        .where(prefilter)
        .where(dist <= RADIUS_KM)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.round(F.min(dist), 2).alias("nearest_km"),
        )
    )
