"""Zone assignment (Voronoi / nearest-site) + zone population.

Reference parity:
- J2: the reference assigns events to zones by a string-equality join
  on tower (lat, lon) (reference queries/statistics/
  frequent_locations.sql:6) — possible only because events inherit
  coordinates FROM towers. This engine assigns zones geometrically:
  nearest tower site under the planar local-projection metric, which
  is exactly membership in the tower's Voronoi cell.
- J3: zone population (reference queries/statistics/
  zone_population.sql:1-4) — join + two-level aggregate.
- J7: FindPolygon (registered, jar missing in the reference) — the
  PIP path lives in operators/spatial_join.py and must agree with the
  nearest-site result (tested both ways).

Scale strategy: the tower layer is a DIMENSION (10^2..10^5 rows vs
10^12 fact rows). For <= ~1e3 sites the argmin is compiled into a
whole-stage-codegen JVM expression (array_min over an array of
(d2, zone) structs) — zero shuffle, zero Python, embarrassingly
parallel over fact partitions. For larger site sets use
knn.nearest_site_within (a cell index compiled into the plan as
constant tables).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo


def nearest_site_struct(
    lat_col: str, lon_col: str, sites: list[tuple[int, float, float]]
) -> Column:
    """Codegen argmin: struct(d2, zone_id) of the nearest site.

    Ties on d2 break by zone_id ascending (struct comparison is
    lexicographic) — the oracle mirrors with ORDER BY d2, zone_id.
    """
    if not sites:
        # array_min(array()) of NullType fails ANALYSIS with an
        # opaque error (the poi_reallocation guard documents the same
        # trap); raise the situation instead
        raise ValueError(
            "nearest_site_struct needs a non-empty site layer"
        )
    entries = [
        F.struct(
            F.expr(
                geo.planar_d2_sql(lat_col, lon_col, geo.dlit(tlat), geo.dlit(tlon))
            ).alias("d2"),
            F.lit(int(zid)).cast("bigint").alias("zone_id"),
        )
        for zid, tlat, tlon in sites
    ]
    return F.array_min(F.array(*entries))


def assign_zone(
    df: DataFrame,
    towers: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out_col: str = "zone_id",
) -> DataFrame:
    """Attach the Voronoi zone id of the nearest tower to every row.

    Collects the tower dimension to the driver (it is broadcast-sized
    by definition here) and compiles the argmin into the plan.
    """
    sites = [
        (r["zone_id"], r["tlat"], r["tlon"])
        for r in towers.select("zone_id", "tlat", "tlon").collect()
    ]
    if len(sites) > 2000:
        raise ValueError(
            "expression-based nearest-site is for small dimension layers; "
            "use operators.knn.nearest_site_within for large site sets"
        )
    nearest = nearest_site_struct(lat_col, lon_col, sites)
    return df.withColumn(out_col, nearest.getField("zone_id"))


def zone_population(zoned: DataFrame, towers: DataFrame, uid_col: str = "uid") -> DataFrame:
    """Per-zone population: total events + unique users + admin name.

    Reference: queries/statistics/zone_population.sql:1-4 computes
    sum(total)/count(uid) over a per-(zone, uid) subaggregate; a single
    count/countDistinct pass is algebraically identical and lets Spark
    do partial aggregation map-side (the reference explicitly DISABLED
    map-side agg, hive_init_commands/initial_hive_commands_stats.json:10
    — we keep it on).
    """
    agg = zoned.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct(uid_col).alias("unique_uids"),
    )
    return (
        agg.join(F.broadcast(towers.select("zone_id", "admin1")), "zone_id", "left")
        .select("zone_id", "admin1", "total_events", "unique_uids")
    )


# ---------------------------------------------------------------------------
# Differentially-private zone counts (Laplace mechanism)

DP_EPSILON = 1.0
DP_SEED = 424243


def laplace_noise_sql(id_col: str, scale: float, seed: int = DP_SEED) -> str:
    """Laplace(scale) sample by inverse CDF over a seeded uniform.

    The uniform is the engine's 3-step MINSTD integer hash of
    ``id_col`` (operators/sampling.split_u_sql — the same SQL text
    evaluates identically in Spark and DuckDB), shifted to the OPEN
    interval (0, 1) by ``(h + 0.5) / M`` so neither ln() branch can
    see 0. Inverse CDF, branch-split to keep every float op in the
    same order on both engines:

        u < 0.5:  scale * ln(2u)          (negative tail)
        u >= 0.5: -scale * ln(2 - 2u)     (positive tail)

    ln() is NOT bit-identical across engines — the JVM's and
    DuckDB's libm differ at the ~1e-13 relative level (measured,
    tests/test_spatial_ops.py::test_laplace_noise_sql_parity_*) —
    so consumers MUST round the noisy value before comparing
    (round-6 here), the same round-then-compare discipline every
    ln()-bearing oracle in this engine follows (ngram_perplexity,
    tfidf, NB).
    """
    from cdr_analysis_tools_hadoop_spark.operators.sampling import (
        MINSTD_MOD,
        minstd_h_sql,
    )

    u = f"((({minstd_h_sql(id_col, seed)}) + 0.5) / {MINSTD_MOD}.0)"
    s = f"{scale!r}"
    # one-level scalar-subquery alias (the geohash_sql pattern, valid
    # in both engines) so the md5/MINSTD uniform is evaluated ONCE
    # per row, not once per CASE branch
    return (
        f"(SELECT CASE WHEN __lu < 0.5 THEN ({s}) * ln(2.0 * __lu) "
        f"ELSE -({s}) * ln(2.0 - 2.0 * __lu) END "
        f"FROM (SELECT {u} AS __lu) __lap)"
    )


def dp_zone_counts(
    zoned: DataFrame, epsilon: float = DP_EPSILON, seed: int = DP_SEED
) -> DataFrame:
    """(zone_id, noisy_events): the Laplace mechanism for event-level
    ε-DP on the zone-population histogram (private only with a private
    RNG, see below).

    Calibration is the textbook one (Dwork et al., TCC'06): one event
    changes one zone count by 1, so sensitivity is 1 and each count
    gets Laplace(1/ε) noise. The DRAW is not private randomness: it is
    a deterministic function of (zone_id, seed), so reruns, resumes,
    and both engines of the correctness gate reproduce it
    bit-for-bit — and so can anyone who knows the seed, who can then
    subtract the noise. A committed artifact from this function gives
    NO privacy; a production release would swap the seeded uniform for
    a private RNG (one-line change in laplace_noise_sql) while keeping
    this exact mechanism and scale. Zones with zero events emit no row
    (they never enter the aggregate) — a full-domain release would
    union the zone dimension in first; the histogram-of-present-zones
    form is what the reference's zone_population computes, so that is
    what gets noised.

    Scale shape: one partial-aggregated groupBy on zone_id (the only
    fact-scale work), then the noise term is a zero-shuffle codegen
    projection over the |zones|-row result.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    noise = laplace_noise_sql("zone_id", 1.0 / epsilon, seed)
    return (
        zoned.groupBy("zone_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "zone_id",
            F.expr(f"round(n + {noise}, 6)").alias("noisy_events"),
        )
    )


def dp_zone_counts_oracle(
    zoned_from: str, epsilon: float = DP_EPSILON, seed: int = DP_SEED
) -> str:
    """DuckDB twin; ``zoned_from`` is a FROM-able relation with a
    zone_id column (the caller's zoned CTE)."""
    noise = laplace_noise_sql("zone_id", 1.0 / epsilon, seed)
    return (
        f"SELECT zone_id, round(n + {noise}, 6) AS noisy_events "
        f"FROM (SELECT zone_id, count(*) AS n FROM {zoned_from} "
        "GROUP BY zone_id)"
    )
