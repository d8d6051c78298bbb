"""Trajectories + origin-destination extraction + OD rollup.

Reference parity (SURVEY.md §2.9, §3.3):
- A11 CreateTrajectoriesJICAWithZone UDAF (reference
  lib/cdrmobilitylibjica.jar, invoked queries/origin_destination/
  insert_la_cdr_all_with_ant_zone_by_uid.sql:2-6): per (uid, day)
  collect rows sorted by call_time. Re-expressed as
  array_sort(collect_list(struct(ts, ...))) — struct-first field is
  the sort key, no UDAF, map-side partial aggregation stays on.
- TripOD UDF (lib/cdrmobilitylibge.jar, bytecode semantics in
  SURVEY.md §2.9): OD edges from a user's day trajectory + home:
    (i)   first point site != home      -> home -> p0 edge at t0
    (ii)  consecutive site change       -> prev -> cur edge at t_cur
    (iii) last point site != home       -> p_last -> home edge at t_last
          (multi-point arrays only; single-point arrays emit only (i))
  Re-expressed with lag/lead windows over the flat zoned frame — no
  array materialization, no Python, whole pipeline stays in codegen.
- P8 trajectory-size guard  size(arr) <= 500
  (insert_la_cdr_all_with_ant_zone_by_uid_od.sql:6).
- A13 OD rollup  group by (day, origin, dest) -> tcount, tusercount
  (insert_la_cdr_all_with_ant_zone_by_uid_od_sum.sql:1-4).

`site` is the engine's fine-grained location key: the hierarchical
cell id at CELL RES_SITE (the reference used tower lat/lon strings);
`zone` is the Voronoi/admin zone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geo

RES_SITE = 10  # ~100 m cells over the bbox
MAX_TRAJECTORY = 500


def with_site(zoned: DataFrame, lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    return zoned.withColumn("site", F.expr(geo.cell_id_sql(lat_col, lon_col, RES_SITE)))


def user_home_site(sited: DataFrame) -> DataFrame:
    """Top-1 (site, zone) per uid by frequency (ties: site, zone asc).

    Reference: home = trank-1 row of frequent locations
    (insert_la_cdr_uid_home.sql:2-3)."""
    counts = sited.groupBy("uid", "site", "zone_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("uid").orderBy(
        F.desc("cnt"), F.asc("site"), F.asc("zone_id")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "uid",
            F.col("site").alias("home_site"),
            F.col("zone_id").alias("home_zone"),
        )
    )


def collect_trajectories(sited: DataFrame) -> DataFrame:
    """A11: one row per (uid, day) with the time-sorted event array."""
    point = F.struct(
        F.col("call_time").alias("ts"),
        F.col("duration"),
        F.col("lon"),
        F.col("lat"),
        F.col("site"),
        F.col("zone_id"),
    )
    # guard-first like od_edges: counting before collecting means a
    # viral uid never materializes (then discards) a multi-million-
    # element array in one reducer — the count's map-side partials
    # absorb the skew and the join drops the hot group up front
    day = sited.select("uid", F.to_date("call_time").alias("pdt"), point.alias("pt"))
    bad = (
        day.groupBy("uid", "pdt")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > MAX_TRAJECTORY)
        .select("uid", "pdt")
    )
    return (
        day.join(bad, ["uid", "pdt"], "left_anti")
        .groupBy("uid", "pdt")
        .agg(F.array_sort(F.collect_list("pt")).alias("arr"))
    )


def od_edges(sited: DataFrame, home: DataFrame) -> DataFrame:
    """TripOD edge extraction as pure window algebra.

    Output: uid, pdt, origin_site, dest_site, origin_zone, dest_zone,
    ts. The (uid, pdt) exchange is shared by the guard join and the
    windows (same keys), plus one on (uid) for the home join; the P9
    size guard is applied BEFORE the window (see inline comment) so a
    skewed uid never reaches the window sort.
    """
    day = F.to_date("call_time").alias("pdt")
    df = sited.select(
        "uid", day, "call_time", "event_id", "site", "zone_id"
    )
    # GUARD FIRST (skew immunity): the P9 size guard used to be a
    # count window filtered afterwards, which SORTS a viral uid's
    # whole (uid, pdt) partition in one task before dropping it. Now
    # the guard runs before the window: a groupBy count is two-phase
    # (map-side partials collapse the hot key to one row per input
    # partition), over-cap groups are by construction RARE (each has
    # > MAX_TRAJECTORY rows), and the ANTI join drops their rows
    # early. No broadcast HINT: AQE broadcasts from the MEASURED
    # size when the set is small (the normal case) but an M2M-heavy
    # corpus where most groups are over-cap degrades to a shuffled
    # anti join instead of a driver-OOM broadcast. Identical output:
    # the guard drops whole groups, so lag/lead over survivors match
    # the filter-after-window form row for row.
    bad = (
        df.groupBy("uid", "pdt")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") > MAX_TRAJECTORY)
        .select("uid", "pdt")
    )
    w = Window.partitionBy("uid", "pdt").orderBy("call_time", "event_id")
    df = (
        df.join(bad, ["uid", "pdt"], "left_anti")
        .withColumn("prev_site", F.lag("site").over(w))
        .withColumn("prev_zone", F.lag("zone_id").over(w))
        .withColumn("next_time", F.lead("call_time").over(w))
        .join(home, "uid", "inner")
    )

    # All three edge rules in ONE pass: per row build an array of the
    # edges it emits (a last point with a site change emits (ii) AND
    # (iii)), drop the non-firing nulls, explode. A previous version
    # unioned three filters of this frame — Spark has no DataFrame-
    # level common-subplan reuse, so that plan scanned the fact table
    # and re-ran the windows three times (six scans counting the home
    # branch); this one scans once per branch.
    def edge(origin_site, dest_site, origin_zone, dest_zone):
        return F.struct(
            origin_site.alias("origin_site"),
            dest_site.alias("dest_site"),
            origin_zone.alias("origin_zone"),
            dest_zone.alias("dest_zone"),
            F.col("call_time").alias("ts"),
        )

    c = F.col
    edges_arr = F.array_compact(
        F.array(
            # (i) leave-home edge at the first point
            F.when(
                c("prev_site").isNull() & (c("site") != c("home_site")),
                edge(c("home_site"), c("site"), c("home_zone"), c("zone_id")),
            ),
            # (ii) consecutive site change
            F.when(
                c("prev_site").isNotNull() & (c("site") != c("prev_site")),
                edge(c("prev_site"), c("site"), c("prev_zone"), c("zone_id")),
            ),
            # (iii) return-home edge at the last point (multi-point only)
            F.when(
                c("next_time").isNull()
                & c("prev_site").isNotNull()
                & (c("site") != c("home_site")),
                edge(c("site"), c("home_site"), c("zone_id"), c("home_zone")),
            ),
        )
    )
    return df.select(
        "uid", "pdt", F.explode(edges_arr).alias("e")
    ).select("uid", "pdt", "e.*")


def od_sum(edges: DataFrame) -> DataFrame:
    """A13 rollup: (pdt, origin_zone, dest_zone) -> tcount, tusercount.

    The reference filters the -1 unknown-zone sentinel
    (insert_la_cdr_all_with_ant_zone_by_uid_od_sum.sql:3); the engine's
    zones are total over the bbox so the filter is a null guard."""
    return (
        edges.filter(F.col("origin_zone").isNotNull() & F.col("dest_zone").isNotNull())
        .groupBy("pdt", "origin_zone", "dest_zone")
        .agg(
            F.count(F.lit(1)).alias("tcount"),
            F.countDistinct("uid").alias("tusercount"),
        )
    )


OD_KANON_K = 5


def od_sum_kanon(edges: DataFrame, k: int = OD_KANON_K) -> DataFrame:
    """Privacy-suppressed OD export: the A13 rollup with every cell
    whose distinct-user count is below ``k`` dropped — the
    k-anonymity release gate mobility products apply before an OD
    matrix leaves the analysis environment (small cells identify
    individuals). Suppression keys on tusercount, not tcount: a
    single user making k trips is exactly what the gate must hide.

    A HAVING on the existing aggregate — zero additional plan cost
    over od_sum. Output schema == od_sum.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    return od_sum(edges).filter(F.col("tusercount") >= k)


OD_DP_EPSILON = 1.0
OD_DP_SEED = 771133


def _od_dp_key_sql(dialect: str) -> str:
    """Integer noise key for one OD cell: md5-int of
    'pdt|origin|dest' — both engines render dates as yyyy-MM-dd and
    ints without padding, so the hashed string is byte-identical."""
    from ..functions import texthash as th

    return th.md5_int_sql(
        "concat(cast(pdt as string), '|', "
        "cast(origin_zone as string), '|', cast(dest_zone as string))",
        dialect,
    )


def od_sum_dp(
    edges: DataFrame,
    epsilon: float = OD_DP_EPSILON,
    seed: int = OD_DP_SEED,
) -> DataFrame:
    """Edge-level ε-DP OD-matrix release: the A13 rollup's trip counts
    with Laplace(1/ε) noise per (pdt, origin, dest) cell — the
    perturbative sibling of od_sum_kanon's suppressive gate (a release
    pipeline typically offers both: suppression preserves exact large
    cells, DP bounds what ANY cell reveals).

    Sensitivity 1 holds per trip EDGE: one edge lands in exactly one
    cell. It does not hold per event: edges come from lag/lead
    adjacency of a user's events plus an argmax home site, so adding
    or removing one event can create, drop or re-route several edges
    (and moving the home site re-labels all of that user's edges).
    Event- or user-level DP would need each user's contribution capped
    first. The distinct-user column is dropped — user counts have
    unbounded sensitivity and are precisely the identifying signal.

    The draw is seeded from the cell key (md5-int → the shared
    inverse-CDF in zones.laplace_noise_sql) so reruns and both gate
    engines reproduce it. With the seed and the key known, anyone can
    recompute and subtract the noise: an artifact released from this
    function gives NO privacy. A real release swaps in a private RNG,
    keeping mechanism and calibration.

    Scale shape: identical to od_sum (one partial-aggregated groupBy)
    plus a zero-shuffle codegen noise projection on the |cells|-row
    result.
    """
    from .zones import laplace_noise_sql

    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    noise = laplace_noise_sql(_od_dp_key_sql("spark"), 1.0 / epsilon, seed)
    return od_sum(edges).select(
        "pdt",
        "origin_zone",
        "dest_zone",
        F.expr(f"round(tcount + {noise}, 6)").alias("noisy_trips"),
    )


def od_sum_dp_oracle(
    od_cells_sql: str,
    epsilon: float = OD_DP_EPSILON,
    seed: int = OD_DP_SEED,
) -> str:
    """DuckDB twin; ``od_cells_sql`` selects the A13 rollup with
    (pdt, origin_zone, dest_zone, tcount)."""
    from .zones import laplace_noise_sql

    noise = laplace_noise_sql(_od_dp_key_sql("duckdb"), 1.0 / epsilon, seed)
    return (
        "SELECT pdt, origin_zone, dest_zone, "
        f"round(tcount + {noise}, 6) AS noisy_trips "
        f"FROM ({od_cells_sql})"
    )


def od_gravity(edges: DataFrame, towers: DataFrame) -> DataFrame:
    """Gravity-model diagnostics over the OD matrix: per directed
    zone pair, the observed flow against the classic
    production-attraction-distance structure (flow ~ m_o * m_d / d²)
    — the transport-planning read of an OD export. gravity_index =
    ln(flow * d² / (m_o * m_d)) is the log-residual against an
    unnormalized beta=2 gravity null: pairs with index far above the
    corpus mean over-attract relative to their masses and distance
    (a corridor), far below under-attract (a barrier).

    Masses are derived from the SAME flow table (m_o = zone total
    outflow, m_d = total inflow, self-flows excluded), so the op is
    self-contained: one aggregate over the edge stream, two
    re-aggregates of the |zones|²-bounded flow table, two broadcast
    joins to the tower dim for coordinates. Distance is the planar
    Voronoi metric (geo.planar_d2_sql — arithmetic-only, so the
    DuckDB twin is expression-identical), and the index is computed
    per-row from exact int64 masses — no global FP sums, every
    emitted double deterministic.

    Output: (origin_zone, dest_zone, tcount, m_o, m_d, dist_m,
    gravity_index).
    """
    flows = (
        edges.filter(
            F.col("origin_zone").isNotNull()
            & F.col("dest_zone").isNotNull()
            & (F.col("origin_zone") != F.col("dest_zone"))
        )
        .groupBy("origin_zone", "dest_zone")
        .agg(F.count(F.lit(1)).alias("tcount"))
    )
    prod = flows.groupBy("origin_zone").agg(
        F.sum("tcount").cast("bigint").alias("m_o")
    )
    attr = flows.groupBy("dest_zone").agg(
        F.sum("tcount").cast("bigint").alias("m_d")
    )
    t_o = towers.select(
        F.col("zone_id").alias("origin_zone"),
        F.col("tlat").alias("olat"),
        F.col("tlon").alias("olon"),
    )
    t_d = towers.select(
        F.col("zone_id").alias("dest_zone"),
        F.col("tlat").alias("dlat"),
        F.col("tlon").alias("dlon"),
    )
    d2 = geo.planar_d2_sql("olat", "olon", "dlat", "dlon")
    return (
        flows.join(F.broadcast(prod), "origin_zone")
        .join(F.broadcast(attr), "dest_zone")
        .join(F.broadcast(t_o), "origin_zone")
        .join(F.broadcast(t_d), "dest_zone")
        .select(
            "origin_zone",
            "dest_zone",
            "tcount",
            "m_o",
            "m_d",
            F.expr(
                f"round(sqrt({d2}) * {geo.dlit(geo.M_PER_DEG)}, 3)"
            ).alias("dist_m"),
            # the mass product runs in DOUBLE: the int64 m_o * m_d
            # overflows past ~3e9 edges per zone pair of masses
            # (ANSI crash in Spark 4, overflow error in DuckDB) —
            # doubles lose only ulp precision inside the ln
            F.expr(
                f"round(ln(cast(tcount as double) * ({d2}) "
                "/ (cast(m_o as double) * cast(m_d as double))), 6)"
            ).alias("gravity_index"),
        )
    )
