"""Interpolation chain: stay-points, POI reallocation, route
interpolation, faithful trip formatting, 24-hour padding.

Reference parity (SURVEY.md §2.9, run_interpolation.py chain):

- ``TripSegmentationCDR`` (lib/cdrmobilitylibge.jar, invoked
  insert_trip_format.sql:2): stay/move segmentation with bytecode
  constants TIME_MIN = 15.0 minutes and DISTANCE_MAX = 300.0 m —
  kept here as STAY_MIN_S / DIST_MAX_M.
- ``f_reallocation`` (TurkcellReallocationUDF, invoked
  insert_poi_relocation.sql:1-3): relocate STAY points to the nearest
  POI within REALLOCATE_RADIUS = 300.0 m.
- ``f_routing`` (TurkcellRoutingUDF, invoked
  insert_route_interpolation.sql:2): interpolate MOVE legs every
  900 s; transport mode drawn with p_walk = 1 - 1/(1+exp(5 - km)).
  The reference draws with an UNSEEDED java.util.Random (SURVEY.md
  Q4 — its output is irreproducible); this engine replaces the draw
  with a hash-seeded uniform so results are deterministic, and
  replaces OSM shortest-path routing with straight-line interpolation
  (documented deviation; the road network sideload is absent).
- ``f_organizearray`` (TurkcellOrganizeTripUDF, invoked
  insert_trip_24_hr_padding.sql:2): pad each day to
  00:00:00-23:59:59 with filler STAYs.
- P8 array-size guards: max 50 interpolation steps per leg
  (sample_configs/config.json:38 ``max_size_interpolation``).

Every operator in this chain — including the reference's
string-encoded trip format ("i|time|lat|lon;...", TripSegmentationCDR
bytecode) and the 24-h padding — is pure window + aggregate + explode
algebra, fully codegen'd JVM-side and DuckDB-oracle-checked
bit-for-bit (the point-list string is
array_join(transform(array_sort(collect_list(struct)))) mirrored by
string_agg(... ORDER BY) in the oracle).

Scale notes: every operator partitions by (uid, pdt) — the natural
shard key — and shuffles once on that key; no Python anywhere in the
chain. The MAX_TRAJECTORY guard (reference P8) bounds per-key state,
so no skew salting is needed beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import geo, texthash as th

STAY_MIN_S = 900           # TIME_MIN = 15 min (TripSegmentationCDR)
DIST_MAX_M = 300.0         # DISTANCE_MAX = 300 m (TripSegmentationCDR)
REALLOC_RADIUS_M = 300.0   # TurkcellReallocationUDF bytecode
STEP_S = 900               # routing time-step (TurkcellRoutingUDF)
MAX_STEPS = 50             # max_size_interpolation (config.json:38)

# squared planar threshold in degrees² for DIST_MAX_M / REALLOC radius
_DEG_PER_M = 1.0 / geo.M_PER_DEG
D2_300M = (DIST_MAX_M * _DEG_PER_M) ** 2


def _d2_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return geo.planar_d2_sql(lat1, lon1, lat2, lon2)


# ---------------------------------------------------------------------------
# 1. stay-point detection (TripSegmentationCDR stay rule)


def stay_points(sited: DataFrame) -> DataFrame:
    """Segment each (uid, day) trajectory at >300 m jumps; a segment
    is a STAY when it spans >= 15 minutes.

    Output: uid, pdt, seg_id, start/end epoch seconds, n_points,
    first-point lat/lon (deterministic representative — avg() would
    be FP-order-dependent), is_stay flag.
    """
    w = Window.partitionBy("uid", "pdt").orderBy("call_time", "event_id")
    d2 = _d2_sql("prev_lat", "prev_lon", "lat", "lon")
    df = (
        sited.select(
            "uid",
            F.to_date("call_time").alias("pdt"),
            "call_time",
            "event_id",
            "lat",
            "lon",
        )
        .withColumn("prev_lat", F.lag("lat").over(w))
        .withColumn("prev_lon", F.lag("lon").over(w))
    )
    df = df.withColumn(
        "brk",
        F.when(
            F.col("prev_lat").isNull()
            | (F.expr(d2) > F.lit(D2_300M)),
            1,
        ).otherwise(0),
    ).withColumn("seg_id", F.sum("brk").over(w))
    return (
        df.groupBy("uid", "pdt", "seg_id")
        .agg(
            F.min(F.unix_timestamp("call_time")).alias("start_s"),
            F.max(F.unix_timestamp("call_time")).alias("end_s"),
            F.count(F.lit(1)).alias("n_points"),
            F.min(F.struct("call_time", "event_id", "lat", "lon")).alias("__first"),
        )
        .select(
            "uid",
            "pdt",
            "seg_id",
            "start_s",
            "end_s",
            "n_points",
            F.col("__first.lat").alias("lat"),
            F.col("__first.lon").alias("lon"),
            (F.col("end_s") - F.col("start_s") >= STAY_MIN_S).alias("is_stay"),
        )
    )


def stay_points_oracle(sited_cte: str) -> str:
    """DuckDB twin; ``sited_cte`` must define view ``sited`` with
    uid, call_time, event_id, lat, lon."""
    d2 = _d2_sql("prev_lat", "prev_lon", "lat", "lon")
    return (
        f"{sited_cte}, pts AS (SELECT uid, CAST(call_time AS DATE) AS pdt, "
        "call_time, event_id, lat, lon, "
        "lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon FROM sited "
        "WINDOW w AS (PARTITION BY uid, CAST(call_time AS DATE) "
        "ORDER BY call_time, event_id)), "
        # CAST: DuckDB types sum(INTEGER) as HUGEINT, which crosses
        # Arrow as decimal128(38,0) and breaks the driver's value hash
        # against Spark's BIGINT — the numbers are identical, the type
        # is not.
        "segd AS (SELECT pts.*, CAST(sum(case when prev_lat IS NULL OR "
        f"{d2} > {geo.dlit(D2_300M)} then 1 else 0 end) OVER ("
        "PARTITION BY uid, pdt ORDER BY call_time, event_id) AS BIGINT) AS seg_id FROM pts), "
        "agg AS (SELECT uid, pdt, seg_id, "
        "min(CAST(floor(epoch(call_time)) AS BIGINT)) AS start_s, "
        "max(CAST(floor(epoch(call_time)) AS BIGINT)) AS end_s, "
        "count(*) AS n_points, "
        "min({'ct': call_time, 'eid': event_id, 'lat': lat, 'lon': lon}) AS f "
        "FROM segd GROUP BY uid, pdt, seg_id) "
        "SELECT uid, pdt, seg_id, start_s, end_s, n_points, "
        "f.lat AS lat, f.lon AS lon, "
        f"(end_s - start_s >= {STAY_MIN_S}) AS is_stay FROM agg"
    )


# ---------------------------------------------------------------------------
# 2. POI reallocation (f_reallocation)


def poi_reallocation(stays: DataFrame, pois: DataFrame) -> DataFrame:
    """Snap STAY segments to the nearest POI within 300 m (ties:
    smaller poi_id); MOVE segments and out-of-radius stays keep their
    coordinates.

    ``pois``: (poi_id, plat, plon) — a broadcast-sized dimension (like
    the reference's ``add file`` sideloaded TSV), collected and
    compiled into a codegen argmin expression: struct comparison is
    lexicographic, so array_min over (d2, poi_id, plat, plon) structs
    IS "ORDER BY d2, poi_id LIMIT 1". Single pass, zero joins — the
    previous cross-join + window + join-back shape re-derived the
    stays lineage twice. For POI sets too large to inline, use
    knn.nearest_site_within (the scale path).
    """
    radius2 = REALLOC_RADIUS_M * _DEG_PER_M
    radius2 = radius2 * radius2
    entries = [
        F.struct(
            F.expr(
                _d2_sql("lat", "lon", geo.dlit(r["plat"]), geo.dlit(r["plon"]))
            ).alias("d2"),
            F.lit(int(r["poi_id"])).cast("bigint").alias("poi_id"),
            F.lit(float(r["plat"])).alias("plat"),
            F.lit(float(r["plon"])).alias("plon"),
        )
        for r in pois.collect()
    ]
    if not entries:
        # empty POI dimension: array_min over a zero-struct array
        # would yield a NullType element and fail analysis — no POI
        # means nothing snaps.
        return stays.select(
            "uid", "pdt", "seg_id", "start_s", "end_s", "n_points", "is_stay",
            F.lit(-1).cast("bigint").alias("poi_id"),
            F.col("lat"),
            F.col("lon"),
        )
    n = F.array_min(F.array(*entries))
    hit = F.col("is_stay") & (n["d2"] <= F.lit(radius2))
    return (
        stays.withColumn("__n", n)
        .select(
            "uid", "pdt", "seg_id", "start_s", "end_s", "n_points", "is_stay",
            F.when(hit, F.col("__n.poi_id")).otherwise(F.lit(-1)).alias("poi_id"),
            F.when(hit, F.col("__n.plat")).otherwise(F.col("lat")).alias("lat"),
            F.when(hit, F.col("__n.plon")).otherwise(F.col("lon")).alias("lon"),
        )
    )


def poi_reallocation_oracle(stays_sql: str, pois_cte: str) -> str:
    """``stays_sql``: full stay_points oracle; ``pois_cte`` defines
    ``pois(poi_id, plat, plon)``."""
    d2 = _d2_sql("s.lat", "s.lon", "plat", "plon")
    radius2 = (REALLOC_RADIUS_M * _DEG_PER_M) ** 2
    return (
        f"WITH stays AS ({stays_sql}), {pois_cte}, "
        "snapped AS (SELECT uid, pdt, seg_id, poi_id AS snap_poi, "
        "plat AS snap_lat, plon AS snap_lon FROM ("
        f"SELECT s.uid, s.pdt, s.seg_id, p.poi_id, p.plat, p.plon, "
        f"row_number() OVER (PARTITION BY s.uid, s.pdt, s.seg_id "
        f"ORDER BY {d2}, p.poi_id) AS rn "
        f"FROM stays s CROSS JOIN pois p "
        f"WHERE s.is_stay AND {d2} <= {geo.dlit(radius2)}) WHERE rn = 1) "
        "SELECT s.uid, s.pdt, s.seg_id, s.start_s, s.end_s, s.n_points, "
        "s.is_stay, coalesce(snap_poi, -1) AS poi_id, "
        "coalesce(snap_lat, s.lat) AS lat, coalesce(snap_lon, s.lon) AS lon "
        "FROM stays s LEFT JOIN snapped USING (uid, pdt, seg_id)"
    )


# ---------------------------------------------------------------------------
# 3. route interpolation (f_routing)


def _mode_sql(dialect: str) -> str:
    """Deterministic transport-mode draw per leg.

    p_walk = 1 - 1/(1+exp(5 - km)) (TurkcellRoutingUDF bytecode,
    VelocityModel.estimateVelocity); the uniform draw is the leg hash
    (Q4 determinism fix). Remaining mass splits evenly BIKE/VEHICLE —
    the reference's exact split lives in the missing
    cdrmobilitylib.jar, so the even split is the documented choice.
    """
    key = "concat(uid, '|', cast(pdt as string), '|', cast(leg_id as string))"
    u = f"(({th.md5_int_sql(key, dialect)}) % 1000000) / {geo.dlit(1e6)}"
    km = f"(sqrt({_d2_sql('lat0', 'lon0', 'lat1', 'lon1')}) * {geo.dlit(111.320)})"
    p_walk = f"({geo.dlit(1.0)} - {geo.dlit(1.0)} / ({geo.dlit(1.0)} + exp({geo.dlit(5.0)} - {km})))"
    return (
        f"(case when {u} < {p_walk} then 'WALK' "
        f"when {u} < {p_walk} + ({geo.dlit(1.0)} - {p_walk}) / {geo.dlit(2.0)} "
        "then 'BIKE' else 'VEHICLE' end)"
    )


def route_interpolation(sited: DataFrame) -> DataFrame:
    """Interpolate every consecutive pair of points (a MOVE leg) with
    one point per 900 s, capped at 50 steps (P8 guard), straight-line
    in the planar frame. Output: uid, pdt, leg_id, step, ts_s, lat,
    lon, mode."""
    w = Window.partitionBy("uid", "pdt").orderBy("call_time", "event_id")
    legs = (
        sited.select(
            "uid",
            F.to_date("call_time").alias("pdt"),
            "call_time",
            "event_id",
            F.col("lat").alias("lat1"),
            F.col("lon").alias("lon1"),
        )
        .withColumn("lat0", F.lag("lat1").over(w))
        .withColumn("lon0", F.lag("lon1").over(w))
        .withColumn("t0", F.lag(F.unix_timestamp("call_time")).over(w))
        .withColumn("t1", F.unix_timestamp("call_time"))
        .withColumn("leg_id", F.row_number().over(w) - 1)
        .filter(F.col("lat0").isNotNull() & (F.col("t1") > F.col("t0")))
    )
    n_steps = (
        f"least({MAX_STEPS}, cast(floor((t1 - t0) / {STEP_S}) as bigint))"
    )
    steps = legs.withColumn(
        "step",
        F.explode(
            F.expr(
                f"(case when {n_steps} < 1 then array() "
                f"else sequence(1, {n_steps}) end)"
            )
        ),
    )
    frac = f"(step * {STEP_S} / cast(t1 - t0 as double))"
    mode = _mode_sql("spark")
    return steps.select(
        "uid",
        "pdt",
        "leg_id",
        "step",
        F.expr(f"t0 + step * {STEP_S}").alias("ts_s"),
        F.expr(f"lat0 + (lat1 - lat0) * {frac}").alias("lat"),
        F.expr(f"lon0 + (lon1 - lon0) * {frac}").alias("lon"),
        F.expr(mode).alias("mode"),
    )


def route_interpolation_oracle(sited_cte: str) -> str:
    n_steps = (
        f"least({MAX_STEPS}, CAST(floor((t1 - t0) / {STEP_S}) AS BIGINT))"
    )
    frac = f"(step * {STEP_S} / CAST(t1 - t0 AS DOUBLE))"
    mode = _mode_sql("duckdb")
    return (
        f"{sited_cte}, legs AS (SELECT uid, CAST(call_time AS DATE) AS pdt, "
        "lag(lat) OVER w AS lat0, lag(lon) OVER w AS lon0, "
        "lat AS lat1, lon AS lon1, "
        "lag(CAST(floor(epoch(call_time)) AS BIGINT)) OVER w AS t0, "
        "CAST(floor(epoch(call_time)) AS BIGINT) AS t1, "
        "row_number() OVER w - 1 AS leg_id FROM sited "
        "WINDOW w AS (PARTITION BY uid, CAST(call_time AS DATE) "
        "ORDER BY call_time, event_id)), "
        "steps AS (SELECT legs.*, unnest("
        f"case when {n_steps} < 1 then CAST([] AS BIGINT[]) "
        f"else generate_series(1, {n_steps}) end) AS step "
        "FROM legs WHERE lat0 IS NOT NULL AND t1 > t0) "
        f"SELECT uid, pdt, leg_id, step, t0 + step * {STEP_S} AS ts_s, "
        f"lat0 + (lat1 - lat0) * {frac} AS lat, "
        f"lon0 + (lon1 - lon0) * {frac} AS lon, "
        f"{mode} AS mode FROM steps"
    )


# ---------------------------------------------------------------------------
# 4. faithful trip formatting (TripSegmentationCDR output shape)


_TRIP_SCHEMA = StructType(
    [
        StructField("uid", LongType()),
        StructField("pdt", StringType()),
        StructField("trip_seq", IntegerType()),
        StructField("kind", StringType()),
        StructField("mode", StringType()),
        StructField("distance_m", StringType()),
        StructField("total_time_s", LongType()),
        StructField("start_hms", StringType()),
        StructField("end_hms", StringType()),
        StructField("n_points", IntegerType()),
        StructField("points", StringType()),
    ]
)


def trip_segments_format(
    sited: DataFrame, dist_max_m: float = DIST_MAX_M
) -> DataFrame:
    """Reference-shaped trip rows per (uid, day): STAY/MOVE alternation
    with the "i|HH:mm:ss|lat|lon;..." point-list string encoding
    (TripSegmentationCDR output constants "1|", "|", ";" — SURVEY.md
    §2.9). Distance is formatted "###0.0###"-style (1-4 decimals).

    Pure JVM plan (windows + one hash aggregate): segment ids are a
    running sum over a break flag, per-point strings are codegen'd
    format_string, and the ";"-joined point list is
    array_join(transform(array_sort(collect_list(struct(idx, s))))).
    A previous applyInPandas version paid per-(uid, day)-group pandas
    overhead — thousands of tiny DataFrames; at sf0.01 this plan is
    ~20x faster and at 10^12 rows it is one shuffle + codegen instead
    of a Python round trip. Value-hash-checked against
    trip_segments_oracle (string_agg ORDER BY mirrors the point-list
    codec).

    ``dist_max_m`` defaults to the bytecode's 300 m; wider values
    model coarser stay detection (the reference hardcodes the
    constant, the engine exposes it as config)."""
    d2_thresh = (dist_max_m * _DEG_PER_M) ** 2
    base = sited.select(
        "uid",
        F.to_date("call_time").cast("string").alias("pdt"),
        "call_time",
        "event_id",
        "lat",
        "lon",
    )
    w = Window.partitionBy("uid", "pdt").orderBy("call_time", "event_id")
    prev = base.select(
        "*",
        F.lag("lat").over(w).alias("prev_lat"),
        F.lag("lon").over(w).alias("prev_lon"),
    )
    # the SHARED snippet, not Column ** 2 (which compiles to pow():
    # parity with the oracle's dlat*dlat then rests on the JVM
    # special-casing pow(x, 2) — an unstated 1-ulp dependency at the
    # 300 m break threshold)
    d2 = F.expr(_d2_sql("prev_lat", "prev_lon", "lat", "lon"))
    brk = F.when(F.col("prev_lat").isNull() | (d2 > F.lit(d2_thresh)), 1).otherwise(0)
    seg = prev.withColumn("brk", brk).withColumn(
        "trip_seq", (F.sum("brk").over(w) - 1).cast("int")
    )
    step_m = F.when(F.col("brk") == 1, F.lit(0.0)).otherwise(
        F.expr(geo.haversine_sql("prev_lat", "prev_lon", "lat", "lon"))
    )
    wseg = Window.partitionBy("uid", "pdt", "trip_seq").orderBy(
        "call_time", "event_id"
    )
    pts = seg.select(
        "uid",
        "pdt",
        "trip_seq",
        "call_time",
        F.unix_timestamp("call_time").alias("epoch"),
        F.struct(
            F.row_number().over(wseg).alias("idx"),
            step_m.alias("m"),
            F.format_string(
                "%d|%s|%.6f|%.6f",
                F.row_number().over(wseg),
                F.date_format("call_time", "HH:mm:ss"),
                F.col("lat"),
                F.col("lon"),
            ).alias("s"),
        ).alias("pt"),
    )
    # distance = left-to-right fold over the idx-sorted steps, NOT a
    # hash-aggregate sum: neither Spark nor DuckDB guarantees FP
    # accumulation order through a hash aggregate, and the "###0.0###"
    # formatting would expose a one-ulp difference. The sorted fold is
    # order-pinned on both sides (DuckDB twin: list_reduce over
    # list(... ORDER BY idx)).
    sorted_pts = F.array_sort(F.collect_list("pt"))
    agg = pts.groupBy("uid", "pdt", "trip_seq").agg(
        (F.max("epoch") - F.min("epoch")).alias("total_time_s"),
        F.aggregate(
            sorted_pts, F.lit(0.0), lambda a, x: a + x["m"]
        ).alias("dist"),
        F.date_format(F.min("call_time"), "HH:mm:ss").alias("start_hms"),
        F.date_format(F.max("call_time"), "HH:mm:ss").alias("end_hms"),
        F.count(F.lit(1)).cast("int").alias("n_points"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("pt")), lambda x: x["s"]), ";"
        ).alias("points"),
    )
    kind = F.when(F.col("total_time_s") >= STAY_MIN_S, "STAY").otherwise("MOVE")
    # "###0.0###": %.4f, strip trailing zeros, keep one decimal
    raw = F.format_string("%.4f", F.col("dist"))
    stripped = F.regexp_replace(raw, "0+$", "")
    fmt = F.when(
        F.substring(stripped, -1, 1) == ".", F.concat(stripped, F.lit("0"))
    ).otherwise(stripped)
    return agg.select(
        "uid",
        "pdt",
        "trip_seq",
        kind.alias("kind"),
        F.when(kind == "STAY", "STAY").otherwise("UNKNOWN").alias("mode"),
        fmt.alias("distance_m"),
        "total_time_s",
        "start_hms",
        "end_hms",
        "n_points",
        "points",
    )


# ---------------------------------------------------------------------------
# 5. 24-hour padding (f_organizearray)


def trip_24h_padding(trips: DataFrame) -> DataFrame:
    """Pad each (uid, day) to 00:00:00-23:59:59: insert filler STAY
    rows for interior gaps and a trailing filler to the end of day
    (f_organizearray's fillTime/DateUtils.setHours behaviour,
    SURVEY.md §2.9). Rows-only check.

    Pure JVM plan: one window pass derives each gap (lag of end_hms),
    fillers are a projection of the gapped rows, the trailing filler a
    projection of each day's last row; union + re-sequence with
    row_number. A previous applyInPandas + iterrows version was the
    slowest operator in the suite (~40 s at sf0.01); this is one
    shuffle on (uid, pdt) and codegen everywhere."""
    w = Window.partitionBy("uid", "pdt").orderBy("trip_seq")
    gapped = trips.withColumn(
        "__prev_end", F.coalesce(F.lag("end_hms").over(w), F.lit("00:00:00"))
    )

    def filler(src: DataFrame, start, end, order_seq) -> DataFrame:
        return src.select(
            "uid",
            "pdt",
            order_seq.alias("__oseq"),
            F.lit(0).alias("__sub"),
            F.lit("STAY").alias("kind"),
            F.lit("PAD").alias("mode"),
            F.lit("0.0").alias("distance_m"),
            F.lit(0).cast("long").alias("total_time_s"),
            start.alias("start_hms"),
            end.alias("end_hms"),
            F.lit(0).alias("n_points"),
            F.lit("").alias("points"),
        )

    gaps = filler(
        gapped.filter(F.col("start_hms") > F.col("__prev_end")),
        F.col("__prev_end"),
        F.col("start_hms"),
        F.col("trip_seq"),
    )
    last = (
        gapped.withColumn(
            "__rn", F.row_number().over(w.orderBy(F.desc("trip_seq")))
        )
        .filter((F.col("__rn") == 1) & (F.col("end_hms") < "23:59:59"))
    )
    tail = filler(
        last, F.col("end_hms"), F.lit("23:59:59"), F.col("trip_seq") + 1
    )
    originals = trips.select(
        "uid",
        "pdt",
        F.col("trip_seq").alias("__oseq"),
        F.lit(1).alias("__sub"),
        "kind",
        "mode",
        "distance_m",
        "total_time_s",
        "start_hms",
        "end_hms",
        "n_points",
        "points",
    )
    merged = originals.unionByName(gaps).unionByName(tail)
    wseq = Window.partitionBy("uid", "pdt").orderBy("__oseq", "__sub")
    return merged.withColumn(
        "trip_seq", (F.row_number().over(wseq) - 1).cast("int")
    ).select([f.name for f in trips.schema.fields])


def trip_segments_oracle(
    sited_cte: str, dist_max_m: float = DIST_MAX_M
) -> str:
    """DuckDB twin of trip_segments_format (same window algebra, same
    formatting snippets); enables a full value-hash check where the
    old applyInPandas version allowed only a rows-only check.

    Deliberately %-free: printf/strftime/LIKE patterns are replaced by
    fmt-style format(), TIME casts and ends_with() so a %-templating
    harness can run the SQL verbatim (format('{:.Nf}') verified ==
    printf('%.Nf') on 200k random doubles). Distance is
    list_reduce(list(step_m ORDER BY idx)) — the same left-to-right
    fold as the Spark side's aggregate() over the sorted array, so FP
    accumulation order is pinned on both engines."""
    d2 = _d2_sql("plat", "plon", "lat", "lon")
    d2_thresh = (dist_max_m * _DEG_PER_M) ** 2
    hav = geo.haversine_sql("plat", "plon", "lat", "lon")
    stripped = "regexp_replace(format('{:.4f}', dist), '0+$', '')"
    fmt = (
        f"CASE WHEN ends_with({stripped}, '.') "
        f"THEN {stripped} || '0' "
        f"ELSE {stripped} END"
    )
    # date_trunc floors sub-second parts like Spark's HH:mm:ss format
    hms = "CAST(CAST(date_trunc('second', call_time) AS TIME) AS VARCHAR)"
    return (
        f"{sited_cte}, "
        "lagged AS (SELECT uid, CAST(CAST(call_time AS DATE) AS VARCHAR) AS pdt, "
        "call_time, event_id, lat, lon, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon "
        "FROM sited WINDOW w AS (PARTITION BY uid, CAST(call_time AS DATE) "
        "ORDER BY call_time, event_id)), "
        f"brk AS (SELECT *, CASE WHEN plat IS NULL OR {d2} > {geo.dlit(d2_thresh)} "
        "THEN 1 ELSE 0 END AS brk FROM lagged), "
        "seg AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY uid, pdt "
        "ORDER BY call_time, event_id) - 1 AS INTEGER) AS trip_seq, "
        f"CASE WHEN brk = 1 THEN {geo.dlit(0.0)} ELSE {hav} END AS step_m FROM brk), "
        "idxd AS (SELECT *, CAST(row_number() OVER (PARTITION BY uid, pdt, trip_seq "
        "ORDER BY call_time, event_id) AS INTEGER) AS idx, "
        "CAST(floor(epoch(call_time)) AS BIGINT) AS ep FROM seg), "
        "agg AS (SELECT uid, pdt, trip_seq, "
        "max(ep) - min(ep) AS total_time_s, "
        "list_reduce(list(step_m ORDER BY idx), (a, x) -> a + x) AS dist, "
        "CAST(CAST(date_trunc('second', min(call_time)) AS TIME) AS VARCHAR) AS start_hms, "
        "CAST(CAST(date_trunc('second', max(call_time)) AS TIME) AS VARCHAR) AS end_hms, "
        "CAST(count(*) AS INTEGER) AS n_points, "
        f"string_agg(format('{{}}|{{}}|{{:.6f}}|{{:.6f}}', idx, {hms}, "
        "lat, lon), ';' ORDER BY idx) AS points "
        "FROM idxd GROUP BY uid, pdt, trip_seq) "
        "SELECT uid, pdt, trip_seq, "
        f"CASE WHEN total_time_s >= {STAY_MIN_S} THEN 'STAY' ELSE 'MOVE' END AS kind, "
        f"CASE WHEN total_time_s >= {STAY_MIN_S} THEN 'STAY' ELSE 'UNKNOWN' END AS mode, "
        f"{fmt} AS distance_m, "
        "total_time_s, start_hms, end_hms, n_points, points FROM agg"
    )


def trip_24h_padding_oracle(trips_sql: str) -> str:
    """DuckDB twin of trip_24h_padding over a trips SELECT."""
    filler_cols = (
        "'STAY' AS kind, 'PAD' AS mode, '0.0' AS distance_m, "
        "CAST(0 AS BIGINT) AS total_time_s"
    )
    return (
        f"WITH trips AS ({trips_sql}), "
        "gapped AS (SELECT *, coalesce(lag(end_hms) OVER (PARTITION BY uid, pdt "
        "ORDER BY trip_seq), '00:00:00') AS prev_end, "
        "row_number() OVER (PARTITION BY uid, pdt ORDER BY trip_seq DESC) AS rn_last "
        "FROM trips), "
        "merged AS ("
        "SELECT uid, pdt, trip_seq AS oseq, 1 AS sub, kind, mode, distance_m, "
        "total_time_s, start_hms, end_hms, n_points, points FROM trips "
        "UNION ALL "
        f"SELECT uid, pdt, trip_seq, 0, {filler_cols}, prev_end, start_hms, "
        "CAST(0 AS INTEGER), '' FROM gapped WHERE start_hms > prev_end "
        "UNION ALL "
        f"SELECT uid, pdt, trip_seq + 1, 0, {filler_cols}, end_hms, '23:59:59', "
        "CAST(0 AS INTEGER), '' FROM gapped WHERE rn_last = 1 AND end_hms < '23:59:59') "
        "SELECT uid, pdt, CAST(row_number() OVER (PARTITION BY uid, pdt "
        "ORDER BY oseq, sub) - 1 AS INTEGER) AS trip_seq, kind, mode, distance_m, "
        "total_time_s, start_hms, end_hms, n_points, points FROM merged"
    )


def export_gps_format(trips: DataFrame) -> DataFrame:
    """Reference export_to_gps_format.sql (the interpolation chain's
    final double-explode export): days with more than one trip row
    (``size(route_arr) > 1`` guard) explode their trip list, then each
    trip's "i|time|lat|lon;..." point string splits and explodes to
    one output row per point with '|' rewritten to ',' — reproduced as
    a window count + split + explode, all codegen.

    ``trips`` must be the PADDED trip table
    (``trip_24h_padding(trip_segments_format(...))``): the reference
    reads ``*_trip_routing_array_apd`` — i.e. after 24-h padding — so
    the ``> 1`` guard counts filler STAYs too, and a day with exactly
    one real segment still exports (fillers' empty point strings are
    dropped by the ``pt != ''`` filter)."""
    w = Window.partitionBy("uid", "pdt")
    return (
        trips.withColumn("__ntrips", F.count(F.lit(1)).over(w))
        .filter(F.col("__ntrips") > 1)
        .select(
            "uid",
            "pdt",
            "trip_seq",
            "kind",
            "mode",
            "distance_m",
            "total_time_s",
            "start_hms",
            "end_hms",
            "n_points",
            F.explode(F.split("points", ";")).alias("__pt"),
        )
        .filter(F.col("__pt") != "")
        .select(
            "uid", "pdt", "trip_seq", "kind", "mode", "distance_m",
            "total_time_s", "start_hms", "end_hms", "n_points",
            F.regexp_replace("__pt", "\\|", ",").alias("point_csv"),
        )
    )


def export_gps_format_oracle(trips_sql: str) -> str:
    """DuckDB twin of export_gps_format."""
    return (
        f"WITH trips AS ({trips_sql}), "
        "guarded AS (SELECT *, count(*) OVER (PARTITION BY uid, pdt) AS ntrips "
        "FROM trips), "
        "pts AS (SELECT uid, pdt, trip_seq, kind, mode, distance_m, "
        "total_time_s, start_hms, end_hms, n_points, "
        "unnest(string_split(points, ';')) AS pt FROM guarded WHERE ntrips > 1) "
        "SELECT uid, pdt, trip_seq, kind, mode, distance_m, total_time_s, "
        "start_hms, end_hms, n_points, replace(pt, '|', ',') AS point_csv "
        "FROM pts WHERE pt != ''"
    )


# ---------------------------------------------------------------------------
# 6. TripODStay (registered-only UDF in the reference — implemented)


def trip_od_stay(trips: DataFrame, sites: list[tuple[int, float, float]]) -> DataFrame:
    """OD edges between CONSECUTIVE STAY points of each (uid, day) —
    the reference's ``TripODStay`` UDF, which is registered
    (initial_hive_commands_od.json:19) but invoked by no shipped SQL;
    semantics recovered from bytecode
    (lib/cdrmobilitylibjica.jar!TripODStay.evaluate):

    - only trip rows with kind == 'STAY' participate; the bytecode
      parses row[IDX_DATA] as ONE "i|time|lat|lon" point (its length-4
      split guard skips anything else), i.e. it expects a
      single-representative-point stay (the post-reallocation shape).
      The engine generalizes to the stay's FIRST point — identical to
      the bytecode whenever the stay has one point, non-degenerate on
      raw multi-point segmentations (documented deviation);
    - each point gets a ccode "<lat>-<lon>" (string concat of the
      raw point-string fields, StringBuilder lat + '-' + lon) and a
      gcode = containing zone (PolygonGeo.contains -> engine
      nearest-site zone, same argmin the oracle mirrors);
    - every consecutive qualifying pair emits
      [origin_ccode, dest_ccode, origin_gcode, dest_gcode, ts].

    ``ts`` deviation (documented): the bytecode re-parses the point
    time with SimpleDateFormat("yyyy-MM-dd HH:mm:ss"), but the point
    strings carry bare "HH:mm:ss" — the reference UDF as shipped
    would throw into its catch-all and truncate output. The engine
    emits the intended 'pdt HH:mm:ss' timestamp instead.
    """
    from . import zones as _zones

    pts = (
        trips.filter(F.col("kind") == "STAY")
        .withColumn("__p", F.split(F.split("points", ";")[0], "\\|"))
        .filter(F.size("__p") == 4)
        .select(
            "uid",
            "pdt",
            "trip_seq",
            F.col("__p")[1].alias("hms"),
            F.col("__p")[2].alias("lat_s"),
            F.col("__p")[3].alias("lon_s"),
        )
        .withColumn("lat", F.col("lat_s").cast("double"))
        .withColumn("lon", F.col("lon_s").cast("double"))
        .withColumn(
            "gcode", _zones.nearest_site_struct("lat", "lon", sites)["zone_id"]
        )
        .withColumn("ccode", F.concat_ws("-", "lat_s", "lon_s"))
    )
    w = Window.partitionBy("uid", "pdt").orderBy("trip_seq")
    return (
        pts.withColumn("prev_ccode", F.lag("ccode").over(w))
        .withColumn("prev_gcode", F.lag("gcode").over(w))
        .filter(F.col("prev_ccode").isNotNull())
        .select(
            "uid",
            "pdt",
            F.col("prev_ccode").alias("origin_ccode"),
            F.col("ccode").alias("dest_ccode"),
            F.col("prev_gcode").alias("origin_gcode"),
            F.col("gcode").alias("dest_gcode"),
            F.concat_ws(" ", "pdt", "hms").alias("ts"),
        )
    )


def trip_od_stay_oracle(trips_sql: str, towers_cte: str) -> str:
    """DuckDB twin of trip_od_stay; ``towers_cte`` defines
    ``towers(zone_id, tlat, tlon)``."""
    d2 = geo.planar_d2_sql("lat", "lon", "t.tlat", "t.tlon")
    return (
        f"WITH trips AS ({trips_sql}), {towers_cte}, "
        "pts0 AS (SELECT uid, pdt, trip_seq, "
        "string_split(string_split(points, ';')[1], '|') AS p "
        "FROM trips WHERE kind = 'STAY'), "
        "pts AS (SELECT uid, pdt, trip_seq, p[2] AS hms, p[3] AS lat_s, "
        "p[4] AS lon_s, CAST(p[3] AS DOUBLE) AS lat, CAST(p[4] AS DOUBLE) AS lon "
        "FROM pts0 WHERE len(p) = 4), "
        "zoned AS (SELECT pts.*, (SELECT t.zone_id FROM towers t "
        f"ORDER BY {d2}, t.zone_id LIMIT 1) AS gcode, "
        "lat_s || '-' || lon_s AS ccode FROM pts), "
        "lagged AS (SELECT *, lag(ccode) OVER w AS prev_ccode, "
        "lag(gcode) OVER w AS prev_gcode FROM zoned "
        "WINDOW w AS (PARTITION BY uid, pdt ORDER BY trip_seq)) "
        "SELECT uid, pdt, prev_ccode AS origin_ccode, ccode AS dest_ccode, "
        "prev_gcode AS origin_gcode, gcode AS dest_gcode, "
        "pdt || ' ' || hms AS ts FROM lagged WHERE prev_ccode IS NOT NULL"
    )


# ---------------------------------------------------------------------------
# 7. Trajectory simplification (Douglas-Peucker)

SIMPLIFY_EPS_M = 500.0


def _dp_keep_mask(lat, lon, eps_m: float):
    """Iterative Douglas-Peucker over one ts-ordered trace.

    Distances are point-to-SEGMENT (clamped projection) in the local
    planar metric (geo.planar_d2_np scaled to meters by M_PER_DEG) —
    the same projection that defines the engine's Voronoi zones, so
    "within eps of the simplified line" means the same thing here as
    everywhere else. Pure numpy; each stack segment's distances are
    one vectorized pass, no per-point Python.
    """
    import numpy as np

    from ..functions.geo import LON_SCALE, M_PER_DEG

    n = len(lat)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    x = np.asarray(lon, dtype=np.float64) * (LON_SCALE * M_PER_DEG)
    y = np.asarray(lat, dtype=np.float64) * M_PER_DEG
    eps2 = float(eps_m) * float(eps_m)
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        px, py = x[i + 1 : j], y[i + 1 : j]
        dx, dy = x[j] - x[i], y[j] - y[i]
        seg2 = dx * dx + dy * dy
        if seg2 == 0.0:
            d2 = (px - x[i]) ** 2 + (py - y[i]) ** 2
        else:
            t = ((px - x[i]) * dx + (py - y[i]) * dy) / seg2
            t = np.clip(t, 0.0, 1.0)
            d2 = (px - (x[i] + t * dx)) ** 2 + (py - (y[i] + t * dy)) ** 2
        k = int(np.argmax(d2))
        if d2[k] > eps2:
            m = i + 1 + k
            keep[m] = True
            stack.append((i, m))
            stack.append((m, j))
    return keep


def trajectory_simplify(
    pts: DataFrame,
    eps_m: float = SIMPLIFY_EPS_M,
    uid_col: str = "uid",
    ts_col: str = "call_time",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(uid, seq, ts, lat, lon): Douglas-Peucker simplification of
    each user's trace — the GPS-compression pass a 100 TB trajectory
    store runs before archiving (dropped points are guaranteed within
    ``eps_m`` of the kept polyline, endpoints always survive).

    Rows-only by design: DP's recursive max-deviation split has no
    SQL form (the split point depends on a data-dependent argmax per
    segment); correctness is pytest-pinned against an independent
    recursive implementation plus the deviation-bound property.

    Scale shape: ONE shuffle (groupBy uid), then per-trace numpy
    inside applyInPandas — Arrow-batched, no per-row Python. Traces
    are ts-ordered with a (ts, lat, lon) total order so resumes and
    repartitions reproduce identical output. Per-user state is the
    trace itself (bounded by the per-user event count, the same bound
    trajectory_collect already carries); a multi-year unbounded trace
    would be windowed by day first, as trip_segments does.
    """
    if eps_m < 0:
        raise ValueError(f"eps_m must be >= 0, got {eps_m}")

    schema = (
        f"{uid_col} long, seq int, ts timestamp, lat double, lon double"
    )

    # no type hints: grouped map is applyInPandas' default eval type,
    # and hints on only some arguments make Spark warn on every call
    def simplify(key, pdf):
        pdf = pdf.sort_values(
            [ts_col, lat_col, lon_col], kind="mergesort"
        ).reset_index(drop=True)
        mask = _dp_keep_mask(
            pdf[lat_col].to_numpy(), pdf[lon_col].to_numpy(), eps_m
        )
        out = pdf.loc[mask, [uid_col, ts_col, lat_col, lon_col]].copy()
        out.insert(1, "seq", out.index.to_numpy(dtype="int32"))
        return out.rename(
            columns={ts_col: "ts", lat_col: "lat", lon_col: "lon"}
        )

    return (
        pts.select(uid_col, ts_col, lat_col, lon_col)
        .groupBy(uid_col)
        .applyInPandas(simplify, schema)
    )
